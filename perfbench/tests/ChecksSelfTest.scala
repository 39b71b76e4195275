package perfbench

/** Checker self-tests, no Spark: each checker passes outputs built from the
  * truth and catches one planted wrong answer — an altered scrubbed turn, a
  * wrong component label, an emitted pair below J = 0.9.
  *
  *   python3 perfbench/run.py --self-test
  */
object ChecksSelfTest {
  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val cfg = Workload.Cfg
    val t = Inputs.transcripts(seed = 7L, n = 400, repeat = 1)
    val conv = vigil.Synth.convGolden(t.turns, cfg.targetLang,
      cfg.maxConvPiiDensity, cfg.minMajorityFrac)
    val truthOut = t.turns.map { g =>
      val (lang, _, drop) = conv.getOrElse(g.conv_id, ("pt", 0.0, false))
      (g.conv_id, g.turn_idx) -> TurnOut(g.exp_contem_pii, g.exp_tipos,
        g.exp_scrubbed, !g.exp_quality_fail, g.exp_toxic, g.exp_lang, lang, drop,
        !g.exp_quality_fail && !g.exp_toxic && !drop)
    }.toMap
    val clean = Checks.transcripts(t.turns, truthOut, cfg)
    expect(s"transcripts: truth passes (${clean.failed} failed)", clean.failed == 0 && clean.correct)

    val victim = t.turns.find(_.family == "email").get
    val key = (victim.conv_id, victim.turn_idx)
    val altered = truthOut.updated(key,
      truthOut(key).copy(scrubbed = truthOut(key).scrubbed.replace("<EMAIL>", "<EMAIL> ")))
    val v1 = Checks.transcripts(t.turns, altered, cfg)
    expect("transcripts: one altered scrubbed turn is one unexplained failure",
      v1.failed == 1 && v1.unexplained == 1 && !v1.correct)

    val probe = Inputs.Probe.head
    val pkey = (probe.conv_id, probe.turn_idx)
    val leaked = truthOut.updated(pkey, truthOut(pkey).copy(contemPii = true,
      tipos = Seq("rg"), scrubbed = probe.text.replace("Rg8", "<RG>")))
    val v2 = Checks.transcripts(t.turns, leaked, cfg)
    expect("transcripts: the RG-in-key probe fails and is explained",
      v2.failed == 1 && v2.unexplained == 0 && v2.correct)

    val d = Inputs.documents(seed = 7L)
    val truthPairs = d.planted.map { case (a, b) =>
      val ta = d.docs(a.toInt).text; val tb = d.docs(b.toInt).text
      (a, b, Inputs.jaccard(ta, tb))
    }
    val comps = d.docs.map(x => (x.id, d.clusterMin(x.id)))
    val n0 = Checks.neardup(d, truthPairs, comps, Workload.MinJaccard)
    expect(s"neardup: truth passes (${n0.failed} failed)", n0.failed == 0 && n0.correct)

    val moved = d.planted.head._2
    val wrongLabel = comps.map { case (id, c) => if (id == moved) (id, id) else (id, c) }
    val n1 = Checks.neardup(d, truthPairs, wrongLabel, Workload.MinJaccard)
    expect("neardup: one wrong component label is caught", n1.failed == 1 && !n1.correct)

    // a near miss: a copy of document 0 with 8 of its words replaced
    val base = d.docs.head
    val words = base.text.split(" ")
    val nearMiss = Doc(d.docs.size.toLong,
      words.zipWithIndex.map { case (w, i) => if (i < 8) w + "x" else w }.mkString(" "))
    val d2 = d.copy(docs = d.docs :+ nearMiss,
      clusterMin = d.clusterMin + (nearMiss.id -> nearMiss.id))
    val low = (base.id, nearMiss.id, Inputs.jaccard(base.text, nearMiss.text))
    val n2 = Checks.neardup(d2, truthPairs :+ low,
      comps :+ (nearMiss.id -> nearMiss.id), Workload.MinJaccard)
    expect(f"neardup: an emitted pair at J=${low._3}%.3f is caught",
      low._3 < Workload.MinJaccard && n2.failed == 2 && !n2.correct)

    if (failures > 0) sys.exit(1)
  }
}
