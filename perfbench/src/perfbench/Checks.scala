package perfbench

import vigil.Synth.GoldenTurn

/** Outcome of checking one run's outputs. An operation is one input turn or
  * document. `unexplained` counts failed operations that no known fault
  * accounts for; `problems` holds run-level failures and examples.
  */
final case class Verdict(attempted: Long, failed: Long, unexplained: Long,
    problems: Seq[String], notes: Seq[String]) {
  def correct: Boolean = unexplained == 0 && problems.isEmpty
}

/** One decided turn as the engine returned it. */
final case class TurnOut(contemPii: Boolean, tipos: Seq[String],
    scrubbed: String, qualityPass: Boolean, toxic: Boolean, lang: String,
    majorityLang: String, dropConv: Boolean, keep: Boolean)

object TurnOut {
  val Columns: Seq[String] = Seq("conv_id", "turn_idx", "contem_pii",
    "tipos_detectados", "scrubbed_text", "quality_pass", "toxic", "lang",
    "majority_lang", "drop_conversation", "keep")

  /** (conv_id, turn_idx) -> output, from rows selected as [[Columns]]. */
  def collect(df: org.apache.spark.sql.DataFrame): Map[(String, Int), TurnOut] =
    df.select(Columns.map(org.apache.spark.sql.functions.col): _*).collect()
      .map { r =>
        (r.getString(0), r.getInt(1)) -> TurnOut(r.getBoolean(2),
          r.getSeq[String](3).toSeq, r.getString(4), r.getBoolean(5),
          r.getBoolean(6), r.getString(7), r.getString(8), r.getBoolean(9),
          r.getBoolean(10))
      }.toMap
}

object Checks {
  val MinF1 = 0.99

  /** Per-turn and conversation-level outputs against Synth's
    * construction-time goldens. A turn fails on any mismatch of
    * `contem_pii`, `tipos_detectados`, byte-exact `scrubbed_text`, `toxic`,
    * a promised quality failure, or its conversation's `majority_lang` /
    * `drop_conversation` (`Synth.convGolden`). Per-turn `lang` is tallied,
    * not counted: Synth's `pt` promise does not hold for every random API
    * key. A failure on a turn whose text hits the RG-in-key fault is
    * explained; any other failure is not. Keep/drop F1 — the repo's
    * definition: `contem_pii` against the golden, positive = PII — must
    * reach [[MinF1]]. The F1 of the final `keep` flag (positive = keep, over
    * conversations with a golden) is reported, not gated: Synth promises
    * nothing about quality verdicts on turns it does not mark as junk.
    */
  def transcripts(golden: IndexedSeq[GoldenTurn],
      out: Map[(String, Int), TurnOut], cfg: vigil.Decide.Config): Verdict = {
    val conv = vigil.Synth.convGolden(golden, cfg.targetLang,
      cfg.maxConvPiiDensity, cfg.minMajorityFrac)
    var failed = 0L; var unexplained = 0L; var langOff = 0
    var tp = 0; var fp = 0; var fn = 0
    var ktp = 0; var kfp = 0; var kfn = 0
    val examples = scala.collection.mutable.ArrayBuffer[String]()
    golden.foreach { g =>
      val why = out.get((g.conv_id, g.turn_idx)) match {
        case None => Seq("missing")
        case Some(o) =>
          if (g.exp_lang.nonEmpty && o.lang != g.exp_lang) langOff += 1
          val c = conv.get(g.conv_id)
          if (o.contemPii && g.exp_contem_pii) tp += 1
          else if (o.contemPii) fp += 1
          else if (g.exp_contem_pii) fn += 1
          c.foreach { case (_, _, drop) =>
            val expKeep = !g.exp_quality_fail && !g.exp_toxic && !drop
            if (o.keep && expKeep) ktp += 1
            else if (o.keep) kfp += 1
            else if (expKeep) kfn += 1
          }
          Seq(
            (o.contemPii != g.exp_contem_pii) -> s"contem_pii=${o.contemPii}",
            (o.tipos != g.exp_tipos) -> s"tipos=${o.tipos}",
            (o.scrubbed != g.exp_scrubbed) -> s"scrubbed=${o.scrubbed}",
            (o.toxic != g.exp_toxic) -> s"toxic=${o.toxic}",
            (g.exp_quality_fail && o.qualityPass) -> "quality_pass=true",
            c.exists(_._1 != o.majorityLang) -> s"majority_lang=${o.majorityLang}",
            c.exists(_._3 != o.dropConv) -> s"drop_conversation=${o.dropConv}"
          ).collect { case (true, m) => m }
      }
      if (why.nonEmpty) {
        failed += 1
        if (!Inputs.rgInKey(g.text)) {
          unexplained += 1
          if (examples.size < 5)
            examples += s"${g.conv_id}/${g.turn_idx} [${g.family}] ${why.mkString("; ")}"
        }
      }
    }
    def f1Of(tp: Int, fp: Int, fn: Int): Double =
      if (tp == 0) (if (fp + fn == 0) 1.0 else 0.0) else 2.0 * tp / (2 * tp + fp + fn)
    val f1 = f1Of(tp, fp, fn)
    val problems =
      (if (f1 < MinF1) Seq(f"keep/drop F1 $f1%.4f < $MinF1") else Nil) ++
        examples.map("unexplained failure: " + _)
    Verdict(golden.size, failed, unexplained, problems,
      Seq(f"keep_drop_f1=$f1%.5f", f"final_keep_f1=${f1Of(ktp, kfp, kfn)}%.5f",
        s"conversations_with_golden=${conv.size}",
        s"turn_lang_mismatches=$langOff"))
  }

  /** Near-dup outputs against the planted truth. A document fails when its
    * component is not the smallest id of its planted cluster, when it sits
    * in an emitted pair whose word-set Jaccard is below `minJ` (or differs
    * from the reported one), or when a planted pair holding it is missing.
    */
  def neardup(truth: Documents, pairs: Seq[(Long, Long, Double)],
      components: Seq[(Long, Long)], minJ: Double): Verdict = {
    val text = truth.docs.iterator.map(d => d.id -> d.text).toMap
    val bad = scala.collection.mutable.Set[Long]()
    val examples = scala.collection.mutable.ArrayBuffer[String]()
    def fail(ids: Seq[Long], msg: => String): Unit = {
      bad ++= ids
      if (examples.size < 5) examples += msg
    }
    val comp = components.groupBy(_._1)
    truth.docs.foreach { d =>
      val got = comp.get(d.id).map(_.map(_._2))
      if (!got.contains(Seq(truth.clusterMin(d.id))))
        fail(Seq(d.id), s"doc ${d.id}: component $got, expected ${truth.clusterMin(d.id)}")
    }
    pairs.foreach { case (a, b, j) =>
      val ours = (for (ta <- text.get(a); tb <- text.get(b))
        yield Inputs.jaccard(ta, tb)).getOrElse(-1.0)
      if (a >= b || ours < minJ || math.abs(ours - j) > 1e-12)
        fail(Seq(a, b), s"pair ($a,$b): reported J=$j, word-set J=$ours")
    }
    val emitted = pairs.iterator.map(p => (p._1, p._2)).toSet
    truth.planted.foreach { case (a, b) =>
      if (!emitted.contains((a, b))) fail(Seq(a, b), s"planted pair ($a,$b) not emitted")
    }
    val n = truth.docs.size.toLong
    val failed = bad.count(text.contains).toLong
    Verdict(n, failed, failed, examples.map("failure: " + _).toSeq,
      Seq(s"pairs=${pairs.size}", s"planted_pairs=${truth.planted.size}"))
  }
}
