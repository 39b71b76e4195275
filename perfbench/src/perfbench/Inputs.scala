package perfbench

import vigil.Synth.GoldenTurn

/** Row count, code-point count and content hash of a generated input. */
final case class Fingerprint(rows: Long, chars: Long, hash: String) {
  override def toString: String = s"$rows $chars $hash"
}

object Fingerprint {
  def of(lines: Iterator[(String, String)]): Fingerprint = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var rows = 0L; var chars = 0L
    lines.foreach { case (row, text) =>
      md.update(row.getBytes("UTF-8")); md.update('\n'.toByte)
      rows += 1; chars += text.codePointCount(0, text.length)
    }
    Fingerprint(rows, chars, md.digest().take(8).map("%02x".format(_)).mkString)
  }
}

/** Generated transcripts with their construction-time goldens. */
final case class Transcripts(turns: IndexedSeq[GoldenTurn], leftOut: Int) {
  /** Conversation count and length quantiles, for the record. */
  def shape: String = {
    val lens = turns.groupBy(_.conv_id).values.map(_.size).toVector.sorted
    def q(p: Double) = lens(math.min(lens.size - 1, (p * lens.size).toInt))
    s"convs=${lens.size} len_p50=${q(0.5)} len_p90=${q(0.9)} len_p99=${q(0.99)} len_max=${lens.last}"
  }
  def fingerprint: Fingerprint = Fingerprint.of(turns.iterator.map { g =>
    (s"${g.conv_id}\t${g.turn_idx}\t${g.role}\t${g.text}\t${g.tool}\t${g.ts.getTime}", g.text)
  })
  def rows: Seq[vigil.Turn] =
    turns.map(g => vigil.Turn(g.conv_id, g.turn_idx, g.role, g.text, g.tool, g.ts))
}

final case class Doc(id: Long, text: String)

/** A document corpus with planted near-duplicate clusters.
  * `clusterMin(id)` is the smallest id of the planted cluster holding `id`
  * (the id itself for a document outside every cluster); `planted` lists
  * every (base, copy) pair, smaller id first.
  */
final case class Documents(docs: IndexedSeq[Doc], clusterMin: Map[Long, Long],
    planted: Seq[(Long, Long)]) {
  def fingerprint: Fingerprint =
    Fingerprint.of(docs.iterator.map(d => (s"${d.id}\t${d.text}", d.text)))
}

object Inputs {
  /** Synth filler sentences per template slot: ~370 chars per turn. */
  val LongRepeat = 8
  /** ~84 chars per turn. */
  val ShortRepeat = 1
  /** Synth's own cap on the power-law conversation-length tail. */
  val MaxConvLen = 40

  /** The RG matcher `\bRG[:\s]*[\d.-]+` (case-insensitive) fires inside
    * an `sk-` API key whose body starts with `rg` and a digit: the key body
    * leaks and `contem_pii` flips. Decided from the input text alone.
    */
  private val RgInKey = "sk-[Rr][Gg][0-9]".r
  def rgInKey(text: String): Boolean = RgInKey.findFirstIn(text).isDefined

  /** A fixed conversation, the same under every seed, whose first turn
    * hits the RG-in-key fault. It rides along in every transcript input so
    * the fault is counted as exactly one failed operation per run. The
    * goldens follow Synth's `api_key` and `filler` templates.
    */
  val Probe: IndexedSeq[GoldenTurn] = {
    val f = Seq(
      "Solicito informações sobre o processo administrativo em andamento.",
      "Aguardo retorno sobre o pedido o mais breve possível.",
      "Peço acesso aos documentos públicos referentes à obra.",
      "Gostaria de saber o prazo para resposta desta solicitação.")
    val texts = Seq(
      (s"${f(0)} ${f(1)} token sk-Rg8n0ptvaIOpSAWiuz05GPgL usado.",
        s"${f(0)} ${f(1)} token <KEY> usado.", "api_key"),
      (f(2), f(2), "filler"), (f(3), f(3), "filler"), (f(1), f(1), "filler"))
    texts.zipWithIndex.map { case ((t, s, fam), i) =>
      GoldenTurn("probe-000000", i, if (i % 2 == 0) "user" else "assistant",
        t, "", new java.sql.Timestamp(1767225600000L + i * 60000L), fam,
        exp_contem_pii = false, exp_tipos = Nil, exp_scrubbed = s,
        exp_lang = "pt", exp_toxic = false, exp_quality_fail = false)
    }.toIndexedSeq
  }

  /** SplitMix64 finalizer: a well-spread 64-bit value from (seed, i). */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Exactly `n` Synth turns for `seed`, then the [[Probe]] conversation.
    *
    * Conversation `i` is Synth's conversation `i % 100` (which fixes its
    * profile: Synth assigns profiles by index mod 100) under its own Synth
    * seed `mix(seed, i)`, renamed `conv-i`. One Synth seed for the whole
    * input would give every conversation nearly the same length: Synth
    * seeds conversation `ci` with `java.util.Random(seed * 1000003 + ci)`,
    * whose first draw — the one that sets the length — moves by ~1e-4 per
    * `ci`. The last conversation is cut at `n` turns. Turns that would hit
    * the RG-in-key fault only under some seeds are left out (counted in
    * `leftOut`), so the failed share of a run does not depend on the seed;
    * the fault itself is counted through the probe.
    */
  def transcripts(seed: Long, n: Int, repeat: Int): Transcripts = {
    val kept = scala.collection.mutable.ArrayBuffer[GoldenTurn]()
    var leftOut = 0
    var i = 0
    while (kept.size < n) {
      val ci = i % 100
      val convId = f"conv-$i%06d"
      vigil.Synth.corpus(ci + 1, mix(seed, i), MaxConvLen, repeat)
        .filter(_.conv_id == f"conv-$ci%06d")
        .foreach { g =>
          if (rgInKey(g.text)) leftOut += 1
          else if (kept.size < n) kept += g.copy(conv_id = convId,
            ts = new java.sql.Timestamp(1767225600000L + i * 3600000L + g.turn_idx * 60000L))
        }
      i += 1
    }
    Transcripts(kept.toIndexedSeq ++ Probe, leftOut)
  }

  // ---- documents with planted near-duplicate clusters ----

  val Docs = 3000
  val Vocab = 60000
  val Clusters = 150
  val Decoys = 75

  /** Lower-case ASCII word-set Jaccard: `lower(text)` split on single
    * spaces, empty strings dropped, distinct — the repo's oracle definition.
    */
  def jaccard(a: String, b: String): Double = {
    def set(t: String) =
      t.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty).toSet
    val sa = set(a); val sb = set(b)
    val inter = sa.count(sb.contains)
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** `Docs` documents of 80–120 distinct words drawn from a `Vocab`-word
    * vocabulary. `Clusters` planted clusters of 2–6 documents: a base and
    * copies with 1–3 words substituted (J ≥ 0.93 against the base).
    * `Decoys` decoy pairs with 9–14 words substituted (0.70 ≤ J < 0.87),
    * which LSH proposes and verification must reject. Ids are a seeded
    * permutation, so clusters are spread over the whole id range.
    */
  def documents(seed: Long): Documents = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
    val vocab: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < Vocab) {
        val len = 4 + rng.nextInt(6)
        seen += Iterator.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    def freshWords(k: Int, avoid: scala.collection.Set[String]): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet[String]()
      while (out.size < k) {
        val w = vocab(rng.nextInt(Vocab))
        if (!avoid.contains(w)) out += w
      }
      out.toSeq
    }
    def baseDoc(): Array[String] =
      freshWords(80 + rng.nextInt(41), Set.empty).toArray
    def substitute(words: Array[String], r: Int): Array[String] = {
      val out = words.clone()
      val have = words.toSet
      val pos = scala.collection.mutable.LinkedHashSet[Int]()
      while (pos.size < r) pos += rng.nextInt(words.length)
      pos.zip(freshWords(r, have)).foreach { case (p, w) => out(p) = w }
      out
    }
    // slot -> words; groups of slots that form planted clusters
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val groups = scala.collection.mutable.ArrayBuffer[Seq[Int]]()
    val plantedSlots = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    (0 until Clusters).foreach { _ =>
      val base = baseDoc()
      val b = texts.size
      texts += base.mkString(" ")
      val copies = (1 to 1 + rng.nextInt(5)).map { _ =>
        val c = texts.size
        texts += substitute(base, 1 + rng.nextInt(3)).mkString(" ")
        plantedSlots += ((b, c))
        c
      }
      groups += (b +: copies)
    }
    (0 until Decoys).foreach { _ =>
      val base = baseDoc()
      texts += base.mkString(" ")
      texts += substitute(base, 9 + rng.nextInt(6)).mkString(" ")
    }
    while (texts.size < Docs) texts += baseDoc().mkString(" ")
    // seeded permutation of ids (Fisher–Yates)
    val ids = Array.tabulate(texts.size)(_.toLong)
    var i = ids.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val clusterMin = scala.collection.mutable.Map[Long, Long]()
    ids.foreach(id => clusterMin(id) = id)
    groups.foreach { g =>
      val m = g.map(ids(_)).min
      g.foreach(s => clusterMin(ids(s)) = m)
    }
    val planted = plantedSlots.map { case (b, c) =>
      (math.min(ids(b), ids(c)), math.max(ids(b), ids(c)))
    }.toSeq
    val docs = texts.indices.map(s => Doc(ids(s), texts(s))).sortBy(_.id)
    Documents(docs, clusterMin.toMap, planted)
  }
}
