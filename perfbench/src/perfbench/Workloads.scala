package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import vigil.{Decide, Pipeline, TableIO}
import vigil.dedup.Dedup

/** One benchmark workload over inputs generated from a seed and
  * materialized to Parquet during set-up; the engine only sees the tables.
  */
abstract class Workload(val spark: SparkSession, val work: File) {
  /** Input rows (turns or documents) per pass. */
  def rows: Long
  def fingerprint: Fingerprint
  /** Texts the single-thread kernel spans run over. */
  def kernelTexts: IndexedSeq[String]
  /** Make-up of the generated input, for the record. */
  def shape: String
  /** Time the warm passes take at least and at most; see [[Main.WarmMax]]. */
  def warmMinS: Double = 0.0
  def warmCapS: Double
  /** One timed pass, exactly as a user runs it. */
  def pass(): Unit
  /** The same pass with each layer call inside its own span; the wall
    * against [[pass]]'s gives the tracing overhead.
    */
  def tracedPass(m: Meter): Unit
  /** One round of per-layer spans; metric name -> value. */
  def traceRound(m: Meter): Map[String, Double]
  /** Checks one more pass's outputs against truth computed apart from the engine. */
  def check(): Verdict
  /** Untimed, after every pass and span: drops caches and checkpoint blocks. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def fresh(name: String): String = {
    val f = new File(work, name)
    Workload.delete(f)
    f.getPath
  }

  /** Writes `rows` as `files` Parquet files of contiguous input ranges. */
  protected def materialize[T <: Product : scala.reflect.ClassTag : scala.reflect.runtime.universe.TypeTag](
      rows: Seq[T], name: String, files: Int): DataFrame = {
    val path = fresh(name)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files)).write.parquet(path)
    spark.read.parquet(path)
  }

  protected def spanCost(prefix: String, c: Cost): Map[String, Double] = Map(
    s"$prefix.wall_s" -> c.wallS, s"$prefix.cpu_s" -> c.cpuS,
    s"$prefix.jobs" -> c.jobs.toDouble, s"$prefix.shuffle_mb" -> c.shuffleMb,
    s"$prefix.spill_mb" -> c.spillMb, s"$prefix.gc_s" -> c.gcS)

  /** A span of a trace round, followed by [[cleanup]]. */
  protected def span[T](m: Meter, name: String)(body: => T): (T, Map[String, Double]) = {
    val (out, c) = m.span(name)(body)
    cleanup()
    (out, spanCost(name, c))
  }
}

object Workload {
  /** `neardup_planted` runs on its own for diagnosis; BENCHMARK.json does not
    * list it (see README).
    */
  val Names: Seq[String] = Seq("pipeline_short", "transcripts_long", "neardup_planted")

  /** Turns per transcript input (the fixed probe conversation comes on top). */
  val ShortTurns = 4000
  val LongTurns = 3000
  val MinJaccard = 0.9
  /** Decide configuration of the Synth corpus: Portuguese is the target. */
  val Cfg: Decide.Config = Decide.Default.copy(targetLang = "pt")

  def fingerprint(name: String, seed: Long): Fingerprint = name match {
    case "pipeline_short" => Inputs.transcripts(seed, ShortTurns, Inputs.ShortRepeat).fingerprint
    case "transcripts_long" => Inputs.transcripts(seed, LongTurns, Inputs.LongRepeat).fingerprint
    case "neardup_planted" => Inputs.documents(seed).fingerprint
  }

  def apply(name: String, spark: SparkSession, work: File, seed: Long): Workload =
    name match {
      case "pipeline_short" => new PipelineShort(spark, work, seed)
      case "transcripts_long" => new TranscriptsLong(spark, work, seed)
      case "neardup_planted" => new NeardupPlanted(spark, work, seed)
    }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }

  /** Every file under `dir`, relative path -> size. */
  def files(dir: File): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString -> f.length).toMap
  }

  /** Single-thread kernel cost per text, no Spark: TextClean, then PiiCore
    * and LangModel over the cleaned text.
    */
  def kernel(texts: IndexedSeq[String]): Map[String, Double] = {
    val n = texts.size
    val cleaned = new Array[String](n)
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < n) { cleaned(i) = vigil.TextClean.clean(texts(i)); i += 1 }
    val t1 = System.nanoTime()
    i = 0
    while (i < n) { sink += vigil.PiiCore.analyze(cleaned(i)).scrubbed.length; i += 1 }
    val t2 = System.nanoTime()
    i = 0
    while (i < n) { sink += vigil.LangModel.scoreBoth(cleaned(i))._1.length; i += 1 }
    val t3 = System.nanoTime()
    if (sink == 42L) System.err.println("unreachable")
    Map("kernel.clean_ns_per_turn" -> (t1 - t0).toDouble / n,
      "kernel.pii_ns_per_turn" -> (t2 - t1).toDouble / n,
      "kernel.lang_ns_per_turn" -> (t3 - t2).toDouble / n)
  }
}

/** `Decide.decideWindowed` over long Synth turns into a noop sink: the
  * per-turn kernel and the fused scoring expression dominate. Its trace
  * round also runs the dedup layer over a generated document corpus with
  * planted clusters ([[NeardupPlanted]]), warmed and checked first.
  */
final class TranscriptsLong(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work) {
  private val input = Inputs.transcripts(seed, Workload.LongTurns, Inputs.LongRepeat)
  private val df = materialize(input.rows, "input", files = 4)
  private val cfg = Workload.Cfg
  val rows: Long = input.turns.size.toLong
  def fingerprint: Fingerprint = input.fingerprint
  def kernelTexts: IndexedSeq[String] = input.turns.map(_.text)
  def shape: String = input.shape
  /** Its walls keep falling for ~12 short passes while C2 compiles the
    * kernel, with a false plateau around the fourth.
    */
  override val warmMinS = 14.0
  val warmCapS = 20.0

  def pass(): Unit = noop(Decide.decideWindowed(df, cfg))
  def tracedPass(m: Meter): Unit = m.span("decide.windowed")(pass())

  private lazy val dedup: NeardupPlanted = {
    val d = new NeardupPlanted(spark, new File(work, "dedup"), seed)
    val v = d.check()
    require(v.correct, "dedup layer outputs differ from the planted truth: " +
      v.problems.mkString("; "))
    (1 to 4).foreach { _ => d.pass(); d.cleanup() }
    d
  }

  def traceRound(m: Meter): Map[String, Double] =
    span(m, "exprs.score")(noop(Decide.scoreTurns(df, cfg)))._2 ++
      span(m, "decide.windowed")(pass())._2 ++ dedup.traceRound(m)

  def check(): Verdict = {
    val v = Checks.transcripts(input.turns,
      TurnOut.collect(Decide.decideWindowed(df, cfg)), cfg)
    v.copy(notes = v.notes :+ s"left_out_rg_in_key=${input.leftOut}")
  }
}

/** `Pipeline.run` into a fresh path with the view consumed, then a second
  * `Pipeline.run` over the same path (a resume with nothing left to do),
  * view consumed again. Short turns: TableIO writes, lineage, re-reads and
  * the salted conversation aggregation dominate.
  */
final class PipelineShort(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work) {
  private val input = Inputs.transcripts(seed, Workload.ShortTurns, Inputs.ShortRepeat)
  /** One input file, as one ingest batch: each write then holds one file per bucket. */
  private val df = materialize(input.rows, "input", files = 1)
  private val cfg = Workload.Cfg
  private val snap = "snap-1"
  val rows: Long = input.turns.size.toLong
  def fingerprint: Fingerprint = input.fingerprint
  def kernelTexts: IndexedSeq[String] = input.turns.map(_.text)
  def shape: String = input.shape

  /** Its walls plateau after two or three warm passes. */
  val warmCapS = 14.0

  private def run(path: String): DataFrame = Pipeline.run(spark, df, path, snap, cfg)
  /** The table a pass writes; [[cleanup]] removes it, outside the timing. */
  private val passPath = new File(work, "pipe")

  override def cleanup(): Unit = {
    super.cleanup()
    Workload.delete(passPath)
  }

  def pass(): Unit = {
    val path = passPath.getPath
    noop(run(path))
    noop(run(path))
  }

  def tracedPass(m: Meter): Unit = {
    val path = passPath.getPath
    val v = m.span("pipeline.run")(run(path))._1
    m.span("pipeline.view")(noop(v))
    m.span("pipeline.resume")(noop(run(path)))
  }

  def traceRound(m: Meter): Map[String, Double] = {
    val score = span(m, "exprs.score")(noop(Decide.scoreTurns(df, cfg)))._2
    val tw = fresh("tableio")
    val write = span(m, "tableio.write")(
      TableIO.writeScored(spark, Decide.scoreTurns(df, cfg), tw, snap))._2
    val written = Workload.files(new File(tw, "data"))
      .filter { case (p, _) => p.endsWith(".parquet") }
    val lineageRows = spark.read.parquet(s"$tw/_lineage").count()
    val resume = span(m, "tableio.resume")(
      TableIO.writeScored(spark, Decide.scoreTurns(df, cfg), tw, snap))._2
    val pw = fresh("plain")
    val plain = span(m, "tableio.plain_write")(
      Decide.scoreTurns(df, cfg)
        .withColumn("snapshot", lit(snap))
        .withColumn("bucket", TableIO.bucketOf(64))
        .write.partitionBy("snapshot", "bucket").parquet(pw))._2
    val pp = fresh("trace-pipe")
    val (view, run1) = span(m, "pipeline.run")(run(pp))
    val viewCost = span(m, "pipeline.view")(noop(view))._2
    val resumeRun = span(m, "pipeline.resume")(noop(run(pp)))._2
    Seq(tw, pw, pp).foreach(p => Workload.delete(new File(p)))
    score ++ write ++ resume ++ plain ++ run1 ++ viewCost ++ resumeRun ++ Map(
      "tableio.write_cpu_ratio" ->
        write("tableio.write.cpu_s") / plain("tableio.plain_write.cpu_s"),
      "tableio.written_mb" -> written.values.sum / 1e6,
      "tableio.files" -> written.size.toDouble,
      "tableio.lineage_rows" -> lineageRows.toDouble)
  }

  /** Per-turn goldens on the first run's view, plus: every `_lineage`
    * counter equals a recount of the written data, the resume's view equals
    * the first view as a row multiset, and the resume adds no data files.
    */
  def check(): Verdict = {
    val path = fresh("check")
    def multiset(rows: Array[org.apache.spark.sql.Row]): Map[String, Int] =
      rows.groupBy(_.toSeq.map(deepString).mkString("\u0001")).view.mapValues(_.length).toMap
    val v1 = run(path).persist()
    val first = v1.collect()
    val out = TurnOut.collect(v1)
    v1.unpersist()
    val rows1 = multiset(first)
    val lineage = spark.read.parquet(s"$path/_lineage")
      .filter(col("input_snapshot_id") === snap)
      .select("bucket", "n_turns", "kept", "dropped", "scrubbed").collect()
      .map(r => r.getInt(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val recount = spark.read.parquet(s"$path/data")
      .filter(col("snapshot") === snap)
      .groupBy("bucket")
      .agg(count(lit(1)), sum(col("keep_turn").cast("long")),
        sum((!col("keep_turn")).cast("long")),
        sum((col("scrubbed_text") =!= col("clean")).cast("long")))
      .collect().map(r => r.getInt(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val filesBefore = Workload.files(new File(path, "data"))
    val rows2 = multiset(run(path).collect())
    val filesAfter = Workload.files(new File(path, "data"))
    Workload.delete(new File(path))

    val problems = Seq(
      (lineage.length != lineage.map(_._1).distinct.length) ->
        s"_lineage holds ${lineage.length} rows for ${lineage.map(_._1).distinct.length} buckets",
      (lineage.toMap != recount) -> {
        val diff = (lineage.toMap.keySet ++ recount.keySet).toSeq.sorted
          .filter(b => lineage.toMap.get(b) != recount.get(b)).take(3)
        s"_lineage counters differ from a recount in buckets $diff: " +
          diff.map(b => s"$b: ${lineage.toMap.get(b)} vs ${recount.get(b)}").mkString(", ")
      },
      (rows1 != rows2) -> s"resume view differs from the first view (${rows1.values.sum} vs ${rows2.values.sum} rows)",
      (filesAfter.keySet != filesBefore.keySet) ->
        s"resume changed the data files: ${(filesAfter.keySet -- filesBefore.keySet).size} added"
    ).collect { case (true, m) => m }
    val v = Checks.transcripts(input.turns, out, cfg)
    v.copy(problems = v.problems ++ problems,
      notes = v.notes ++ Seq(s"left_out_rg_in_key=${input.leftOut}",
        s"lineage_buckets=${lineage.length}", s"data_files=${filesBefore.size}"))
  }

  private def deepString(x: Any): String = x match {
    case s: scala.collection.Seq[_] => s.map(deepString).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(deepString).mkString("(", ",", ")")
    case null => "null"
    case o => o.toString
  }
}

/** `Dedup.neardupVerified` (J ≥ 0.9) then `Dedup.connectedComponents` over
  * a generated corpus with planted clusters: shuffle- and iteration-heavy,
  * no PII kernel. Runs on its own, but BENCHMARK.json does not list it: its
  * runs could not be made steady (see README). [[TranscriptsLong]]'s trace
  * round runs its spans.
  */
final class NeardupPlanted(spark: SparkSession, work: File, seed: Long)
    extends Workload(spark, work) {
  private val input = Inputs.documents(seed)
  private val df = materialize(input.docs, "input", files = 4)
  val rows: Long = input.docs.size.toLong
  def fingerprint: Fingerprint = input.fingerprint
  def kernelTexts: IndexedSeq[String] = input.docs.map(_.text)
  def shape: String = s"clusters=${Inputs.Clusters} planted_pairs=${input.planted.size} decoys=${Inputs.Decoys}"

  /** Its walls keep falling for ~10 passes while C2 compiles. */
  val warmCapS = 30.0

  private def pairs(): DataFrame = Dedup.neardupVerified(df, "text", "id", Workload.MinJaccard)
  private def components(p: DataFrame): DataFrame = Dedup.connectedComponents(df, "id", p)

  def pass(): Unit = noop(components(pairs()))

  def tracedPass(m: Meter): Unit = {
    val p = m.span("dedup.verify")(pairs())._1
    m.span("dedup.cc")(noop(components(p)))
  }

  def traceRound(m: Meter): Map[String, Double] = {
    val sigs = span(m, "dedup.signatures")(noop(Dedup.computeSignatures(
      df, "text", "id", bands = 24, rowsPerBand = 6, shingleK = 1, seed = 42L)))._2
    val (cands, lsh) = span(m, "dedup.lsh")(Dedup.minhashLsh(df, "text", "id",
      bands = 24, rowsPerBand = 6, shingleK = 1, seed = 42L,
      minEst = Workload.MinJaccard - 0.2).count())
    val (verified, verify) = span(m, "dedup.verify")(pairs().collect())
    val pp = fresh("pairs")
    spark.createDataFrame(verified.toSeq.map(r => (r.getLong(0), r.getLong(1))))
      .toDF("id_a", "id_b").write.parquet(pp)
    val (comps, cc) = span(m, "dedup.cc")(
      components(spark.read.parquet(pp)).collect())
    sigs ++ lsh ++ verify ++ cc ++ Map(
      "dedup.candidates" -> cands.toDouble,
      "dedup.verified_pairs" -> verified.length.toDouble,
      "dedup.verify_yield" -> verified.length.toDouble / math.max(1L, cands),
      "dedup.components" -> comps.map(_.getLong(1)).distinct.length.toDouble)
  }

  def check(): Verdict = {
    val p = pairs()
    val got = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val comps = components(p).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    cleanup()
    Checks.neardup(input, got, comps, Workload.MinJaccard)
  }
}
