package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one workload per process.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *                  [--t0-ms EPOCH_MS] [--expect-fp "ROWS CHARS HASH"]
  *   perfbench.Main --fingerprints FROM TO
  *
  * A closed loop with one client: one pass at a time. After set-up (input
  * generation, session, warm passes until the walls stop falling) passes
  * repeat for S seconds; the last stdout line is one JSON object with the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1), and
  * the operations attempted and failed by a checked extra pass.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "rows_per_s" -> "1/s",
    "task_cpu_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB",
    "peak_task_mem_mb" -> "MB")

  val Spans: Seq[String] = Seq("exprs.score", "decide.windowed", "tableio.write",
    "tableio.plain_write", "tableio.resume", "pipeline.run", "pipeline.view",
    "pipeline.resume", "dedup.signatures", "dedup.lsh", "dedup.verify", "dedup.cc")

  /** Every per-layer metric; a layer the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("kernel.clean_ns_per_turn" -> "ns", "kernel.pii_ns_per_turn" -> "ns",
      "kernel.lang_ns_per_turn" -> "ns") ++
      Spans.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.cpu_s" -> "s",
        s"$s.jobs" -> "count", s"$s.shuffle_mb" -> "MB", s"$s.spill_mb" -> "MB",
        s"$s.gc_s" -> "s")) ++
      Seq("tableio.write_cpu_ratio" -> "ratio", "tableio.written_mb" -> "MB",
        "tableio.files" -> "count", "tableio.lineage_rows" -> "count",
        "dedup.candidates" -> "count", "dedup.verified_pairs" -> "count",
        "dedup.verify_yield" -> "ratio", "dedup.components" -> "count",
        "trace.overhead_ratio" -> "ratio")

  /** Texts per kernel span: a fixed prefix of the workload's input. */
  val KernelTexts = 3000
  /** Warm passes run for at least the workload's `warmMinS`, then stop
    * after two in a row that are not 3% faster than every earlier one (one
    * slow pass is noise, not a plateau), after `WarmMax` passes, or when
    * another pass as long as the last would end after its `warmCapS`.
    */
  val WarmMax = 12
  val MinPasses = 2

  private def info(s: String): Unit = println(s"perfbench: $s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.headOption.contains("--fingerprints")) {
      val Array(_, from, to) = args
      for (w <- Workload.Names; s <- from.toLong to to.toLong)
        println(s"$w $s ${Workload.fingerprint(w, s)}")
      return
    }
    val name = opts("workload")
    require(Workload.Names.contains(name), s"unknown workload $name")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val t0Ms = opts.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)

    val c0 = System.nanoTime()
    val calibBefore = Meter.calibStepsPerMs()
    val calibS = (System.nanoTime() - c0) / 1e9

    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter(spark)
    spark.sparkContext.addSparkListener(meter)

    val w = Workload(name, spark, work, seed)
    val fp = w.fingerprint
    info(s"input $name seed=$seed rows=${fp.rows} chars=${fp.chars} hash=${fp.hash} ${w.shape}")
    opts.get("expect-fp").foreach { exp =>
      if (exp != fp.toString) {
        System.err.println(s"perfbench: input fingerprint $fp differs from the " +
          s"recorded $exp for $name seed $seed; regenerate with " +
          "`python3 perfbench/run.py --regen-fingerprints` if the change is intended")
        spark.stop()
        sys.exit(3)
      }
    }

    def timedPass(): Cost = {
      val c = meter.span("pass")(w.pass())
      w.cleanup()
      c._2
    }
    // the checked pass is the first, cold, warm-up pass
    val c0Check = System.nanoTime()
    val verdict = w.check()
    w.cleanup()
    val warm = scala.collection.mutable.ArrayBuffer((System.nanoTime() - c0Check) / 1e9)
    val warmStart = System.nanoTime()
    var flat = 0
    def warmS = (System.nanoTime() - warmStart) / 1e9
    while (warm.size < 2 || warmS < w.warmMinS ||
        (flat < 2 && warm.size <= WarmMax && warm.last < w.warmCapS - warmS)) {
      val wall = timedPass().wallS
      flat = if (warm.size < 2 || wall < 0.97 * warm.tail.min) 0 else flat + 1
      warm += wall
    }
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - calibS
    info("warm pass walls s (checked pass first): " + warm.map(x => f"$x%.3f").mkString(" "))

    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val passes = scala.collection.mutable.ArrayBuffer[Cost]()
        while (passes.size < MinPasses || elapsed < seconds) passes += timedPass()
        info(s"${passes.size} timed pass walls s: " +
          passes.map(c => f"${c.wallS}%.3f").mkString(" "))
        def med(f: Cost => Double) = Meter.median(passes.map(f).toSeq)
        val values = Map("setup_s" -> setupS, "rows_per_s" -> w.rows / med(_.wallS),
          "task_cpu_s" -> med(_.cpuS), "jobs" -> med(_.jobs.toDouble),
          "shuffle_mb" -> med(_.shuffleMb), "peak_task_mem_mb" -> med(_.peakTaskMemMb))
        EndToEnd.map { case (n, u) => (n, u, values(n)) }
      } else {
        val rounds = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
        val texts = w.kernelTexts.take(KernelTexts)
        Workload.kernel(texts) // untimed: the Spark passes need not have run every kernel path
        while (rounds.isEmpty || elapsed < seconds / 2)
          rounds += Workload.kernel(texts) ++ w.traceRound(meter)
        val plain = scala.collection.mutable.ArrayBuffer[Double]()
        val traced = scala.collection.mutable.ArrayBuffer[Double]()
        while (plain.isEmpty || elapsed < seconds) {
          val t1 = System.nanoTime(); meter.span("pass")(w.pass())
          plain += (System.nanoTime() - t1) / 1e9; w.cleanup()
          val t2 = System.nanoTime(); w.tracedPass(meter)
          traced += (System.nanoTime() - t2) / 1e9; w.cleanup()
        }
        info(s"${rounds.size} trace rounds; pass walls untraced s: " +
          plain.map(x => f"$x%.3f").mkString(" ") + "; traced s: " +
          traced.map(x => f"$x%.3f").mkString(" "))
        val values = rounds.flatMap(_.keys).distinct.map { k =>
          k -> Meter.median(rounds.flatMap(_.get(k)).toSeq)
        }.toMap + ("trace.overhead_ratio" ->
          Meter.median(traced.toSeq) / Meter.median(plain.toSeq))
        val unknown = values.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        PerLayer.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
      }

    spark.stop()
    val calibAfter = Meter.calibStepsPerMs()
    info(f"host calibration (xorshift64 steps/ms, reference only): " +
      f"before=$calibBefore%.0f after=$calibAfter%.0f")
    info("check: " + (verdict.notes ++ verdict.problems).mkString("; "))
    val ms = metrics.map { case (n, u, v) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${verdict.correct}, "attempted": ${verdict.attempted}, """ +
      s""""failed": ${verdict.failed}, "metrics": {$ms}}""")
    sys.exit(0)
  }
}
