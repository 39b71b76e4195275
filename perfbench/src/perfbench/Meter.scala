package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Executor-side cost of one span: everything the tasks of its jobs did. */
final case class Cost(
    wallS: Double, jobs: Int, cpuS: Double, shuffleMb: Double,
    spillMb: Double, gcS: Double, peakTaskMemMb: Double)

/** Spans recorded from outside the engine.
  *
  * [[span]] names the code running on the calling thread through the Spark
  * local property [[SpanKey]]; every job started inside carries it, so the
  * listener attributes each job — and the tasks of its stages — to the span
  * that was open when the job started. Nothing inside the engine is
  * instrumented. Costs are kept in memory and read after the listener bus
  * has drained.
  */
final class Meter(spark: SparkSession) extends SparkListener {
  val SpanKey = "perfbench.span"

  private final class Acc {
    var jobs = 0; var cpuNs = 0L; var shuffleB = 0L; var spillB = 0L
    var gcMs = 0L; var peakMem = 0L
  }
  private val accs = scala.collection.mutable.Map[String, Acc]()
  private val stageSpan = scala.collection.mutable.Map[Int, String]()

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val name = Option(j.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse("-")
    accs.getOrElseUpdate(name, new Acc).jobs += 1
    j.stageInfos.foreach(si => stageSpan(si.stageId) = name)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) {
      val a = accs.getOrElseUpdate(stageSpan.getOrElse(t.stageId, "-"), new Acc)
      a.cpuNs += m.executorCpuTime
      a.shuffleB += m.shuffleWriteMetrics.bytesWritten
      a.spillB += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  private def drain(): Unit =
    org.apache.spark.VigilSparkShim.waitListenerBusEmpty(spark.sparkContext)

  /** Runs `body` as span `name` and returns its result with its cost. */
  def span[T](name: String)(body: => T): (T, Cost) = {
    drain()
    synchronized { accs.remove(name) }
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    val out = try body finally sc.setLocalProperty(SpanKey, null)
    val wall = (System.nanoTime() - t0) / 1e9
    drain()
    val a = synchronized { accs.remove(name).getOrElse(new Acc) }
    (out, Cost(wall, a.jobs, a.cpuNs / 1e9, a.shuffleB / 1e6, a.spillB / 1e6,
      a.gcMs / 1e3, a.peakMem / 1e6))
  }
}

object Meter {
  /** Single-thread register-only host calibration: xorshift64 steps per ms
    * over `ms` milliseconds (the BenchExtra/ScalingBench kernel). A
    * reference figure that tells a slow host window from a slow change.
    */
  def calibStepsPerMs(ms: Long = 500L): Double = {
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var n = 0L
    while (System.nanoTime() - t0 < ms * 1000000L) {
      var i = 0
      while (i < 1000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      n += 1000000
    }
    if (x == 42L) System.err.println("unreachable")
    n / ((System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
