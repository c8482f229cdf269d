package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, work: String)

/** One run's outcome: operation counts, metrics, exact counts, report lines. */
final class Run(val o: Opts) {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Counts that must repeat exactly for the same seed and code. */
  val exact = mutable.LinkedHashMap.empty[String, Double]
  /** Counts of the on-disk layout (bytes, blocks): a difference for the same
    * seed and code is flagged in the report; it is not a wrong result.
    */
  val layout = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.ArrayBuffer.empty[String]

  /** Count one checked operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failed <= 20) report += s"FAIL $what"
    }
  }

  /** Run one operation, counting a throw as a failed operation. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        check(ok = false, s"$what threw $e")
        None
    }

  /** Record an exact count; a different value within the run is a failure. */
  def exactly(name: String, v: Double): Unit = exact.get(name) match {
    case Some(prev) => check(prev == v, s"$name repeated as $v, first $prev")
    case None => exact(name) = v
  }

  /** Record a layout count; a different value within the run is flagged. */
  def sameLayout(name: String, v: Double): Unit = layout.get(name) match {
    case Some(prev) => if (prev != v) note(s"FLAG layout count $name repeated as $v, first $prev")
    case None => layout(name) = v
  }

  def note(line: String): Unit = report += line
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt, kv("work"))
    val run = new Run(o)
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def at(): Double = (System.currentTimeMillis() - t0) / 1e3
    val spinBefore = (graft.Bench.spinSentinelMs(), graft.Bench.spinSentinelMtMs())
    val tSpin = at()
    val spark = session(o)
    val tSession = at()
    var tWork = 0.0
    try {
      o.workload match {
        case "build" => BuildWorkload.run(spark, run)
        case "batch" => BatchWorkload.run(spark, run)
      }
      tWork = at()
    } finally spark.stop()
    val tStop = at()
    val spinAfter = (graft.Bench.spinSentinelMs(), graft.Bench.spinSentinelMtMs())
    run.note(f"JVM timeline (s): sentinel $tSpin%.1f, session $tSession%.1f, workload $tWork%.1f, " +
      f"stop $tStop%.1f, end ${at()}%.1f")
    run.note(f"load sentinel (ms, 1 thread / all cores): before ${spinBefore._1}%.1f / " +
      f"${spinBefore._2}%.1f, after ${spinAfter._1}%.1f / ${spinAfter._2}%.1f")
    run.report.foreach(println)
    println("RESULT " + resultJson(run))
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (2 * o.cores).toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The result line for run.py: operation counts, the measured metrics
    * (per-layer when traced) by name, and the exact and layout counts. Names
    * and units are checked against BENCHMARK.json by run.py.
    */
  private def resultJson(run: Run): String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    s"""{"attempted": ${run.attempted}, "failed": ${run.failed}, """ +
      s""""metrics": ${obj(if (run.o.trace) run.layer else run.e2e)}, """ +
      s""""exact": ${obj(run.exact)}, "layout": ${obj(run.layout)}}"""
  }
}
