package perfbench

import graft.core.Hit
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `batch`: batches of seeded pool queries through `searchManyDistributed`,
  * each batch one Spark job that bypasses the run cache. Exercises job
  * scheduling, the executor-side batch kernel, salt-group placement and the
  * driver merge; the driver kernel stays idle. Every result must equal
  * `Searcher.search` on the same query.
  */
object BatchWorkload {
  val BatchSize = 64
  val WarmBatches = 8
  val K = ServeProbe.K

  def run(spark: SparkSession, run: Run): Unit = {
    val o = run.o
    val rng = new scala.util.Random(o.seed)
    val queries = Inputs.queryPool(o.seed).map(_.q)
    val batches = IndexedSeq.fill(64)(rng.shuffle(queries).take(BatchSize))
    // batch latency keeps falling for about ten batches after the first
    // (JIT), so each set-up runs WarmBatches of them
    val s = ServeProbe.setup(spark, run,
      warm = s => batches.takeRight(WarmBatches).foreach(s.searcher.searchManyDistributed(_, K)))
    val counts = Common.indexCounts(spark, run, s.dir)
    run.e2e("bytes_per_source_byte") = counts("index.bytes") / Inputs.sourceBytes(s.table)
    ServeProbe.poolPostings(run, s.searcher, s.pool)
    val tel = if (o.trace) Some(new Telemetry(spark)) else None
    val results = mutable.ArrayBuffer.empty[(Seq[String], Seq[Array[Hit]])]

    def measure(seconds: Double, traced: Boolean): (Seq[Double], Seq[Map[String, Double]]) = {
      val lat = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      Common.loop(seconds) { i =>
        val batch = batches(i % batches.length)
        val mark = if (traced) tel.get.mark() else 0
        run.attempt("searchManyDistributed") {
          val (res, t) = Stats.time(s.searcher.searchManyDistributed(batch, K))
          lat += t
          results += ((batch, res))
          if (traced) {
            val jobs = tel.get.jobsSince(mark)
            val jobS = jobs.map(_.wallS).sum
            val st = Telemetry.totals(tel.get.stagesOf(jobs), o.cores)
            layers += Map("query.batch_job_s" -> jobS, "query.batch_driver_s" -> (t - jobS),
              "stage.batch.tasks" -> st.tasks.toDouble, "stage.batch.cpu_s" -> st.cpuS,
              "stage.batch.gc_s" -> st.gcS, "stage.batch.shuffle_read_bytes" -> st.shuffleRead.toDouble,
              "stage.batch.max_over_median_task" -> st.maxOverMedian)
          }
        }
      }
      (lat.toSeq, layers.toSeq)
    }

    val (lat, _) = measure(if (o.trace) o.seconds / 2 else o.seconds, traced = false)
    run.e2e("ops_per_s") = BatchSize / Stats.median(lat)
    run.e2e("p50_ms") = Stats.median(lat) * 1e3
    val (tail, label) = Stats.tail(lat)
    run.e2e("tail_ms") = tail * 1e3
    run.note(f"batch_qps = ${run.e2e("ops_per_s")}%.1f q/s (higher is better), batch_p50_ms = " +
      f"${run.e2e("p50_ms")}%.1f ms, batch_${label}_ms = ${tail * 1e3}%.1f ms (lower is better); " +
      f"${lat.length} batches of $BatchSize")

    if (o.trace) {
      val (tLat, layers) = measure(o.seconds / 2, traced = true)
      Common.medians(layers).foreach { case (k, v) => run.layer(k) = v }
      run.layer("trace_overhead") = Stats.median(tLat) / Stats.median(lat)
      Common.recordIndexLayers(run, counts)
      ServeProbe.trace(spark, run, s, tel.get, o.seconds / 2)
      tel.get.close()
    }
    val reference = mutable.Map.empty[String, Array[Hit]]
    for ((batch, res) <- results; (q, hits) <- batch.zip(res)) {
      val want = reference.getOrElseUpdate(q, s.searcher.search(q, K))
      run.check(Common.sameHits(hits, want), s"batch '$q' != search")
    }
    ServeProbe.checkOracle(spark, run, s)
    s.searcher.close()
  }
}
