package perfbench

import graft.core.CodeDoc
import graft.index.IndexBuilder
import graft.query.Searcher
import org.apache.spark.sql.{Dataset, SparkSession}

import scala.collection.mutable

/** `build`: the seeded source table is indexed again and again into fresh
  * directories with the `graft.Bench` configuration. Exercises analysis,
  * map-side encoding, the posting shuffle and the parquet writes; no query
  * layer runs.
  */
object BuildWorkload {
  /** A run's build time is the median of at least this many builds. */
  val MinBuilds = 4

  def run(spark: SparkSession, run: Run): Unit = {
    val o = run.o
    val cfg = Inputs.baseConfig(o.cores)
    val table: Dataset[CodeDoc] = Common.setup(run) { rep =>
      if (rep > 0) Stats.deleteDir(s"${o.work}/src-${rep - 1}")
      val table = Inputs.writeTable(spark, o.seed, s"${o.work}/src-$rep", o.cores, Inputs.BuildDocs)
      // warm-up belongs to set-up, not to the builds: build times keep
      // falling for several full-size builds while the JIT compiles the
      // build's hot loops, so each set-up builds the table once
      IndexBuilder.build(spark, table, s"${o.work}/warm", cfg)
      Stats.deleteDir(s"${o.work}/warm")
      table
    }
    val srcBytes = Inputs.sourceBytes(table)
    val tel = if (o.trace) Some(new Telemetry(spark)) else None
    var lastDir = ""

    /** Builds for `seconds`; returns build walls and per-build layer maps. */
    def measure(seconds: Double, minBuilds: Int, traced: Boolean, tag: String)
        : (Seq[Double], Seq[Map[String, Double]]) = {
      val walls = mutable.ArrayBuffer.empty[Double]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      Common.loop(seconds, minBuilds) { i =>
        val out = s"${o.work}/build-$tag-$i"
        val mark = if (traced) tel.get.mark() else 0
        run.attempt("IndexBuilder.build") {
          val (meta, s) = Stats.time(IndexBuilder.build(spark, table, out, cfg))
          walls += s
          if (traced) {
            val jobs = tel.get.jobsSince(mark)
            val st = Telemetry.totals(tel.get.stagesOf(jobs), o.cores)
            layers += Common.buildPhases(jobs, s) ++ Map(
              "stage.build.cpu_s" -> st.cpuS, "stage.build.gc_s" -> st.gcS,
              "stage.build.shuffle_write_bytes" -> st.shuffleWrite.toDouble,
              "stage.build.spill_bytes" -> st.spill.toDouble,
              "stage.build.max_over_median_task" -> st.maxOverMedian)
          }
          run.check(meta.nDocs == Inputs.BuildDocs, s"build nDocs ${meta.nDocs}")
          val counts = Common.indexCounts(spark, run, out)
          run.sameLayout("bytes_per_source_byte", counts("index.bytes") / srcBytes)
        }
        if (lastDir.nonEmpty) Stats.deleteDir(lastDir)
        lastDir = out
      }
      (walls.toSeq, layers.toSeq)
    }

    val (walls, _) =
      if (o.trace) measure(o.seconds / 2, 2, traced = false, "u")
      else measure(o.seconds, MinBuilds, traced = false, "u")
    run.e2e("ops_per_s") = Inputs.BuildDocs / Stats.median(walls)
    run.e2e("p50_ms") = Stats.median(walls) * 1e3
    val (tail, label) = Stats.tail(walls)
    run.e2e("tail_ms") = tail * 1e3
    run.e2e("bytes_per_source_byte") = run.layout("bytes_per_source_byte")
    run.note(f"build_docs_per_s = ${run.e2e("ops_per_s")}%.1f docs/s (higher is better), " +
      f"${walls.length} builds of ${Inputs.BuildDocs} docs; tail = $label; walls (s): " +
      walls.map(w => f"$w%.2f").mkString(", "))
    run.note(f"index_bytes_per_doc_byte = ${run.e2e("bytes_per_source_byte")}%.5f (lower is better)")

    if (o.trace) {
      val (tWalls, layers) = measure(o.seconds / 2, 2, traced = true, "t")
      Common.medians(layers).foreach { case (k, v) => run.layer(k) = v }
      run.layer("trace_overhead") = Stats.median(tWalls) / Stats.median(walls)
      Common.analysisProbe(run, o.seed)
      val counts = Common.indexCounts(spark, run, lastDir)
      Common.recordIndexLayers(run, counts)
      Common.codecProbe(run, Common.poolRuns(spark, lastDir, Inputs.queryPool(o.seed)).values,
        encode = true, decode = false)
      UpdateProbe.trace(spark, run, tel.get, lastDir, table, Inputs.BuildDocs)
      tel.get.close()
    }
    checkStats(spark, run, table, lastDir)
  }

  /** The last index's N, average lengths and the df of a seeded sample of
    * pool terms equal direct counts over the source table.
    */
  private def checkStats(spark: SparkSession, run: Run, table: Dataset[CodeDoc], dir: String): Unit = {
    import spark.implicits._
    val sample = new scala.util.Random(run.o.seed).shuffle(Inputs.queryPool(run.o.seed).toList).take(20)
    val keys = Oracle.keysOf(sample)
    val docs = table.map(d => OracleDoc(0L, live = true, d.lang, d.repo, d.path, d.content))
    val st = Oracle.stats(docs, keys, _ => true)
    val searcher = new Searcher(spark, dir)
    try {
      run.check(searcher.meta.nDocs == st.n, s"nDocs ${searcher.meta.nDocs} vs ${st.n}")
      run.check(searcher.meta.avgLen == st.avgLen, s"avgLen ${searcher.meta.avgLen} vs ${st.avgLen}")
      val df = searcher.dfOf(keys)
      run.check(df == st.df, s"df of ${keys.size} sampled keys differs")
    } finally searcher.close()
  }
}
