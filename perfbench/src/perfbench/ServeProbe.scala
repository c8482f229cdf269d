package perfbench

import graft.core.{BM25, Hit}
import graft.index.IndexBuilder
import graft.query.{Kernel, QueryPlan, Searcher, TopK}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import scala.collection.mutable

/** The serve path: a base index and a searcher warmed over the seeded
  * pool, the ExactScorer oracle check, and the traced interactive loop. The
  * pool's working set fits the searcher's run cache, so the driver kernel,
  * block decode, dictionary and fq membership do the work.
  */
object ServeProbe {
  val K = 10
  val OracleSample = 4

  final class Setup(val dir: String, val table: org.apache.spark.sql.Dataset[graft.core.CodeDoc],
                    val searcher: Searcher, val pool: IndexedSeq[Query]) {
    /** Each query's first result; every later call must return the same. */
    val expected = mutable.Map.empty[Query, Array[Hit]]
  }

  /** Corpus, base index, a searcher warmed over the pool, then `warm`. */
  def setup(spark: SparkSession, run: Run, warm: Setup => Unit): Setup = {
    val o = run.o
    val pool = Inputs.queryPool(o.seed)
    var prev: Option[Setup] = None
    Common.setup(run) { rep =>
      prev.foreach { p => p.searcher.close(); Stats.deleteDir(p.dir) }
      val table = Inputs.writeTable(spark, o.seed, s"${o.work}/src-$rep", o.cores)
      val dir = s"${o.work}/base-$rep"
      IndexBuilder.build(spark, table, dir, Inputs.baseConfig(o.cores))
      val searcher = new Searcher(spark, dir)
      searcher.searchMany(pool.map(_.q), K) // one job fetches every pool term's runs
      // two passes of the measured call itself, so the kernel is compiled
      // for `search`, not for the batch path above
      for (_ <- 0 until 2; q <- pool) searcher.search(q.q, K, fq = q.fq)
      val s = new Setup(dir, table, searcher, pool)
      warm(s)
      prev = Some(s)
      s
    }
  }

  /** The interactive path, traced on the batch workload's warm searcher:
    * one client calls `Searcher.search(q, 10, fq)` over the pool for
    * `seconds`. Warm serving must run no Spark job.
    */
  def trace(spark: SparkSession, run: Run, s: Setup, tel: Telemetry, seconds: Double): Unit = {
    val layers = new Layers(spark, s)
    val order = new scala.util.Random(run.o.seed).shuffle(s.pool)
    val lat = mutable.ArrayBuffer.empty[Double]
    val mark = tel.mark()
    Common.loop(seconds) { i =>
      val q = order(i % order.length)
      run.attempt(s"search '${q.q}'") {
        val (hits, t) = Stats.time(s.searcher.search(q.q, K, fq = q.fq))
        lat += t
        run.check(Common.sameHits(hits, s.expected.getOrElseUpdate(q, hits)),
          s"search '${q.q}' changed between calls")
        layers.probe(q, t, hits)
      }
    }
    val jobs = tel.jobsSince(mark).length
    run.check(jobs == 0, s"warm serve ran $jobs Spark jobs")
    layers.record(run)
    run.layer("query.spark_jobs_per_query") = jobs.toDouble / lat.length
    Common.codecProbe(run, layers.runs.values, encode = false, decode = true)
    val (tail, label) = Stats.tail(lat.toSeq)
    run.note(f"serve_p50_ms = ${Stats.median(lat.toSeq) * 1e3}%.3f ms, serve_${label}_ms = " +
      f"${tail * 1e3}%.3f ms (lower is better, traced, ${lat.length} queries)")
  }

  /** Planned postings (summed df) per pool query: an exact count. */
  def poolPostings(run: Run, searcher: Searcher, pool: Seq[Query]): Unit = {
    val ps = pool.map(q => searcher.dfOf(Common.keysOfQuery(q.q)).values.sum.toDouble)
    run.exactly("query.pool_planned_postings_p50", Stats.median(ps))
    run.exactly("query.pool_planned_postings_sum", ps.sum)
  }

  /** A seeded sample of pool queries against the ExactScorer oracle: exact
    * docIds and exact scores.
    */
  def checkOracle(spark: SparkSession, run: Run, s: Setup): Unit = {
    import spark.implicits._
    val sample = new scala.util.Random(run.o.seed + 1).shuffle(s.pool.toList).take(OracleSample)
    val ids = spark.read.parquet(s"${s.dir}/docstats").select("docId", "repo", "path", "commit")
    val docs = s.table.toDF().join(ids, Seq("repo", "path", "commit"))
      .select(col("docId").as("id"), lit(true).as("live"), col("lang"), col("repo"),
        col("path"), col("content")).as[OracleDoc].persist()
    val st = Oracle.stats(docs, Oracle.keysOf(sample), _ => true)
    val oracle = Oracle.topK(docs, sample, K, st)
    sample.zip(oracle).foreach { case (q, want) =>
      val got = s.expected.getOrElseUpdate(q, s.searcher.search(q.q, K, fq = q.fq))
      run.check(Common.sameHits(got, want), s"search '${q.q}' fq=${q.fq} != oracle")
    }
    docs.unpersist()
  }

  /** Per-query layer costs, timed from outside the searcher: the query
    * plan, the dictionary probe, and the driver kernel re-run over the
    * query's runs read straight from `postings/` with the searcher's norms.
    * The kernel's result must equal `search`; the residual is `search`
    * minus the three.
    */
  final class Layers(spark: SparkSession, s: Setup) {
    val runs: Map[(String, String), Array[graft.core.PostingRun]] =
      Common.poolRuns(spark, s.dir, s.pool)
    private val norms = s.searcher.normsBc.value
    private val fields = Inputs.Fields.toArray
    private val langDocs: Map[String, Array[Long]] = {
      import spark.implicits._
      spark.read.parquet(s"${s.dir}/docstats").select("lang", "docId").as[(String, Long)]
        .collect().groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sorted }
    }
    private val plan, dict, kernel, residual, postings, blocks = mutable.ArrayBuffer.empty[Double]
    private var withFq = 0
    private var queries = 0
    var mismatches = 0

    def probe(q: Query, searchS: Double, hits: Array[Hit]): Unit = {
      queries += 1
      if (q.fq.isDefined) withFq += 1
      val (cls, tPlan) = Stats.time(QueryPlan.clauses(q.q, Inputs.Fields))
      val keys = cls.flatMap(_.perField.toSeq).toSet
      val (df, tDict) = Stats.time(s.searcher.dfOf(keys))
      val allowed: Option[Array[Long]] = q.langs.map(ls =>
        ls.toArray.flatMap(l => langDocs.getOrElse(l, Array.empty[Long])).sorted)
      val (mine, tKernel) = Stats.time(score(cls, df, allowed))
      if (!Common.sameHits(mine, hits)) mismatches += 1
      plan += tPlan; dict += tDict; kernel += tKernel
      residual += searchS - tPlan - tDict - tKernel
      postings += df.values.sum.toDouble
      blocks += df.keys.iterator.flatMap(k => runs.getOrElse(k, Array.empty))
        .map(_.blocks.length.toDouble).sum
    }

    private def score(cls: Array[graft.query.Clause], df: Map[(String, String), Long],
                      allowed: Option[Array[Long]]): Array[Hit] = {
      if (cls.isEmpty || df.isEmpty) return Array.empty
      val n = s.searcher.meta.nDocs
      val idf = df.map { case (k, d) => k -> BM25.idf(n, d) }
      val excluded: Long => Boolean = allowed match {
        case Some(a) => d => java.util.Arrays.binarySearch(a, d) < 0
        case None => _ => false
      }
      val top = new TopK(K)
      idf.keys.iterator.flatMap(k => runs.getOrElse(k, Array.empty)).toArray.groupBy(_.salt)
        .foreach { case (_, rs) =>
          Kernel.scoreSalt(rs, (fi, d) => norms.quantLen(fi, d), cls, fields, idf,
            s.searcher.meta.avgLen, BM25.minShouldMatch(cls.length), K, excluded).foreach(top.offer)
        }
      top.sortedHits
    }

    def record(run: Run): Unit = {
      run.check(mismatches == 0, s"kernel re-run differs from search on $mismatches queries")
      run.layer("query.plan_us") = Stats.median(plan.toSeq) * 1e6
      run.layer("query.dict_us") = Stats.median(dict.toSeq) * 1e6
      run.layer("query.kernel_us") = Stats.median(kernel.toSeq) * 1e6
      run.layer("query.residual_us") = Stats.median(residual.toSeq) * 1e6
      run.layer("query.planned_postings_p50") = Stats.median(postings.toSeq)
      run.layer("query.blocks_per_query_p50") = Stats.median(blocks.toSeq)
      run.layer("query.fq_share") = withFq.toDouble / math.max(1, queries)
    }
  }
}
