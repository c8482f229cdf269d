package perfbench

import graft.analysis.Analyzer
import graft.core.{Codec, CodeDoc, PostingRun}
import graft.corpus.CodeCorpus
import graft.query.QueryPlan
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Pieces every workload shares: repeated set-up, exact index counts, the
  * measured loop and the layer probes that run outside the engine.
  */
object Common {
  val SetupReps = 3

  /** Runs set-up `SetupReps` times (each from scratch, `rep` numbers them)
    * and records the median as `setup_s`; returns the last set-up's result.
    */
  def setup[T](run: Run)(body: Int => T): T = {
    var last: Option[T] = None
    val times = (0 until SetupReps).map { rep =>
      val (r, s) = Stats.time(body(rep))
      last = Some(r)
      s
    }
    run.e2e("setup_s") = Stats.median(times)
    run.note(f"setup: ${times.map(t => f"$t%.2f").mkString(", ")} s, done at " +
      f"${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    last.get
  }

  /** Repeats `op` until `seconds` have passed and it ran `min` times. */
  def loop(seconds: Double, min: Int = 1)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { op(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** Counts of a committed index: postings and terms must repeat exactly,
    * bytes and blocks are layout counts.
    */
  def indexCounts(spark: SparkSession, run: Run, dir: String, prefix: String = ""): Map[String, Double] = {
    val r = spark.read.parquet(s"$dir/postings")
      .select(sum(col("df")), sum(size(col("blocks")))).head()
    val m = Map(
      "index.postings" -> r.getLong(0).toDouble,
      "index.blocks" -> r.getLong(1).toDouble,
      "index.terms" -> spark.read.parquet(s"$dir/dictionary").count().toDouble,
      "index.bytes_postings" -> Stats.dirBytes(s"$dir/postings").toDouble,
      "index.bytes_docstats" -> Stats.dirBytes(s"$dir/docstats").toDouble,
      "index.bytes_dictionary" -> Stats.dirBytes(s"$dir/dictionary").toDouble,
      "index.bytes" -> Stats.dirBytes(dir).toDouble)
    m.foreach { case (k, v) =>
      if (k == "index.postings" || k == "index.terms") run.exactly(s"$prefix$k", v)
      else run.sameLayout(s"$prefix$k", v)
    }
    m
  }

  def recordIndexLayers(run: Run, counts: Map[String, Double]): Unit =
    counts.foreach { case (k, v) => if (k != "index.bytes") run.layer(k) = v }

  /** Analyzer cost over a seeded sample of corpus docs. */
  def analysisProbe(run: Run, seed: Long): Unit = {
    val base = Inputs.offset(seed)
    val docs = (0 until 400).map(i => CodeCorpus.genDoc(base + i * 37L, Inputs.Repos))
    def pass(): Long = docs.iterator.map { d =>
      Analyzer.analyzeField("content", d.content).length.toLong +
        Analyzer.analyzeField("path", d.path).length + Analyzer.analyzeField("repo", d.repo).length
    }.sum
    pass() // warm
    val times = (0 until 5).map(_ => Stats.time(pass()))
    val tokens = times.head._1
    run.layer("analysis.ns_per_token") = Stats.median(times.map(_._2)) * 1e9 / tokens
    run.layer("analysis.tokens_per_doc") = tokens.toDouble / docs.length
  }

  /** Runs of the pool's (field, term) keys, read straight from the
    * committed postings table.
    */
  def poolRuns(spark: SparkSession, dir: String, pool: Seq[Query])
      : Map[(String, String), Array[PostingRun]] = {
    import spark.implicits._
    val keys = Oracle.keysOf(pool)
    val terms = keys.map(_._2).toSeq
    spark.read.parquet(s"$dir/postings").filter(col("term").isin(terms: _*)).as[PostingRun]
      .collect().filter(r => keys((r.field, r.term))).groupBy(r => (r.field, r.term))
  }

  /** Codec cost per posting over the posting blocks of the pool's terms. */
  def codecProbe(run: Run, runs: Iterable[Array[PostingRun]], encode: Boolean, decode: Boolean): Unit = {
    val blocks = runs.iterator.flatten.flatMap(_.blocks).toArray
    val postings = blocks.iterator.map(_.n.toLong).sum
    if (postings == 0) return
    val docs = blocks.map(b => Codec.decodeDocIds(b.docsDelta, b.n))
    val tfs = blocks.map(b => Codec.decodeTfs(b.tfs, b.n))
    def perPosting(body: => Unit): Double = {
      body // warm
      Stats.median((0 until 5).map(_ => Stats.time(body)._2)) * 1e9 / postings
    }
    if (encode) run.layer("core.encode_ns_per_posting") = perPosting {
      var i = 0
      while (i < blocks.length) { Codec.encodeDocIds(docs(i)); Codec.encodeTfs(tfs(i)); i += 1 }
    }
    if (decode) run.layer("core.decode_ns_per_posting") = perPosting {
      var i = 0
      while (i < blocks.length) {
        val b = blocks(i)
        Codec.decodeDocIds(b.docsDelta, b.n); Codec.decodeTfs(b.tfs, b.n); i += 1
      }
    }
  }

  /** The layer a build job belongs to, from the engine frame that started it. */
  def buildPhase(site: String): Option[String] = {
    val frames = site.split("\n")
    frames.find(_.contains("graft.index.IndexBuilder")).map { f =>
      if (f.contains("withDocIds")) "index.docids_s"
      else if (f.contains("writeDictionary")) "index.dictionary_s"
      else if (f.contains("assembleAndWritePostings")) "index.postings_s"
      else if (frames.headOption.exists(_.contains("DataFrameWriter.parquet"))) "index.docstats_s"
      else "index.commit_s"
    }
  }

  /** Per-phase seconds of one call that builds an index: Spark job walls
    * attributed by call site; `index.commit_s` is the rest of the call
    * (the stats check, the snapshot commit and driver time between jobs),
    * less any job that is not the build's own.
    */
  def buildPhases(jobs: Seq[Telemetry.Job], callS: Double): Map[String, Double] = {
    val phases = jobs.map(j => buildPhase(j.site) -> j.wallS)
    def wall(p: String): Double = phases.collect { case (Some(`p`), s) => s }.sum
    Seq("index.docids_s", "index.docstats_s", "index.postings_s", "index.dictionary_s")
      .map(p => p -> wall(p)).toMap +
      ("index.commit_s" -> (callS - phases.collect { case (ph, s) if !ph.contains("index.commit_s") => s }.sum))
  }

  /** Median of each key over a sequence of per-operation maps. */
  def medians(xs: Seq[Map[String, Double]]): Map[String, Double] =
    xs.flatMap(_.keys).distinct.map(k => k -> Stats.median(xs.map(_.getOrElse(k, 0.0)))).toMap

  def keysOfQuery(q: String): Set[(String, String)] =
    QueryPlan.clauses(q, Inputs.Fields).flatMap(_.perField.toSeq).toSet

  def sameHits(a: Array[graft.core.Hit], b: Array[graft.core.Hit]): Boolean =
    a.length == b.length && a.indices.forall(i => a(i) == b(i))

  def docsOf(spark: SparkSession, rows: Seq[CodeDoc]) = {
    import spark.implicits._
    spark.createDataset(rows)
  }
}
