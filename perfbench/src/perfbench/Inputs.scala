package perfbench

import graft.core.CodeDoc
import graft.corpus.CodeCorpus
import graft.index.IndexConfig
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One pool query: the q string and an optional `lang:` filter query. */
final case class Query(q: String, fq: Option[String]) {
  /** Languages the fq admits (the benchmark's own reading of its fq strings). */
  def langs: Option[Set[String]] =
    fq.map(_.split(" OR ").map(_.trim.stripPrefix("lang:")).toSet)
}

/** Seeded inputs. The seed picks the doc-ordinal offset handed to
  * [[CodeCorpus.genDoc]] and seeds the query generator; the engine only ever
  * sees the written parquet table and the query strings.
  */
object Inputs {
  /** Docs in the base table the serve workload indexes in set-up. */
  val Docs = 10000L
  /** Docs in the table the build workload indexes. */
  val BuildDocs = 20000L
  val Repos = 100
  val PoolSize = 500

  val Fields: Seq[String] = Seq("content", "path", "repo")

  /** The configuration `graft.Bench` builds with. */
  def baseConfig(cores: Int): IndexConfig =
    IndexConfig(buckets = 64, saltRange = 1L << 16, shufflePartitions = 2 * cores)

  /** The delta-segment configuration `graft.Bench` builds with. */
  def deltaConfig(cores: Int): IndexConfig =
    IndexConfig(buckets = 16, saltRange = 1L << 14, shufflePartitions = cores)

  /** First doc ordinal of the seed's corpus; ordinals of different seeds
    * never overlap, and each seed leaves room for update-workload docs.
    */
  def offset(seed: Long): Long = 10000000L * (1 + java.lang.Math.floorMod(seed, 100000L))

  def docs(spark: SparkSession, first: Long, n: Long, partitions: Int): Dataset[CodeDoc] = {
    import spark.implicits._
    spark.range(first, first + n, 1, partitions).as[Long].map(i => CodeCorpus.genDoc(i, Repos))
  }

  /** UTF-8 bytes of every field of every row. */
  def sourceBytes(ds: Dataset[CodeDoc]): Long =
    ds.toDF().select(sum(octet_length(col("repo")) + octet_length(col("path")) +
      octet_length(col("commit")) + octet_length(col("lang")) +
      octet_length(col("content")))).head().getLong(0)

  /** Writes `n` seeded docs as a parquet source table; returns its rows. */
  def writeTable(spark: SparkSession, seed: Long, dir: String, cores: Int,
                 n: Long = Docs): Dataset[CodeDoc] = {
    import spark.implicits._
    docs(spark, offset(seed), n, 2 * cores).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[CodeDoc]
  }

  private val FqChoices = Array("lang:scala", "lang:java OR lang:py", "lang:c OR lang:md")

  /** ~PoolSize distinct 1-4 word queries over the corpus Zipf vocabulary:
    * head (keywords and the planted head term), mid and rare ranks, plus the
    * planted phrases; about a quarter carry a `lang:` fq.
    */
  def queryPool(seed: Long): IndexedSeq[Query] = {
    val rng = new java.util.Random(seed * 0x5DEECE66DL + 11)
    val vocab = CodeCorpus.Vocab
    def word(): String = {
      val u = rng.nextDouble()
      val rank =
        if (u < 0.30) rng.nextInt(48)
        else if (u < 0.75) 48 + rng.nextInt(952)
        else 1000 + rng.nextInt(5000)
      vocab(rank)
    }
    val seen = new java.util.LinkedHashSet[String]()
    val out = IndexedSeq.newBuilder[Query]
    while (seen.size < PoolSize) {
      val q =
        if (rng.nextDouble() < 0.08) {
          val words = CodeCorpus.PlantedPhrases(rng.nextInt(CodeCorpus.PlantedPhrases.length))._2
            .split(" ")
          words.take(2 + rng.nextInt(words.length - 1)).mkString(" ")
        } else Seq.fill(1 + rng.nextInt(4))(word()).mkString(" ")
      val fq = if (rng.nextDouble() < 0.25) Some(FqChoices(rng.nextInt(FqChoices.length))) else None
      if (seen.add(q)) out += Query(q, fq)
    }
    out.result()
  }

  /** Replacement content for an existing key: the text of an ordinal far
    * outside every corpus, so the new version differs from the old.
    */
  def replacement(doc: CodeDoc, ordinal: Long): CodeDoc =
    doc.copy(content = CodeCorpus.genDoc(ordinal + (1L << 40), Repos).content)
}

/** Timing, percentiles and on-disk sizes. */
object Stats {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest of p99/p95/p90/p75/p50 that leaves at least ten samples
    * beyond it, with its label; the slowest sample when fewer than twenty
    * samples exist.
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    Seq(99.0 -> "p99", 95.0 -> "p95", 90.0 -> "p90", 75.0 -> "p75", 50.0 -> "p50")
      .find { case (p, _) => n * (100 - p) / 100 >= 10 } match {
      case Some((p, label)) => (s(math.min(n - 1, math.ceil(p / 100 * n).toInt - 1)), label)
      case None => (if (n == 0) 0.0 else s.last, "max")
    }
  }

  /** Bytes of the regular files under `dir`, without the local file
    * system's `.crc` side files.
    */
  def dirBytes(dir: String): Long = files(dir).values.sum

  def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    } finally s.close()
  }

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
}
