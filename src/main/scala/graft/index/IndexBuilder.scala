package graft.index

import graft.analysis.Analyzer
import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Build configuration. Defaults size for local tests; at cluster scale raise
  * `shufflePartitions` to O(cores); `saltRange` stays fixed — the number of
  * salts grows with the corpus, which IS the skew mitigation: a head term
  * present in 40% of docs is split into nDocs/saltRange independent runs that
  * encode in parallel and concatenate in salt order by construction.
  */
case class IndexConfig(
    fields: Seq[String] = Seq("content", "path", "repo"),
    buckets: Int = 64,
    blockSize: Int = 128,
    saltRange: Long = 1L << 20,
    shufflePartitions: Int = 32,
    /** Docs between map-side chunk flushes: the pre-encoding combiner's
      * memory bound is (distinct terms per chunkDocs docs) × a small growable
      * buffer (~50-100 MB/task at 16k code docs). Larger chunks amortize
      * head-term strings over more postings (measured +15% build throughput
      * 4096 -> 16384 at 400k docs); shrink if executor memory is tight. */
    chunkDocs: Int = 16384,
    /** Write postings under bucket=N partition directories. Query side prunes
      * whole directories per term (footer IO ∝ query terms, not corpus) and
      * reads either layout transparently (bucket is a partition column here,
      * a data column otherwise). Costs ~3ms/file × shufflePartitions×buckets
      * at write time — amortized at cluster scale where buckets are GB-sized,
      * dominant for small fast builds. Turn on for query-serving indexes,
      * off for build-throughput paths.
      */
    bucketDirs: Boolean = false)

/** Inverted-index build pipeline (SURVEY.md §3.1 step 7, §7.2 module 5):
  *
  *   docs -> stable docIds
  *        -> fused map pass: Analyzer.analyzeField per field, counted token
  *           by token into [[ChunkEncoder]] block buffers -> docstats rows
  *           (per-field lengths + sha256) + pre-encoded [[BlockChunk]]s
  *        -> repartition(term, field, salt) -> sortWithinPartitions
  *        -> [[RunAssembler]] concatenates blocks -> posting runs (parquet)
  *        -> dictionary (global df/cf) -> lineage rows -> snapshot commit
  *
  * No per-doc term -> tf map is built: [[ChunkEncoder]] counts tfs in place
  * in its buffers, so analysis output goes straight to the block encoder.
  *
  * Layout under `outDir`:
  *   docstats/    (docId, repo, path, commit, lang, sha, salt, len*)
  *   postings/    [[PostingRun]] rows, (field,term)-sorted within files
  *   dictionary/  (bucket, field, term, df, cf)
  *   lineage/     [[LineageRow]] per build partition
  *   snapshots/, SNAPSHOT — snaptable commit ([[Snapshot]])
  *
  * Scale notes (the 100 TB design):
  *  - ONE wide shuffle total (the posting repartition). docstats is map-only
  *    and comes out of the same tokenize pass as the posting chunks.
  *  - docId assignment is deterministic (global rank over a unique key), so
  *    stages recompute it instead of joining back — resume never needs the
  *    raw corpus co-shuffled with committed stages.
  *  - postings land term-major inside files (parquet row-group min/max stats
  *    prune term lookups) under bucket=N directories (hash(term) directory
  *    pruning: a query only opens the footers of its terms' buckets).
  */
object IndexBuilder {

  def bucketOf(term: String, buckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(term, 0x9747b28c), buckets)

  /** Deterministic dense docIds = global rank in (sha, repo, path, commit)
    * order — the "sha256(content)-stable ordinal" (FIXTURES.md §1). Scalable
    * shape: range partition + per-partition ranks + broadcast offsets; no
    * single-partition global sort. The sorted shuffle output is persisted
    * DISK_ONLY (serialized rows on node-local disk — the manual analog of
    * keeping the shuffle files) so the offset-count job and the fused
    * tokenize pass share ONE exchange+sort without paying the columnar
    * in-memory cache's decompress-recompress CPU (round 2 used the default
    * MEMORY_AND_DISK here; the cache build of full content cost more than
    * it saved, and could never fit at the 100 TB target).
    */
  private val pendingCaches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def withDocIds(spark: SparkSession, docs: Dataset[CodeDoc], partitions: Int): DataFrame = {
    import spark.implicits._
    val keyCols = Seq(col("sha"), col("repo"), col("path"), col("commit"))
    val parted = docs.toDF()
      .withColumn("sha", sha2(col("content"), 256))
      .select("sha", "repo", "path", "commit", "lang", "content")
      .repartitionByRange(partitions, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    pendingCaches.add(parted)
    val counts = parted.groupBy(spark_partition_id().as("pid")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (pid, n) =>
      val entry = pid -> acc; acc += n; entry
    }.toMap
    // Partitions are already key-sorted: the global rank is partition offset
    // + local position. mapPartitions with a running counter — no second
    // shuffle, no window re-sort (those anti-scaled: a full-corpus exchange
    // per extra pass).
    parted
      .as[(String, String, String, String, String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var rank = offsets.getOrElse(pid, 0L)
        it.map { case (sha, repo, path, commit, lang, content) =>
          val id = rank; rank += 1
          (id, sha, repo, path, commit, lang, content)
        }
      }
      .toDF("docId", "sha", "repo", "path", "commit", "lang", "content")
  }

  /** Dictionary write: global per-(field, term) df/cf from run-level rows,
    * range-partitioned + sorted by (field, term) so query-time probes prune
    * to O(query terms) row groups ([[graft.query.DictProbe]]).
    */
  private def writeDictionary(runCols: DataFrame, dictPath: String, cfg: IndexConfig): Unit =
    runCols
      .groupBy(col("bucket"), col("field"), col("term"))
      .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
      // coalesce + sort-within (NOT repartitionByRange): probe pruning only
      // needs tight per-row-group min/max on (field, term), which sorted
      // files give regardless of which file a term lands in — and this
      // skips a second exchange plus the range sampling job per build
      .coalesce(math.max(1, cfg.buckets / 8))
      .sortWithinPartitions(col("field"), col("term"))
      .write.mode("overwrite").parquet(dictPath)

  /** The reduce side of the posting build, shared by [[build]] and
    * [[IndexOps.mergeSegments]]: shuffle pre-encoded [[BlockChunk]]s by
    * (term, fieldId, salt), assemble runs, write postings + lineage +
    * dictionary, mark stages. Lineage rows (ONE per partition) ride an
    * accumulator out of the same pass that writes the postings — no caching
    * of the run dataset. (Round 2 first persisted the runs to serve lineage
    * + dictionary; the columnar cache of the block binaries cost more CPU to
    * build and re-scan — measured 65s at 400k docs/16 cores — than it
    * saved.) Task retries can add duplicate rows; the driver dedupes by pid.
    */
  private[index] def assembleAndWritePostings(
      spark: SparkSession, chunks: DataFrame, outDir: String,
      cfg: IndexConfig, snap: Snapshot): Unit = {
    import spark.implicits._
    val postingsPath = s"$outDir/postings"
    val lineagePath = s"$outDir/lineage"
    val dictPath = s"$outDir/dictionary"
    val buckets = cfg.buckets

    val sorted = chunks
      .repartition(cfg.shufflePartitions, $"term", $"fieldId", $"salt")
      // term first: the string sort-prefix discriminates; firstDoc last
      // restores global docId order (chunks cover disjoint ranges)
      .sortWithinPartitions($"term", $"fieldId", $"salt", $"firstDoc")
      .as[BlockChunk]

    val lineageAcc = new org.apache.spark.util.CollectionAccumulator[LineageRow]()
    spark.sparkContext.register(lineageAcc, "lineage")

    val runs: Dataset[PostingRun] =
      sorted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val asm = new RunAssembler(buckets)
        val sha = java.security.MessageDigest.getInstance("SHA-256")
        var termLo: String = null
        var termHi: String = null
        var bucketSeen = -1
        var nRuns = 0L; var nPost = 0L; var nBytes = 0L
        def record(r: PostingRun): PostingRun = {
          nRuns += 1; nPost += r.df; bucketSeen = r.bucket
          if (termLo == null || r.term < termLo) termLo = r.term
          if (termHi == null || r.term > termHi) termHi = r.term
          r.blocks.foreach { b =>
            nBytes += b.docsDelta.length + b.tfs.length
            sha.update(b.docsDelta); sha.update(b.tfs)
          }
          r
        }
        var lineageDone = false
        def finishLineage(): Unit = if (!lineageDone) {
          lineageDone = true
          lineageAcc.add(LineageRow(pid, bucketSeen,
            Option(termLo).getOrElse(""), Option(termHi).getOrElse(""),
            nRuns, nPost, nBytes, sha.digest().map("%02x".format(_)).mkString))
        }
        it.flatMap(c => asm.add(c).map(record)) ++
          new Iterator[PostingRun] { // flush AFTER input exhausts, then lineage
            private var state = 0 // 0 = not flushed, 1 = holding run, 2 = done
            private var v: PostingRun = _
            def hasNext: Boolean = state match {
              case 0 => asm.flush() match {
                case Some(r) => v = record(r); state = 1; true
                case None => finishLineage(); state = 2; false
              }
              case 1 => true
              case _ => false
            }
            def next(): PostingRun = { val r = v; state = 2; finishLineage(); r }
          }
      }

    // bucketDirs: term lookups prune whole directories (a q-term query
    // opens <= q/buckets of the files' footers — file-level pruning on top
    // of the term-major row-group stats); see IndexConfig.bucketDirs for
    // the write-cost tradeoff.
    timed("postWrite") {
      val w = runs.write.mode("overwrite")
      (if (cfg.bucketDirs) w.partitionBy("bucket") else w).parquet(postingsPath)
    }
    timed("lineageWrite") {
      import scala.jdk.CollectionConverters._
      val rows = lineageAcc.value.asScala.toSeq
        .groupBy(_.partitionId).map(_._2.head).toSeq // dedupe retried tasks
      spark.createDataset(rows).write.mode("overwrite").parquet(lineagePath)
    }
    snap.markStageDone("postings")
    // dictionary from a NARROW re-read: parquet skips the untouched blocks
    // column entirely, so this scans only (bucket, field, term, df, cf)
    if (!snap.stageDone("dictionary")) timed("dictionary") {
      writeDictionary(spark.read.parquet(postingsPath)
        .select($"bucket", $"field", $"term", $"df", $"cf"), dictPath, cfg)
      snap.markStageDone("dictionary")
    }
  }

  /** Stage timing (stderr) — enabled with SPARK_GRAFT_TIMING=1. */
  private def timed[T](stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (sys.env.get("SPARK_GRAFT_TIMING").contains("1")) {
      System.err.println(f"[build-stage] $stage%-12s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    }
    r
  }

  def build(spark: SparkSession, docs: Dataset[CodeDoc], outDir: String,
            cfg: IndexConfig = IndexConfig()): IndexMeta = {
    import spark.implicits._
    val snap = new Snapshot(outDir)
    snap.init()

    val needDocstats = !snap.stageDone("docstats")
    val needPostings = !snap.stageDone("postings")
    val withIds: DataFrame =
      if (needDocstats || needPostings)
        timed("docIds")(withDocIds(spark, docs, cfg.shufflePartitions))
      else null

    // ---- fused tokenize: ONE pass over content feeds BOTH the docstats
    // table (map-side written stats rows — no shuffle at all) and the posting
    // shuffle (map-side pre-encoded BlockChunks). content is decompressed
    // from the columnar cache exactly once, tokenized exactly once. ----
    val docstatsPath = s"$outDir/docstats"
    val postingsPath = s"$outDir/postings"
    val lineagePath = s"$outDir/lineage"
    val dictPath = s"$outDir/dictionary"
    val saltRange = cfg.saltRange
    val buckets = cfg.buckets
    val blockSize = cfg.blockSize
    val chunkDocs = cfg.chunkDocs

    // corpus stats ride accumulators out of the fused pass (saves the
    // commit-time aggregate job when the pass ran this build)
    val accDocs = spark.sparkContext.longAccumulator("graft.nDocs")
    val accLenC = spark.sparkContext.longAccumulator("graft.lenContent")
    val accLenP = spark.sparkContext.longAccumulator("graft.lenPath")
    val accLenR = spark.sparkContext.longAccumulator("graft.lenRepo")

    lazy val emitted: Dataset[BuildEmit] = withIds
      .select("docId", "sha", "repo", "path", "commit", "lang", "content")
      .as[(Long, String, String, String, String, String, String)]
      .mapPartitions { it =>
        val enc = new ChunkEncoder(blockSize, saltRange, chunkDocs)
        it.flatMap { case (docId, sha, repo, path, commit, lang, content) =>
          val (chunks, stats) = enc.addDoc(docId, sha, repo, path, commit, lang, content)
          accDocs.add(1L); accLenC.add(stats.lenContent)
          accLenP.add(stats.lenPath); accLenR.add(stats.lenRepo)
          chunks.map(c => BuildEmit(Some(c), None)) ++
            Iterator.single(BuildEmit(None, Some(stats)))
        } ++
          new Iterator[BuildEmit] { // lazily flush AFTER input exhausts
            private var flushed = false
            private var v: Iterator[BlockChunk] = Iterator.empty
            def hasNext: Boolean = {
              if (!flushed) { v = enc.flushAll().iterator; flushed = true }
              v.hasNext
            }
            def next(): BuildEmit = BuildEmit(Some(v.next()), None)
          }
      }
    // persist only when both stages consume it (a resumed postings-only build
    // reads the fused pass once — no point caching). MEMORY_AND_DISK
    // columnar is the measured winner here (DISK_ONLY serialized rows cost
    // 23.6k -> 14.5k docs/s at 1.6M/16c: BuildEmit's binary payloads
    // serialize poorly row-wise but pack well columnar) — the OPPOSITE of
    // the withDocIds corpus cache, where rows are wide text.
    val needBoth = needDocstats && needPostings
    lazy val src: Dataset[BuildEmit] =
      if (needBoth) emitted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else emitted

    // ---- stage: docstats (map-side rows out of the fused pass; the timed
    // cost here includes materializing the fused tokenize+encode cache).
    // DataFrame select, NOT a typed flatMap: `stats.*` prunes the chunk
    // binaries out of the cache scan (a typed flatMap deserializes the whole
    // BuildEmit row — measured as most of this stage's CPU). ----
    if (needDocstats) timed("docstats") {
      src.toDF().filter($"stats".isNotNull).select($"stats.*")
        .write.mode("overwrite").parquet(docstatsPath)
      snap.markStageDone("docstats")
    }

    // ---- stage: posting runs + per-partition lineage ----
    //
    // Shuffle format: map-side pre-encoded [[BlockChunk]]s, not raw postings.
    // Each map partition holds a contiguous docId range (withDocIds rank), so
    // per-(field, term) blocks delta+varint encode BEFORE the exchange and
    // the reduce side only sorts + concatenates. This removes the per-posting
    // term string (~70% of round-1 shuffle bytes) and the per-posting row
    // overhead from the one wide shuffle: a head term crosses the wire
    // ceil(df_chunk/blockSize) times per chunk instead of df times.
    if (needPostings) timed("postings") {
      // `chunk.*` select (not flatMap): prunes the stats columns from the scan
      val chunks = src.toDF().filter($"chunk".isNotNull).select($"chunk.*")
      assembleAndWritePostings(spark, chunks, outDir, cfg, snap)
    }
    if (needBoth) src.unpersist()
    while (!pendingCaches.isEmpty) { Option(pendingCaches.poll()).foreach(_.unpersist()) }

    // resume path: postings were committed by an earlier run, so the cache is
    // gone -- aggregate from the postings table (column-pruned scan)
    if (!snap.stageDone("dictionary")) timed("dictionaryResume") {
      writeDictionary(spark.read.parquet(postingsPath)
        .select($"bucket", $"field", $"term", $"df", $"cf"), dictPath, cfg)
      snap.markStageDone("dictionary")
    }

    // ---- stage: snapshot commit ----
    // When the docstats write ran, the fused pass computed inside ITS result
    // stage, where Spark applies accumulator updates exactly once per task
    // (retries don't double-count result-stage accumulators) — the commit
    // stats are free. But if cached src partitions were lost and recomputed
    // during the LATER postings job (a shuffle-map stage, where retries CAN
    // double-count), the accumulators silently skew BM25's nDocs/avgLen.
    // Guard: cross-check accDocs against the written docstats row count (a
    // parquet count(*) is footer-metadata-only — cheap) and fall back to the
    // full parquet aggregate on any mismatch or on resume paths.
    val stats: (Long, Long, Long, Long) = timed("statsAgg") {
      if (needDocstats && accDocs.value > 0 &&
          spark.read.parquet(docstatsPath).count() == accDocs.value)
        (accDocs.value, accLenC.value, accLenP.value, accLenR.value)
      else {
        val r = spark.read.parquet(docstatsPath)
          .agg(count(lit(1)), sum($"lenContent"), sum($"lenPath"), sum($"lenRepo"))
          .collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    }
    val nDocs = stats._1
    val meta = IndexMeta(
      nDocs = nDocs,
      avgLen = Map(
        "content" -> stats._2.toDouble / nDocs,
        "path" -> stats._3.toDouble / nDocs,
        "repo" -> stats._4.toDouble / nDocs),
      buckets = cfg.buckets, saltRange = cfg.saltRange, blockSize = cfg.blockSize)
    snap.commit(meta.toProps ++ Map("fields" -> cfg.fields.mkString(",")))
    meta
  }
}

/** Map-side pre-encoding combiner. Feed docs in increasing docId order (the
  * natural withDocIds partition order); per (field, term) it accumulates
  * (docId, tf) in a small growable buffer and emits a finished
  * delta+varint-encoded [[BlockChunk]] once the buffer holds `blockSize`
  * postings. Each token costs one map probe: a term whose last posting is
  * this doc bumps that tf in place, any other term appends a posting with
  * tf 1. The block cut is lazy — a full buffer is cut when the term's next
  * doc arrives (or at a flush), never while its last doc may still be
  * counting — so the blocks are the ones an eager cut after each whole doc
  * would make. Everything buffered is flushed every `chunkDocs` docs
  * (bounding memory to the chunk's distinct-term count × a tail buffer) and
  * at salt boundaries (blocks never span salts). Buffers grow 4 → blockSize
  * by doubling, so the Zipf tail (df 1–2 per chunk) pays ~4 slots, not 128.
  */
final class ChunkEncoder(blockSize: Int, saltRange: Long, chunkDocs: Int) {
  private val fieldNames = Array("content", "path", "repo")

  private final class Buf(val term: String) {
    var docs = new Array[Long](4)
    var tfs = new Array[Int](4)
    var n = 0
    var maxTf = 0
    var minQL = Int.MaxValue
    var cf = 0L
    /** Count one occurrence of the term in doc `docId` (field length quantized to `ql`). */
    def count(docId: Long, ql: Int, out: mutable.ArrayBuffer[BlockChunk], fi: Int): Unit = {
      if (n > 0 && docs(n - 1) == docId) {
        val tf = tfs(n - 1) + 1
        tfs(n - 1) = tf
        if (tf > maxTf) maxTf = tf
      } else {
        if (n == blockSize) out += cut(fi, this)
        else if (n == docs.length) {
          val cap = math.min(blockSize, docs.length * 2)
          docs = java.util.Arrays.copyOf(docs, cap)
          tfs = java.util.Arrays.copyOf(tfs, cap)
        }
        docs(n) = docId; tfs(n) = 1; n += 1
        if (maxTf == 0) maxTf = 1
        if (ql < minQL) minQL = ql
      }
      cf += 1
    }
    def reset(): Unit = { n = 0; maxTf = 0; minQL = Int.MaxValue; cf = 0L }
  }

  private val bufs = Array.fill(3)(new java.util.HashMap[String, Buf]())
  private val newBuf: java.util.function.Function[String, Buf] = new Buf(_)
  private var curSalt = -1
  private var docsSinceFlush = 0

  private def cut(fi: Int, b: Buf): BlockChunk = {
    val c = BlockChunk(fi.toByte, b.term, curSalt,
      firstDoc = b.docs(0), lastDoc = b.docs(b.n - 1), n = b.n,
      maxTf = b.maxTf, minQuantLen = b.minQL, cf = b.cf,
      docsDelta = Codec.encodeDocIds(java.util.Arrays.copyOf(b.docs, b.n)),
      tfs = Codec.encodeTfs(java.util.Arrays.copyOf(b.tfs, b.n)))
    b.reset()
    c
  }

  private def flushInto(out: mutable.ArrayBuffer[BlockChunk]): Unit = {
    var fi = 0
    while (fi < 3) {
      val it = bufs(fi).values().iterator()
      while (it.hasNext) { val b = it.next(); if (b.n > 0) out += cut(fi, b) }
      bufs(fi).clear()
      fi += 1
    }
    docsSinceFlush = 0
  }

  /** Tokenize one doc into posting buffers; returns any blocks completed by
    * this doc plus the doc's stats row (the same tokenize pass feeds both).
    */
  def addDoc(docId: Long, sha: String, repo: String, path: String,
             commit: String, lang: String, content: String): (Iterator[BlockChunk], DocStats) = {
    val out = mutable.ArrayBuffer.empty[BlockChunk]
    val salt = (docId / saltRange).toInt
    if (salt != curSalt) {
      if (docsSinceFlush > 0) flushInto(out)
      curSalt = salt
    }
    val fieldVals = Array(content, path, repo)
    val lens = new Array[Int](3)
    var fi = 0
    while (fi < 3) {
      val toks = Analyzer.analyzeField(fieldNames(fi), fieldVals(fi))
      lens(fi) = toks.length
      val ql = SmallFloat.quantizeLength(toks.length)
      val m = bufs(fi)
      var i = 0
      while (i < toks.length) {
        m.computeIfAbsent(toks(i), newBuf).count(docId, ql, out, fi)
        i += 1
      }
      fi += 1
    }
    docsSinceFlush += 1
    if (docsSinceFlush >= chunkDocs) flushInto(out)
    (out.iterator, DocStats(docId, repo, path, commit, lang, sha, salt,
      lens(0), lens(1), lens(2)))
  }

  def flushAll(): Seq[BlockChunk] = {
    val out = mutable.ArrayBuffer.empty[BlockChunk]
    if (docsSinceFlush > 0 || bufs.exists(!_.isEmpty)) flushInto(out)
    out.toSeq
  }
}

/** Reduce-side run assembler: feed [[BlockChunk]]s in (term, fieldId, salt,
  * firstDoc) order; concatenates the pre-encoded blocks of one
  * (field, term, salt) into a [[PostingRun]] — chunks cover disjoint docId
  * ranges, so no decode or re-encode happens here. Returns the finished
  * previous run whenever the key changes.
  */
final class RunAssembler(buckets: Int) {
  private val fieldNames = Array("content", "path", "repo")
  private var fieldId: Byte = -1
  private var term: String = _
  private var salt = -1
  private val blocks = mutable.ArrayBuffer.empty[PostingBlock]
  private var df = 0L
  private var cf = 0L
  private var maxTf = 0

  private def finishRun(): PostingRun = {
    val run = PostingRun(IndexBuilder.bucketOf(term, buckets), fieldNames(fieldId),
      term, salt, df, cf, maxTf, blocks.toArray)
    blocks.clear(); df = 0; cf = 0; maxTf = 0
    run
  }

  def add(c: BlockChunk): Option[PostingRun] = {
    val boundary = term != null && (c.term != term || c.fieldId != fieldId || c.salt != salt)
    val finished = if (boundary) Some(finishRun()) else None
    if (term == null || boundary) { fieldId = c.fieldId; term = c.term; salt = c.salt }
    blocks += PostingBlock(c.firstDoc, c.lastDoc, c.n, c.maxTf, c.minQuantLen,
      c.docsDelta, c.tfs)
    df += c.n
    cf += c.cf
    if (c.maxTf > maxTf) maxTf = c.maxTf
    finished
  }

  def flush(): Option[PostingRun] = if (term == null) None else Some(finishRun())
}
