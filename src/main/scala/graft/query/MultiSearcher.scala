package graft.query

import graft.core._
import graft.index.{IndexMeta, Snapshot}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Search ACROSS index segments — the base index plus streaming delta
  * segments ([[graft.streaming.StreamingIngest]]) — with globally correct
  * BM25 statistics, the way Lucene merges per-segment stats at search time:
  *
  *   N      = sum of segment doc counts
  *   df(t)  = sum of segment dictionary dfs
  *   avgLen = sum of segment length totals / N
  *
  * Each segment's kernel runs with these GLOBAL stats and segment-LOCAL
  * norms; hits return a global docId = segment offset + local docId
  * (segments ordered as given, offsets cumulative), with Lucene tie-breaking
  * on the global id. A query over segments [A, B] therefore scores every
  * document exactly as a single merged index of A then B would.
  *
  * Physical strategy is chosen PER SEGMENT with the single-index
  * [[Searcher]]'s router (same thresholds, same kernels): the typical
  * deployment is one huge base segment plus small deltas, so the base runs
  * the distributed kernel (flatMapGroups over salt, broadcast norms — or the
  * docstats cogroup beyond [[NormsMaxDocs]]) while the deltas run the
  * driver-local kernel, and all three are rank-identical
  * (MultiSearcherSpec gates the forced-distributed path bit-for-bit).
  */
class MultiSearcher(spark: SparkSession, segmentDirs: Seq[String]) {
  import spark.implicits._

  /** Per-segment state. Dictionary lookups go through the same probe-or-
    * collect [[DictProbe]] as the single-index Searcher (vocab never forced
    * to the driver); the dense norm table is built lazily ONCE per segment
    * and reused across queries — as a BROADCAST, so the distributed kernel
    * reads it executor-side and the driver kernel reads the local value
    * (one docstats read either way; MultiSearcherSpec gates the count).
    */
  private final class Segment(val dir: String, val meta: IndexMeta, val offset: Long) {
    // driver dictionary memory is budgeted GLOBALLY across the searcher: each
    // segment gets an equal slice of the collect threshold and the LRU bound,
    // so a 20-segment deployment holds at most the SAME resident entry count
    // as a single-segment one (MultiSearcherSpec gates the sum)
    // lazy: the budget knobs are "set before first use", so the probe must
    // not capture them at searcher construction
    lazy val dict = new DictProbe(spark, s"$dir/dictionary",
      DictionaryMaxDriverTerms / segmentDirs.size,
      math.max(1, DictionaryMaxCacheTerms / segmentDirs.size))
    lazy val tombstoneCount: Long = graft.index.Tombstones.count(spark, dir)
    lazy val tombstonesBc: Broadcast[Array[Long]] = track(
      spark.sparkContext.broadcast(graft.index.Tombstones.loadSorted(spark, dir)))
    lazy val normsBc: Broadcast[Array[Array[Byte]]] = track {
      normBuilds.incrementAndGet()
      val n = meta.nDocs.toInt
      val lens = Array.ofDim[Byte](3, n)
      spark.read.parquet(s"$dir/docstats")
        .select($"docId", $"lenContent", $"lenPath", $"lenRepo")
        .as[(Long, Int, Int, Int)].collect()
        .foreach { case (id, lc, lp, lr) =>
          lens(0)(id.toInt) = SmallFloat.intToByte4(lc)
          lens(1)(id.toInt) = SmallFloat.intToByte4(lp)
          lens(2)(id.toInt) = SmallFloat.intToByte4(lr)
        }
      spark.sparkContext.broadcast(lens)
    }
  }

  /** Every broadcast this searcher ever created — the close() inventory. */
  private val liveBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[Broadcast[_]]()
  private def track[T](bc: Broadcast[T]): Broadcast[T] = { liveBroadcasts.add(bc); bc }
  private[graft] def liveBroadcastCount: Int = liveBroadcasts.size()

  /** Release every norm/tombstone broadcast this searcher created. A
    * long-lived service cycling delta generations creates a fresh
    * MultiSearcher per segment set; without this the per-segment broadcasts
    * (1 byte/doc/field norms + 8 B/id tombstones, per segment generation)
    * accrete in executor/driver block managers for the JVM's lifetime. The
    * searcher is DEAD after close — create a new one for the next segment
    * set. In-flight queries on other threads must have completed.
    */
  def close(): Unit = {
    var bc = liveBroadcasts.poll()
    while (bc != null) {
      Searcher.destroyQuietly(bc)
      bc = liveBroadcasts.poll()
    }
    var df = livePersists.poll()
    while (df != null) {
      try df.unpersist()
      catch { case scala.util.control.NonFatal(_) => }
      df = livePersists.poll()
    }
  }

  val DefaultFields: Seq[String] = Seq("content", "path", "repo")

  /** GLOBAL driver-collect threshold, split evenly across segments (each
    * segment collects its dictionary only if its vocab fits its slice).
    * Same semantics as Searcher.DictionaryMaxDriverTerms; set before use.
    */
  var DictionaryMaxDriverTerms: Long = 1L << 22

  /** GLOBAL bound on LRU-cached probe results, split evenly across segments
    * ([[DictProbe]]'s per-instance bound is this / segment count).
    */
  var DictionaryMaxCacheTerms: Int = 1 << 20

  /** Resident driver dictionary entries across ALL segments (collected maps
    * plus LRU caches) — spec-gated ≤ the global bounds regardless of
    * segment count.
    */
  private[graft] def residentDictEntries: Long = segments.map(_.dict.residentEntries).sum

  /** Same semantics as [[Searcher.DriverKernelMaxPostings]]: a segment whose
    * matched posting volume exceeds this runs the distributed kernel instead
    * of collecting runs to the driver. Per segment — a head-term query over
    * a big base segment goes distributed while its delta stays driver-local.
    */
  var DriverKernelMaxPostings: Long = 4L << 20

  /** Same semantics as [[Searcher.NormsMaxDocs]]: beyond this a segment's
    * norms are never materialized driver-side; the docstats cogroup runs.
    */
  var NormsMaxDocs: Long = 1L << 31

  /** Same semantics as [[Searcher.TombstonesMaxBroadcast]]: a segment with
    * more committed deletes than this routes to the shuffle strategy, where
    * tombstones are excluded by a distributed anti-join.
    */
  var TombstonesMaxBroadcast: Long = 1L << 23

  private def deletedFn(ts: Array[Long]): Long => Boolean =
    if (ts.isEmpty) _ => false
    else d => java.util.Arrays.binarySearch(ts, d) >= 0

  // ---- filter queries (Solr q + fq) across segments: the fq is evaluated
  // PER SEGMENT on that segment's own docId space (QueryFilter compiles
  // against the segment's tables), so a doc passes iff its segment says so —
  // identical to evaluating the filter on the merged index. Same two
  // regimes as [[Searcher]]: sorted-array broadcast below the bound, else
  // the segment routes to its shuffle strategy with a docstats semi-join.

  /** Same semantics as [[Searcher.FqMaxBroadcast]], per segment. */
  var FqMaxBroadcast: Long = 1L << 23

  /** Bounded (dir, fq) -> resolved-set LRU; evicted broadcasts stay in the
    * close() inventory (never destroyed under an in-flight query).
    */
  var FqCacheMaxEntries: Int = 64

  private case class FqSet(count: Long, sorted: Option[Broadcast[Array[Long]]],
                           docs: Option[org.apache.spark.sql.DataFrame])

  /** Persisted fq match sets (unpersist on close — in-flight-safe). */
  private val livePersists =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
  private[graft] def livePersistCount: Int = livePersists.size()

  private val fqCache =
    new java.util.LinkedHashMap[(String, String), FqSet](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), FqSet]): Boolean = {
        val evict = size() > FqCacheMaxEntries
        // release the evicted entry's persisted match set (in-flight-safe,
        // see Searcher.fqCache) so the LRU bound bounds storage too
        if (evict) e.getValue.docs.foreach { df =>
          try df.unpersist() catch { case scala.util.control.NonFatal(_) => }
          livePersists.remove(df)
        }
        evict
      }
    }
  private val fqInFlight = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.util.concurrent.CompletableFuture[FqSet]]()

  private def resolveFq(seg: Segment, fqs: String): FqSet = {
    val key = (seg.dir, fqs)
    val hit = fqCache.synchronized(fqCache.get(key))
    if (hit != null) return hit
    val fut = new java.util.concurrent.CompletableFuture[FqSet]()
    val prior = fqInFlight.putIfAbsent(key, fut)
    if (prior != null) prior.join()
    else {
      // lost-wake re-check (see Searcher.resolveFq): a resolver finishing
      // between our cache miss and the putIfAbsent win must not trigger a
      // second resolution of the same (segment, fq)
      val raced = fqCache.synchronized(fqCache.get(key))
      if (raced != null) {
        fut.complete(raced)
        fqInFlight.remove(key, fut)
        return raced
      }
      try {
        // composite key = multi-fq conjunction (see Searcher.resolveFq):
        // components resolve/cache per (segment, component), the
        // intersection caches under the (segment, composite) key
        val set =
          if (fqs.contains(Searcher.FqAndSep))
            combineFq(fqs.split(java.util.regex.Pattern.quote(Searcher.FqAndSep))
              .toSeq.map(f => resolveFq(seg, f)))
          else resolveSingleFq(seg, fqs)
        fqCache.synchronized(fqCache.put(key, set))
        fut.complete(set)
        set
      } catch {
        case t: Throwable => fut.completeExceptionally(t); throw t
      } finally fqInFlight.remove(key, fut)
    }
  }

  private def resolveSingleFq(seg: Segment, fqs: String): FqSet = {
    // persist BEFORE the count: the count job doubles as cache
    // materialization; small sets collect from the cache and release it
    val docs = graft.index.QueryFilter
      .matchingDocs(querySession, seg.dir, fqs).select($"docId")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count()
    if (n <= FqMaxBroadcast) {
      val arr = docs.as[Long].collect()
      java.util.Arrays.sort(arr)
      docs.unpersist()
      FqSet(n, Some(track(spark.sparkContext.broadcast(arr))), None)
    } else {
      livePersists.add(docs)
      FqSet(n, None, Some(docs))
    }
  }

  /** Multi-fq intersection per segment — same regime algebra as
    * [[Searcher]]'s combineFq: broadcastable whenever any component is,
    * semi-join chain (nothing driver-materialized) when all are big.
    */
  private def combineFq(sets: Seq[FqSet]): FqSet = {
    if (sets.exists(_.count == 0))
      return FqSet(0,
        Some(track(spark.sparkContext.broadcast(Array.emptyLongArray))), None)
    val smalls = sets.flatMap(_.sorted).map(_.value)
    val bigs = sets.flatMap(_.docs)
    if (bigs.isEmpty) {
      val arr = smalls.reduce(Searcher.intersectSorted)
      FqSet(arr.length, Some(track(spark.sparkContext.broadcast(arr))), None)
    } else if (smalls.nonEmpty) {
      val seed = smalls.reduce(Searcher.intersectSorted)
      var df = spark.createDataset(seed).toDF("docId")
      bigs.foreach(b => df = df.join(b, Seq("docId"), "left_semi"))
      val out = df.as[Long].collect()
      java.util.Arrays.sort(out)
      FqSet(out.length, Some(track(spark.sparkContext.broadcast(out))), None)
    } else {
      var df = bigs.head
      bigs.tail.foreach(b => df = df.join(b, Seq("docId"), "left_semi"))
      val pdf = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = pdf.count()
      if (n <= FqMaxBroadcast) {
        val arr = pdf.as[Long].collect()
        java.util.Arrays.sort(arr)
        pdf.unpersist()
        FqSet(n, Some(track(spark.sparkContext.broadcast(arr))), None)
      } else {
        livePersists.add(pdf)
        FqSet(n, None, Some(pdf))
      }
    }
  }

  /** Norm-table builds (tests assert one docstats read per segment). */
  private[graft] val normBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Driver-side posting-run collects (tests assert ZERO on the forced-
    * distributed path — no run data may reach the driver).
    */
  private[graft] val driverRunFetches = new java.util.concurrent.atomic.AtomicLong(0)

  private lazy val segments: Seq[Segment] = {
    var offset = 0L
    segmentDirs.map { dir =>
      val meta = IndexMeta.fromProps(new Snapshot(dir).readProps())
      val seg = new Segment(dir, meta, offset)
      offset += meta.nDocs
      seg
    }
  }

  lazy val totalDocs: Long = segments.map(_.meta.nDocs).sum

  /** Global average field length: length sums merged across segments.
    * A segment stores avg = Σlen / nDocs; round(avg × nDocs) gives back its
    * exact Σlen (the two roundings err by at most Σlen × 2^-52, below ½
    * while Σlen < 2^51), so the result is bit-identical to the Σlen / N an
    * [[graft.index.IndexBuilder]] build of all the segments' docs computes.
    */
  lazy val globalAvgLen: Map[String, Double] = {
    val sums = mutable.Map.empty[String, Long]
    segments.foreach { s =>
      s.meta.avgLen.foreach { case (f, avg) =>
        sums(f) = sums.getOrElse(f, 0L) + math.round(avg * s.meta.nDocs)
      }
    }
    sums.map { case (f, sum) => f -> sum.toDouble / totalDocs }.toMap
  }

  def globalDf(key: (String, String)): Long =
    segments.map(_.dict.dfOf(Set(key)).getOrElse(key, 0L)).sum

  /** Same rationale as [[Searcher.querySession]]: the kernel stages consume
    * COMPRESSED posting runs, so AQE's byte-based coalescing must target
    * total/cores, not the 1 MB floor (measured 4-task collapse at 32 cores).
    */
  private lazy val querySession: SparkSession = Searcher.newQuerySession(spark)

  /** Batched-kernel session — same throughput-vs-latency split as
    * [[Searcher.batchQuerySession]]: several even scheduling waves beat the
    * one-wave latency shape for batch jobs.
    */
  private lazy val batchQuerySession: SparkSession = Searcher.newBatchSession(spark)

  /** Term-filtered posting runs of one segment (bucket directories pruned,
    * term/field pruned to row groups) — the shared scan of all strategies,
    * planned under [[querySession]] ([[batchQuerySession]] for the batched
    * kernels).
    */
  private def filteredRuns(seg: Segment, keys: Set[(String, String)],
                           batch: Boolean = false): Dataset[PostingRun] = {
    val termList = keys.map(_._2).toSeq
    val fieldList = keys.map(_._1).toSeq
    val bucketList = termList
      .map(t => graft.index.IndexBuilder.bucketOf(t, seg.meta.buckets)).distinct
    (if (batch) batchQuerySession else querySession).read.parquet(s"${seg.dir}/postings")
      .filter($"bucket".isin(bucketList: _*) &&
        $"term".isin(termList: _*) && $"field".isin(fieldList: _*))
      .as[PostingRun]
  }

  def search(query: String, k: Int, fields: Seq[String] = DefaultFields,
             fq: Option[String] = None): Array[Hit] = {
    val cls = QueryPlan.clauses(query, fields)
    if (cls.isEmpty) return Array.empty
    val needed = cls.flatMap(_.perField.toSeq).toSet
    // one batched df resolution per segment (probe- or driver-cached),
    // resolved IN PARALLEL — each uncached probe is an independent Spark
    // job; the per-segment sums double as the strategy selector, free
    val perSegDf = awaitAll(segments.map(seg => () => seg.dict.dfOf(needed)))
    val idfMap = needed.toSeq
      .map(k2 => k2 -> perSegDf.map(_.getOrElse(k2, 0L)).sum).filter(_._2 > 0)
      .map { case (k2, df) => k2 -> BM25.idf(totalDocs, df) }.toMap
    if (idfMap.isEmpty) return Array.empty
    val minMatch = BM25.minShouldMatch(cls.length)
    val fieldArr = DefaultFields.toArray
    val avg = globalAvgLen

    // per-segment scoring fans out across threads (bounded pool) the way
    // Lucene overlaps per-segment searches: each segment's job(s) are
    // independent, so query latency tracks the SLOWEST segment, not the
    // segment-count sum. Deterministic: TopK's (score desc, docId asc)
    // order is total, so merge order cannot change the selected set.
    val segResults: Seq[Seq[Hit]] =
      awaitAll(segments.zip(perSegDf).map { case (seg, segDf) => () =>
        val segPostings = idfMap.keysIterator.map(k2 => segDf.getOrElse(k2, 0L)).sum
        // zero-postings short-circuit BEFORE fq resolution: a segment that
        // can't match the query must not pay a filter-resolution Spark job
        // just to build a cache entry this query never reads
        if (segPostings == 0) Seq.empty[Hit]
        else {
        val segFq = fq.map(f => resolveFq(seg, f))
        if (segFq.exists(_.count == 0)) Seq.empty[Hit]
        else {
          val fqBc = segFq.flatMap(_.sorted)
          val fqSemi = fq.isDefined && fqBc.isEmpty
          val segHits: Iterator[Hit] =
            if (fqSemi || seg.meta.nDocs > NormsMaxDocs ||
                seg.tombstoneCount > TombstonesMaxBroadcast)
              searchSegmentShuffle(seg, cls, fieldArr, idfMap, avg, minMatch, k, segFq)
            else if (segPostings > DriverKernelMaxPostings)
              searchSegmentDistributed(seg, cls, fieldArr, idfMap, avg, minMatch, k, fqBc)
            else
              searchSegmentDriver(seg, cls, fieldArr, idfMap, avg, minMatch, k, fqBc)
          segHits.map(h => Hit(seg.offset + h.docId, h.score)).toSeq
        }
        }
      })
    val top = new TopK(k)
    segResults.foreach(_.foreach(top.offer))
    top.sortedHits
  }

  /** Batched multi-segment retrieval: queries fan out on the QUERY pool
    * ([[Searcher.kernelPool]]) while each query's segments fan out on the
    * SEGMENT pool — two distinct pools, and segment tasks never block on
    * the query pool, so the nested blocking is acyclic (no thread-pool
    * deadlock). Results are order-preserved and identical to calling
    * [[search]] per query.
    */
  def searchMany(queries: Seq[String], k: Int,
                 fields: Seq[String] = DefaultFields,
                 fq: Option[String] = None): Seq[Array[Hit]] =
    if (queries.lengthCompare(1) <= 0) queries.map(q => search(q, k, fields, fq))
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = Searcher.kernelPool
      Await.result(
        Future.sequence(queries.map(q => Future(search(q, k, fields, fq)))),
        Duration.Inf)
    }

  /** Bulk retrieval for the scale regime — ONE Spark job per segment scores
    * the whole batch (the [[Searcher.searchManyDistributed]] analog).
    * [[searchMany]] pays each segment's job floor once per query; here a
    * batch of B queries over S segments costs at most S jobs (plus zero for
    * segments whose batch posting volume fits the driver kernel), not B×S:
    * each segment's job carries the union of the batch's terms, runs the
    * kernel once per query per salt group ([[Searcher.scoreBatch]]) and
    * emits (queryIdx, localHit); the driver re-bases docIds by segment
    * offset and merges per-query top-k. Global BM25 stats (N, df, avgLen)
    * are identical to [[search]]'s, so results are bit-identical to calling
    * [[search]] per query, in order (BatchSearchSpec gates all strategy
    * routes).
    */
  def searchManyDistributed(queries: Seq[String], k: Int,
                            fields: Seq[String] = DefaultFields,
                            fq: Option[String] = None): Seq[Array[Hit]] = {
    val parsed = queries.map(q => QueryPlan.clauses(q, fields))
    val allNeeded = parsed.iterator.flatMap(_.flatMap(_.perField.toSeq)).toSet
    if (allNeeded.isEmpty) return queries.map(_ => Array.empty[Hit])
    // ONE batched df resolution per segment (probe- or driver-cached), in
    // parallel — same resolution the per-query path would do per query
    val perSegDf = awaitAll(segments.map(seg => () => seg.dict.dfOf(allNeeded)))
    val globalDfMap = allNeeded.iterator
      .map(k2 => k2 -> perSegDf.map(_.getOrElse(k2, 0L)).sum).filter(_._2 > 0).toMap
    val plans = parsed.zipWithIndex.flatMap { case (cls, qi) =>
      val idf = cls.iterator.flatMap(_.perField.toSeq).toSet.iterator
        .flatMap { (k2: (String, String)) =>
          globalDfMap.get(k2).map(df => k2 -> BM25.idf(totalDocs, df))
        }.toMap
      if (cls.isEmpty || idf.isEmpty) None
      else Some(BatchPlan(qi, cls, idf, BM25.minShouldMatch(cls.length)))
    }.toArray
    if (plans.isEmpty) return queries.map(_ => Array.empty[Hit])
    val allKeys = plans.iterator.flatMap(_.idfMap.keySet).toSet
    val fieldArr = DefaultFields.toArray
    val avg = globalAvgLen
    val plansBc = spark.sparkContext.broadcast(plans)
    val segTagged: Seq[Array[(Int, Hit)]] =
      try awaitAll(segments.zip(perSegDf).map { case (seg, segDf) => () =>
        val segKeys = allKeys.filter(k2 => segDf.getOrElse(k2, 0L) > 0)
        // zero-match short-circuit before fq resolution (same rationale as
        // [[search]]): no filter job for a segment the batch can't touch
        if (segKeys.isEmpty) Array.empty[(Int, Hit)]
        else {
        val segFq = fq.map(f => resolveFq(seg, f))
        if (segFq.exists(_.count == 0)) Array.empty[(Int, Hit)]
        else {
          val segPostings = segKeys.iterator.map(segDf).sum
          val fqBc = segFq.flatMap(_.sorted)
          val fqSemi = fq.isDefined && fqBc.isEmpty
          val local: Array[(Int, Hit)] =
            if (fqSemi || seg.meta.nDocs > NormsMaxDocs ||
                seg.tombstoneCount > TombstonesMaxBroadcast)
              batchSegmentShuffle(seg, plansBc, segKeys, fieldArr, avg, k, segFq)
            else if (segPostings > DriverKernelMaxPostings)
              batchSegmentDistributed(seg, plansBc, segKeys, fieldArr, avg, k, fqBc)
            else
              batchSegmentDriver(seg, plans, segKeys, fieldArr, avg, k, fqBc)
          local.map { case (qi, h) => (qi, Hit(seg.offset + h.docId, h.score)) }
        }
        }
      })
      finally Searcher.destroyQuietly(plansBc)
    val tops = Array.fill(queries.length)(new TopK(k))
    segTagged.foreach(_.foreach { case (qi, h) => tops(qi).offer(h) })
    tops.map(_.sortedHits).toSeq
  }

  /** Small batch-volume segments: one collect of the union runs, per-query
    * kernels on the driver.
    */
  private def batchSegmentDriver(seg: Segment, plans: Array[BatchPlan],
      segKeys: Set[(String, String)], fieldArr: Array[String],
      avg: Map[String, Double], k: Int,
      fqBc: Option[Broadcast[Array[Long]]] = None): Array[(Int, Hit)] = {
    driverRunFetches.incrementAndGet()
    val runs = filteredRuns(seg, segKeys).collect()
    val lens = seg.normsBc.value
    val excl = Searcher.excludedFn(seg.tombstonesBc.value, fqBc.map(_.value).orNull)
    runs.groupBy(_.salt).valuesIterator.flatMap { rs =>
      Searcher.scoreBatch(rs, plans,
        (fi, d) => SmallFloat.byte4ToInt(lens(fi)(d.toInt)), fieldArr, avg, k, excl)
    }.toArray
  }

  /** Big-postings segments: the batch's runs stay executor-side; one
    * flatMapGroups job scores every query per salt group.
    */
  private def batchSegmentDistributed(seg: Segment, plansBc: Broadcast[Array[BatchPlan]],
      segKeys: Set[(String, String)], fieldArr: Array[String],
      avg: Map[String, Double], k: Int,
      fqBc: Option[Broadcast[Array[Long]]] = None): Array[(Int, Hit)] = {
    val bc = seg.normsBc
    val tsBc = seg.tombstonesBc
    val fqB = fqBc // local val: the closure must not capture `this`
    Searcher.gatedJob {
      filteredRuns(seg, segKeys, batch = true)
        .groupByKey(_.salt)
        .flatMapGroups { (_, it) =>
          val lens = bc.value
          Searcher.scoreBatch(it.toArray, plansBc.value,
            (fi, d) => SmallFloat.byte4ToInt(lens(fi)(d.toInt)), fieldArr, avg, k,
            Searcher.excludedFn(tsBc.value, fqB.map(_.value).orNull))
        }
        .collect()
    }
  }

  /** Beyond-norms segments: one cogroup job of the batch's runs with the
    * segment's docstats by salt range — norms never materialize, tombstones
    * excluded by the distributed anti-join, per-task memory bounded by one
    * salt range of docstats exactly as [[searchSegmentShuffle]].
    */
  private def batchSegmentShuffle(seg: Segment, plansBc: Broadcast[Array[BatchPlan]],
      segKeys: Set[(String, String)], fieldArr: Array[String],
      avg: Map[String, Double], k: Int,
      fqSet: Option[FqSet] = None): Array[(Int, Hit)] =
    Searcher.shuffleScore(batchQuerySession, seg.dir,
      filteredRuns(seg, segKeys, batch = true),
      fqSet.flatMap(_.docs), fqSet.flatMap(_.sorted),
      (rs, ql, excl) => Searcher.scoreBatch(rs, plansBc.value, ql, fieldArr, avg, k, excl))

  /** Run thunks on the shared bounded pool; single-element lists run inline
    * (no pool hop for the one-segment case). Failures propagate.
    */
  private def awaitAll[T](tasks: Seq[() => T]): Seq[T] =
    if (tasks.lengthCompare(1) <= 0) tasks.map(_())
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext = MultiSearcher.segmentPool
      Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    }

  /** Small segments: collect the term-filtered runs, kernel on the driver. */
  private def searchSegmentDriver(seg: Segment, cls: Array[Clause], fieldArr: Array[String],
      idfMap: Map[(String, String), Double], avg: Map[String, Double],
      minMatch: Int, k: Int,
      fqBc: Option[Broadcast[Array[Long]]] = None): Iterator[Hit] = {
    driverRunFetches.incrementAndGet()
    val runs = filteredRuns(seg, idfMap.keySet).collect()
    val lens = seg.normsBc.value
    val excl = Searcher.excludedFn(seg.tombstonesBc.value, fqBc.map(_.value).orNull)
    runs.groupBy(_.salt).valuesIterator.flatMap { rs =>
      Kernel.scoreSalt(rs, (fi, d) => SmallFloat.byte4ToInt(lens(fi)(d.toInt)),
        cls, fieldArr, idfMap, avg, minMatch, k, excl)
    }
  }

  /** Big-postings segments: runs stay executor-side (flatMapGroups by salt),
    * norms read from the broadcast — the Searcher's distributed-broadcast
    * strategy, per segment.
    */
  private def searchSegmentDistributed(seg: Segment, cls: Array[Clause], fieldArr: Array[String],
      idfMap: Map[(String, String), Double], avg: Map[String, Double],
      minMatch: Int, k: Int,
      fqBc: Option[Broadcast[Array[Long]]] = None): Iterator[Hit] = {
    val bc = seg.normsBc
    val tsBc = seg.tombstonesBc
    val fqB = fqBc // local val: the closure must not capture `this`
    Searcher.gatedJob {
      filteredRuns(seg, idfMap.keySet)
        .groupByKey(_.salt)
        .flatMapGroups { (_, it) =>
          val lens = bc.value
          Kernel.scoreSalt(it.toArray, (fi, d) => SmallFloat.byte4ToInt(lens(fi)(d.toInt)),
            cls, fieldArr, idfMap, avg, minMatch, k,
            Searcher.excludedFn(tsBc.value, fqB.map(_.value).orNull))
        }
        .collect()
    }.iterator
  }

  /** Beyond-norms (or beyond-tombstone-broadcast) segments: cogroup runs
    * with the segment's docstats by salt range — norms never materialize
    * anywhere, and tombstones are excluded by a distributed anti-join on the
    * docstats side ("no surviving docstats row" = deleted). Unbounded corpus
    * AND delete volume.
    */
  private def searchSegmentShuffle(seg: Segment, cls: Array[Clause], fieldArr: Array[String],
      idfMap: Map[(String, String), Double], avg: Map[String, Double],
      minMatch: Int, k: Int, fqSet: Option[FqSet] = None): Iterator[Hit] =
    // big-fq: the PERSISTED per-segment resolution semi-joins docstats
    // (resolve-once); a broadcastable fq that lands here because the
    // SEGMENT routed to shuffle rides the kernel predicate instead
    Searcher.shuffleScore(querySession, seg.dir, filteredRuns(seg, idfMap.keySet),
      fqSet.flatMap(_.docs), fqSet.flatMap(_.sorted),
      (rs, ql, excl) => Kernel.scoreSalt(rs, ql, cls, fieldArr, idfMap,
        avg, minMatch, k, excl)).iterator

  /** Resolve a global docId back to (segmentDir, localDocId). */
  def locate(globalId: Long): (String, Long) = {
    val seg = segments.reverse.find(_.offset <= globalId).get
    (seg.dir, globalId - seg.offset)
  }

  /** Hits joined with document identity across segments — the user-facing
    * result shape ([[Searcher.searchDF]]'s multisegment analog): each hit's
    * global docId re-bases into its segment's docstats, identity columns
    * union across segments, global ids and rank order preserved. One
    * broadcast join per segment that actually holds hits.
    */
  def searchDF(query: String, k: Int, fields: Seq[String] = DefaultFields,
               fq: Option[String] = None): org.apache.spark.sql.DataFrame = {
    val hits = search(query, k, fields, fq)
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val bySeg = hits.zipWithIndex.groupBy { case (h, _) => locate(h.docId)._1 }
    val parts = segments.filter(s => bySeg.contains(s.dir)).map { seg =>
      val segHits = bySeg(seg.dir).map { case (h, i) =>
        (h.docId - seg.offset, h.docId, h.score, i + 1)
      }
      val hitsDF = spark.createDataFrame(segHits.toSeq)
        .toDF("docId", "globalId", "score", "rank")
      spark.read.parquet(s"${seg.dir}/docstats")
        .select("docId", "repo", "path", "commit", "lang", "sha")
        .join(broadcast(hitsDF), "docId")
        .select(col("rank"), col("globalId").as("docId"), col("score"),
          col("repo"), col("path"), col("commit"), col("lang"), col("sha"))
    }
    parts match {
      case Nil =>
        // empty result with the contract schema
        spark.createDataFrame(Seq.empty[(Int, Long, Double, String, String, String, String, String)])
          .toDF("rank", "docId", "score", "repo", "path", "commit", "lang", "sha")
      case ps => ps.reduce(_.unionByName(_)).orderBy(col("rank"))
    }
  }

  // ---- multi-fq overloads (repeated fq params intersect) — see the
  // Searcher analogs; the composite resolves per segment through the same
  // (dir, fq) cache ----

  def search(query: String, k: Int, fields: Seq[String],
             fqs: Seq[String]): Array[Hit] =
    search(query, k, fields, Searcher.combineFqParams(fqs))

  def searchMany(queries: Seq[String], k: Int, fields: Seq[String],
                 fqs: Seq[String]): Seq[Array[Hit]] =
    searchMany(queries, k, fields, Searcher.combineFqParams(fqs))

  def searchManyDistributed(queries: Seq[String], k: Int, fields: Seq[String],
                            fqs: Seq[String]): Seq[Array[Hit]] =
    searchManyDistributed(queries, k, fields, Searcher.combineFqParams(fqs))

  def searchDF(query: String, k: Int, fields: Seq[String],
               fqs: Seq[String]): org.apache.spark.sql.DataFrame =
    searchDF(query, k, fields, Searcher.combineFqParams(fqs))
}

object MultiSearcher {
  /** Shared bounded pool for the per-segment fan-out: Spark jobs submitted
    * from separate threads overlap in the scheduler (FIFO is fine — the
    * jobs are tiny), while the bound keeps a very wide segment list from
    * flooding it. Daemon threads — never blocks JVM exit.
    */
  private lazy val segmentPool: scala.concurrent.ExecutionContextExecutorService =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-multisearch")
          t.setDaemon(true)
          t
        }))
}
