package perfbench

import graft.core.CodeDoc
import graft.corpus.CodeCorpus
import graft.index.{IndexOps, Tombstones}
import graft.query.{MultiSearcher, Searcher}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.collection.mutable

/** The index lifecycle of feed_ursus (reindex and delete beside reads),
  * traced on the build workload's last index: each round upserts a delta
  * (half replaced keys, half new), deletes keys in place and opens a fresh
  * MultiSearcher over base plus deltas that serves seeded queries; after the
  * last round the segments are merged. Runs on a copy of the index, since
  * tombstones change it in place.
  */
object UpdateProbe {
  val Rounds = 2
  val Upserts = 500
  val Deletes = 25
  val QueriesPerRound = 9
  val OracleSample = 2
  val K = ServeProbe.K
  /** MultiSearcher rebuilds each field's global average length from the
    * segments' averages, Σ(avg × nDocs) / N, so it can sit an ulp off the
    * counted Σlen / N. The engine's MultiSearcherSpec holds it to 1e-9 of the
    * single-index value; so does this check. A score's relative error is at
    * most its average's, and every field averages at least one token, so
    * scores are held to the same figure, relative.
    */
  val StatsTolerance = 1e-9

  /** The seeded write plan over a table of `docs` seeded docs. */
  final class Plan(seed: Long, docs: Long) {
    private val base = Inputs.offset(seed)
    private val order = new scala.util.Random(seed).shuffle((0L until docs).toVector)
    private val half = Upserts / 2
    def replaced(r: Int): Seq[Long] = order.slice(r * half, (r + 1) * half).map(base + _)
    def added(r: Int): Seq[Long] = (0 until half).map(i => base + docs + r * half + i)
    def deleted(r: Int): Seq[Long] =
      order.slice(Rounds * half + r * Deletes, Rounds * half + (r + 1) * Deletes).map(base + _)
    def incoming(r: Int): Seq[CodeDoc] =
      replaced(r).map(i => Inputs.replacement(CodeCorpus.genDoc(i, Inputs.Repos), i)) ++
        added(r).map(i => CodeCorpus.genDoc(i, Inputs.Repos))
    def key(i: Long): (String, String, String) = {
      val d = CodeCorpus.genDoc(i, Inputs.Repos)
      (d.repo, d.path, d.commit)
    }
  }

  /** The segments one lifecycle left behind. */
  final class Cycle(val segments: Seq[String], val merged: String, val multi: MultiSearcher)

  /** Runs one lifecycle over a copy of `baseDir` (built from `table`, whose
    * docs are the seed's first `docs` ordinals) and records the upsert,
    * delete, multi-segment, merge and segment-count layers.
    */
  def trace(spark: SparkSession, run: Run, tel: Telemetry, baseDir: String,
            table: Dataset[CodeDoc], docs: Long): Unit = {
    val o = run.o
    val pool = Inputs.queryPool(o.seed)
    val plan = new Plan(o.seed, docs)
    val incoming = (0 until Rounds).map(plan.incoming)
    // q strings only: an fq makes each fresh MultiSearcher resolve the
    // filter per segment, which the serve workload covers
    val order = new scala.util.Random(o.seed).shuffle(pool.map(_.copy(fq = None)))
    val dir = s"${o.work}/update"
    val base = s"$dir/base"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(baseDir), new java.io.File(base))
    var files = Stats.files(dir)
    var written = 0L
    def account(): Unit = {
      val now = Stats.files(dir)
      written += now.collect { case (p, n) if !files.get(p).contains(n) => n }.sum
      files = now
    }
    val upsertS, deleteS, openS = mutable.ArrayBuffer.empty[Double]
    val jobsPerQuery = mutable.ArrayBuffer.empty[Double]
    val segments = mutable.ArrayBuffer(base)
    var multi: MultiSearcher = null
    for (r <- 0 until Rounds) {
      val delta = s"$dir/delta-$r"
      val (meta, tUp) = Stats.time(IndexOps.upsertDelta(spark, base, Common.docsOf(spark, incoming(r)),
        delta, Inputs.deltaConfig(o.cores)))
      run.check(meta.nDocs == Upserts, s"delta $r holds ${meta.nDocs} docs")
      val (_, tDel) = Stats.time(IndexOps.deleteInPlace(spark, base, plan.deleted(r).map(plan.key)))
      segments += delta
      account()
      upsertS += tUp; deleteS += tDel
      if (multi != null) multi.close()
      val qs = (0 to QueriesPerRound).map(i => order((r * (QueriesPerRound + 1) + i) % order.length))
      val (m, tOpen) = Stats.time {
        val m = new MultiSearcher(spark, segments.toSeq)
        m.search(qs.head.q, K)
        m
      }
      multi = m
      openS += tOpen
      val qMark = tel.mark()
      qs.tail.foreach(q => m.search(q.q, K))
      jobsPerQuery += tel.jobsSince(qMark).length.toDouble / QueriesPerRound
    }
    val merged = s"$dir/merged"
    val mark = tel.mark()
    val (mergedMeta, tMerge) = Stats.time(IndexOps.mergeSegments(spark, segments.toSeq, merged,
      Inputs.baseConfig(o.cores)))
    val st = Telemetry.totals(tel.stagesOf(tel.jobsSince(mark)), o.cores)
    account()
    val live = docs - Rounds * Deletes + Rounds * (Upserts / 2)
    run.check(mergedMeta.nDocs == live, s"merged index holds ${mergedMeta.nDocs} docs, $live live")
    run.layer("query.multi_spark_jobs_per_query") = Stats.median(jobsPerQuery.toSeq)
    run.layer("index.upsert_s") = Stats.median(upsertS.toSeq)
    run.layer("index.delete_s") = Stats.median(deleteS.toSeq)
    run.layer("query.multi_open_ms") = Stats.median(openS.toSeq) * 1e3
    run.layer("index.merge_s") = tMerge
    run.layer("stage.merge.cpu_s") = st.cpuS
    run.layer("stage.merge.shuffle_write_bytes") = st.shuffleWrite.toDouble
    run.exactly("index.segments", segments.length.toDouble)
    run.exactly("index.tombstones", Tombstones.count(spark, base).toDouble)
    run.sameLayout("index.bytes_written", written.toDouble)
    Seq("index.segments", "index.tombstones").foreach(k => run.layer(k) = run.exact(k))
    run.layer("index.bytes_written") = written.toDouble
    val incomingBytes = incoming.map(rs => Inputs.sourceBytes(Common.docsOf(spark, rs))).sum
    run.note(f"upsert_p50_s = ${Stats.median(upsertS.zip(deleteS).map { case (u, d) => u + d }.toSeq)}%.3f s, " +
      f"merge_s = $tMerge%.3f s (lower is better); write_amp = ${written.toDouble / incomingBytes}%.4f " +
      f"(traced, $Rounds rounds of $Upserts upserts and $Deletes deletes)")
    check(spark, run, new Cycle(segments.toSeq, merged, multi), table, plan, incoming, pool, docs)
    multi.close()
    Stats.deleteDir(dir)
  }

  /** The final MultiSearcher and the merged index against the oracle:
    * MultiSearcher keeps tombstoned docs in N, df and avgLen until a merge
    * (the Lucene rule), so its oracle counts every doc of every segment and
    * scores live docs; the merged index's oracle counts live docs only and
    * is matched by natural key. The merged index holds exactly the live keys.
    */
  private def check(spark: SparkSession, run: Run, c: Cycle, table: Dataset[CodeDoc], plan: Plan,
                    incoming: Seq[Seq[CodeDoc]], pool: Seq[Query], baseDocs: Long): Unit = {
    import spark.implicits._
    val keyCols = Seq("repo", "path", "commit")
    val gone = (0 until Rounds).flatMap(r => plan.replaced(r) ++ plan.deleted(r)).map(plan.key)
      .toDF(keyCols: _*)
    def ids(dir: String): DataFrame = spark.read.parquet(s"$dir/docstats").select("docId", keyCols: _*)
    def rows(src: DataFrame, dir: String, offset: Long): DataFrame =
      src.join(ids(dir), keyCols).select((col("docId") + offset).as("id"), col("lang"), col("repo"),
        col("path"), col("content"), col("commit"))
    val baseRows = rows(table.toDF(), c.segments.head, 0L)
      .join(gone.withColumn("gone", lit(true)), keyCols, "left")
      .select(col("id"), col("gone").isNull.as("live"), col("lang"), col("repo"), col("path"),
        col("content"), col("commit"))
    val offsets = incoming.scanLeft(baseDocs)(_ + _.length)
    val deltaRows = incoming.indices.map(r =>
      rows(Common.docsOf(spark, incoming(r)).toDF(), c.segments(r + 1), offsets(r))
        .select(col("id"), lit(true).as("live"), col("lang"), col("repo"), col("path"),
          col("content"), col("commit")))
    val all = (baseRows +: deltaRows).reduce(_ unionByName _).persist()
    val docs = all.drop("commit").as[OracleDoc]
    val sample = new scala.util.Random(run.o.seed + 2).shuffle(pool.toList).take(OracleSample)
    val keys = Oracle.keysOf(sample)
    val statsAll = Oracle.stats(docs, keys, _ => true)
    val avgLen = c.multi.globalAvgLen
    val statsOk = c.multi.totalDocs == statsAll.n && avgLen.keySet == statsAll.avgLen.keySet &&
      avgLen.forall { case (f, a) => math.abs(a - statsAll.avgLen(f)) <= StatsTolerance }
    run.check(statsOk,
      s"MultiSearcher N ${c.multi.totalDocs}, avgLen $avgLen; counted ${statsAll.n}, ${statsAll.avgLen}")
    if (statsOk && avgLen != statsAll.avgLen)
      run.note(s"FLAG MultiSearcher avgLen $avgLen is not bit-equal to the counted ${statsAll.avgLen}")
    val wantMulti = Oracle.topK(docs, sample, K, statsAll)
    val wantMerged = Oracle.topK(docs, sample, K, Oracle.stats(docs, keys, _.live))
    val keyOfId = all.filter(col("live")).select("id", keyCols: _*).as[(Long, String, String, String)]
      .collect().map { case (id, r, p, cm) => id -> (r, p, cm) }.toMap
    val mergedKeys = ids(c.merged).as[(Long, String, String, String)].collect()
      .map { case (id, r, p, cm) => id -> (r, p, cm) }.toMap
    run.check(mergedKeys.values.toSet == keyOfId.values.toSet && mergedKeys.size == keyOfId.size,
      s"merged index holds ${mergedKeys.size} keys, ${keyOfId.size} live")
    val merged = new Searcher(spark, c.merged)
    sample.indices.foreach { i =>
      val q = sample(i)
      val got = c.multi.search(q.q, K, fq = q.fq)
      val want = wantMulti(i)
      def diff = got.zipAll(want, null, null).filter { case (a, b) => a != b }.mkString(",")
      val ok = got.map(_.docId).sameElements(want.map(_.docId)) && got.indices.forall(j =>
        math.abs(got(j).score - want(j).score) <= StatsTolerance * want(j).score)
      run.check(ok, s"multi '${q.q}' fq=${q.fq} != oracle: $diff")
      if (ok && !Common.sameHits(got, want))
        run.note(s"FLAG multi '${q.q}' scores not bit-equal to the oracle: $diff")
      val m = merged.search(q.q, K, fq = q.fq).map(h => (mergedKeys(h.docId), h.score)).toSeq
      val w = wantMerged(i).map(h => (keyOfId(h.docId), h.score)).toSeq
      run.check(m == w, s"merged '${q.q}' fq=${q.fq} != oracle")
    }
    merged.close()
    all.unpersist()
  }
}
