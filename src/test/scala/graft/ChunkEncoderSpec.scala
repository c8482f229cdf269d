package graft

import graft.analysis.Analyzer
import graft.core.{BlockChunk, Codec, DocStats, SmallFloat}
import graft.corpus.CodeCorpus
import graft.index.ChunkEncoder
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** `ChunkEncoder` counts tokens straight into its block buffers and cuts a
  * full block lazily. It must emit the same multiset of [[BlockChunk]]s and
  * the same [[DocStats]] as the eager reference below: the ICU-only chain,
  * a per-doc term -> tf map in first-seen order, and a block cut as soon as
  * a buffer fills.
  */
class ChunkEncoderSpec extends AnyFunSuite {
  private val fieldNames = Array("content", "path", "repo")

  private def analyzeFieldIcu(field: String, text: String): Array[String] = field match {
    case "repo" => if (text == null || text.isEmpty) Array.empty else Array(text)
    case _ => Analyzer.analyzeIcu(text)
  }

  /** (length, term -> tf in first-seen order) of one field value. */
  private def termFreqs(field: String, text: String): (Int, mutable.LinkedHashMap[String, Int]) = {
    val toks = analyzeFieldIcu(field, text)
    val m = mutable.LinkedHashMap.empty[String, Int]
    toks.foreach(t => m(t) = m.getOrElse(t, 0) + 1)
    (toks.length, m)
  }

  private final class ReferenceEncoder(blockSize: Int, saltRange: Long, chunkDocs: Int) {
    // (fieldId, term) -> buffered (docId, tf, quantized length)
    private val bufs = mutable.LinkedHashMap.empty[(Int, String), mutable.ArrayBuffer[(Long, Int, Int)]]
    private var curSalt = -1
    private var docsSinceFlush = 0

    private def cut(fi: Int, term: String, ps: Seq[(Long, Int, Int)]): BlockChunk =
      BlockChunk(fi.toByte, term, curSalt, ps.head._1, ps.last._1, ps.size,
        ps.map(_._2).max, ps.map(_._3).min, ps.map(_._2.toLong).sum,
        Codec.encodeDocIds(ps.map(_._1).toArray), Codec.encodeTfs(ps.map(_._2).toArray))

    private def flush(out: mutable.ArrayBuffer[BlockChunk]): Unit = {
      bufs.foreach { case ((fi, t), ps) => if (ps.nonEmpty) out += cut(fi, t, ps.toSeq) }
      bufs.clear()
      docsSinceFlush = 0
    }

    def addDoc(docId: Long, d: graft.core.CodeDoc, sha: String): (Seq[BlockChunk], DocStats) = {
      val out = mutable.ArrayBuffer.empty[BlockChunk]
      val salt = (docId / saltRange).toInt
      if (salt != curSalt) {
        if (docsSinceFlush > 0) flush(out)
        curSalt = salt
      }
      val lens = Array(d.content, d.path, d.repo).zipWithIndex.map { case (text, fi) =>
        val (len, tfs) = termFreqs(fieldNames(fi), text)
        val ql = SmallFloat.quantizeLength(len)
        tfs.foreach { case (t, tf) =>
          val ps = bufs.getOrElseUpdate((fi, t), mutable.ArrayBuffer.empty)
          ps += ((docId, tf, ql))
          if (ps.size == blockSize) { out += cut(fi, t, ps.toSeq); ps.clear() }
        }
        len
      }
      docsSinceFlush += 1
      if (docsSinceFlush >= chunkDocs) flush(out)
      (out.toSeq, DocStats(docId, d.repo, d.path, d.commit, d.lang, sha, salt,
        lens(0), lens(1), lens(2)))
    }

    def flushAll(): Seq[BlockChunk] = {
      val out = mutable.ArrayBuffer.empty[BlockChunk]
      flush(out)
      out.toSeq
    }
  }

  private def key(c: BlockChunk) = (c.fieldId, c.term, c.salt, c.firstDoc, c.lastDoc, c.n,
    c.maxTf, c.minQuantLen, c.cf, c.docsDelta.toSeq, c.tfs.toSeq)

  test("one-probe counting emits the reference's blocks and doc stats") {
    val blockSize = 4
    val enc = new ChunkEncoder(blockSize, saltRange = 64, chunkDocs = 23)
    val ref = new ReferenceEncoder(blockSize, saltRange = 64, chunkDocs = 23)
    val got = mutable.ArrayBuffer.empty[BlockChunk]
    val want = mutable.ArrayBuffer.empty[BlockChunk]
    (0 until 400).foreach { i =>
      // increasing docIds with gaps; every 7th doc also carries non-ASCII
      // and `:` regions, so the ICU fallback feeds the buffers too
      val docId = 1000L + i + (i / 100) * 37
      val d0 = CodeCorpus.genDoc(i.toLong, 7)
      val d = if (i % 7 == 0) d0.copy(content = d0.content +
        " Café naïve ﬁle token’s key:value Größe's 日本語") else d0
      val sha = s"sha$i"
      val (chunks, stats) =
        enc.addDoc(docId, sha, d.repo, d.path, d.commit, d.lang, d.content)
      val (refChunks, refStats) = ref.addDoc(docId, d, sha)
      assert(stats == refStats, s"doc $docId stats")
      got ++= chunks
      want ++= refChunks
    }
    got ++= enc.flushAll()
    want ++= ref.flushAll()

    // the sizes above make every cut kind happen: full blocks, partial
    // blocks at chunk flushes, and more than one salt
    assert(want.exists(_.n == blockSize) && want.exists(_.n < blockSize))
    assert(want.map(_.salt).distinct.size > 3)
    assert(want.exists(c => c.term == "cafe" && c.fieldId == 0))
    val gotKeys = got.toSeq.map(key).groupMapReduce(identity)(_ => 1)(_ + _)
    val wantKeys = want.toSeq.map(key).groupMapReduce(identity)(_ => 1)(_ + _)
    assert(got.size == want.size, "chunk count")
    assert(gotKeys == wantKeys, "chunk multiset")
  }
}
