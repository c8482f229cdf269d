package perfbench

import graft.analysis.Analyzer
import graft.core.{BM25, Hit}
import graft.oracle.ExactScorer
import graft.query.{QueryPlan, TopK}
import org.apache.spark.sql.Dataset

/** One document as the oracle sees it: its id in the searcher under test,
  * whether it is live, and its raw fields.
  */
final case class OracleDoc(id: Long, live: Boolean, lang: String, repo: String, path: String,
                           content: String)

/** Corpus statistics counted directly from raw text (no index involved). */
final case class CorpusStats(n: Long, avgLen: Map[String, Double], df: Map[(String, String), Long])

/** Distributed brute-force top-k with [[ExactScorer.scoreDoc]]: statistics
  * come from direct counting over `docs`, every live doc admitted by the
  * query's fq is scored, ties break by id ascending.
  */
object Oracle {
  private val Fields = Inputs.Fields

  private def text(d: OracleDoc): Map[String, String] =
    Map("content" -> d.content, "path" -> d.path, "repo" -> d.repo)

  /** N, average field lengths and df of `keys` over the docs `statsOver`
    * admits.
    */
  def stats(docs: Dataset[OracleDoc], keys: Set[(String, String)],
            statsOver: OracleDoc => Boolean): CorpusStats = {
    val ks = keys.toArray
    val fields = Fields.toArray
    val parts = docs.rdd.mapPartitions { it =>
      var n = 0L
      val lens = new Array[Long](fields.length)
      val df = new Array[Long](ks.length)
      it.filter(statsOver).foreach { d =>
        n += 1
        val t = text(d)
        var fi = 0
        while (fi < fields.length) {
          val toks = Analyzer.analyzeField(fields(fi), t(fields(fi)))
          lens(fi) += toks.length
          val present = toks.toSet
          var j = 0
          while (j < ks.length) {
            if (ks(j)._1 == fields(fi) && present(ks(j)._2)) df(j) += 1
            j += 1
          }
          fi += 1
        }
      }
      Iterator.single((n, lens, df))
    }.collect()
    val n = parts.map(_._1).sum
    val lens = fields.indices.map(fi => parts.map(_._2(fi)).sum)
    val df = ks.indices.map(j => ks(j) -> parts.map(_._3(j)).sum).filter(_._2 > 0).toMap
    CorpusStats(n, fields.indices.map(fi => fields(fi) -> lens(fi).toDouble / n).toMap, df)
  }

  /** Exact top-k of each query; `stats` must cover every query's keys. */
  def topK(docs: Dataset[OracleDoc], queries: Seq[Query], k: Int, st: CorpusStats): Seq[Array[Hit]] = {
    val plans = queries.map { q =>
      val cls = QueryPlan.clauses(q.q, Fields)
      (cls, BM25.minShouldMatch(cls.length), q.langs)
    }.toArray
    val fields = Fields
    val parts = docs.rdd.mapPartitions { it =>
      val tops = Array.fill(plans.length)(new TopK(k))
      it.filter(_.live).foreach { d =>
        val t = text(d)
        var qi = 0
        while (qi < plans.length) {
          val (cls, mm, langs) = plans(qi)
          if (cls.nonEmpty && langs.forall(_.contains(d.lang)))
            ExactScorer.scoreDoc(t, cls, st.df, st.n, st.avgLen, mm, fields)
              .foreach(s => tops(qi).offer(Hit(d.id, s)))
          qi += 1
        }
      }
      Iterator.single(tops.map(_.sortedHits))
    }.collect()
    plans.indices.map { qi =>
      val top = new TopK(k)
      parts.foreach(_(qi).foreach(top.offer))
      top.sortedHits
    }
  }

  def keysOf(queries: Seq[Query]): Set[(String, String)] =
    queries.flatMap(q => Common.keysOfQuery(q.q)).toSet
}
