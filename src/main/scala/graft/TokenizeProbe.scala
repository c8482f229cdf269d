package graft

import graft.corpus.CodeCorpus
import java.util.concurrent.atomic.AtomicLong

/** Raw-thread tokenization scaling probe (no Spark): distinguishes engine
  * inefficiency from the box's shared-resource ceiling (memory bandwidth /
  * allocation rate). Usage: runMain graft.TokenizeProbe [docs]
  */
object TokenizeProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 50000
    val docs = (0 until n).toArray.map(i => CodeCorpus.genDoc(i.toLong, 100).content)

    def run(threads: Int): Double = {
      val counter = new AtomicLong(0)
      val sink = new AtomicLong(0)
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        new Thread(() => {
          var i = counter.getAndIncrement()
          var acc = 0L
          while (i < n) {
            // the docstats-shaped workload: analysis of all three fields
            val c = docs(i.toInt)
            acc += graft.analysis.Analyzer.analyzeField("content", c).length
            acc += graft.analysis.Analyzer.analyzeField("path", s"src/pkg/mod/File$i.scala").length
            acc += graft.analysis.Analyzer.analyzeField("repo", "repo-0001").length
            i = counter.getAndIncrement()
          }
          sink.addAndGet(acc)
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"threads=$threads%2d  ${n / dt}%9.0f docs/s  (${dt}%.2fs, tokens=${sink.get()})")
      n / dt
    }
    run(4) // warm
    val r4 = run(4)
    val r8 = run(8)
    val r16 = run(16)
    val r32 = run(32)
    println(f"raw analysis scaling 4->16: ${r16 / r4}%.2fx, 8->32: ${r32 / r8}%.2fx (ideal 4x)")
  }
}
