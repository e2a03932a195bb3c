package knnbench

import scala.collection.mutable

import graft.operators.Dedup
import graft.sources.DocumentStore

/** The `curate` workload: batch near-duplicate curation of a corpus with
  * planted near-duplicate clusters, with no embedding and no index. Each
  * pass runs the cluster clean-up and the MinHash pair query once. */
final class Curate(run: Run, gen: Gen) {
  import Curate._

  private val spark = run.spark
  private val tracer = run.tracer

  def execute(sessionS: Double): Unit = {
    val (n, clusters, rounds) =
      if (run.opts.smoke) (2000, 200, 1) else (Docs, Clusters, SetupRounds)
    val (texts, planted) = gen.curateCorpus(n, clusters)
    val rows = texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "generated", t.length.toLong)
    }

    // set-up round: write the corpus as a fresh documents.parquet and run
    // warm-up passes over it (pass times keep falling over the first
    // several passes of a JVM while code is compiled)
    val setups = (0 until rounds).map { r =>
      val dir = run.path(s"curate_r$r")
      val t0 = System.nanoTime()
      val df = spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      tracer.span("sources.save", -1)(DocumentStore.saveToParquet(df, s"$dir/documents.parquet"))
      (0 until WarmupPasses).foreach(w => pass(dir, -1L - r * WarmupPasses - w))
      ((System.nanoTime() - t0) / 1e9, dir)
    }
    run.e2e("setup_s") = sessionS + Metrics.median(setups.map(_._1))
    val dir = setups.last._2
    System.gc() // set-up garbage must not be collected inside the window

    val passMs = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long)])]
    val start = System.nanoTime()
    val end = run.deadline
    var i = 0
    var lastEnd = start
    while (System.nanoTime() < end && i < MaxPasses) {
      i += 1
      val t0 = System.nanoTime()
      val tracedPass = tracer.enabled && i % 2 == 0
      results += (if (tracedPass) pass(dir, i) else tracer.untraced(pass(dir, i)))
      lastEnd = System.nanoTime()
      val ms = (lastEnd - t0) / 1e6
      passMs += ms
      if (tracer.enabled) (if (tracedPass) traced else untraced) += ms
    }
    run.e2e("request_p50_ms") = Metrics.median(passMs.toSeq)
    run.e2e("throughput_per_s") = n.toDouble * passMs.size / ((lastEnd - start) / 1e9)

    // checks: every returned pair is a true near-duplicate by the
    // benchmark's own Jaccard, the clean-up keeps exactly the documents the
    // returned pairs imply, and every pass returns the same answer
    val shingles = mutable.HashMap.empty[Long, Set[String]]
    def sh(id: Long) = shingles.getOrElseUpdate(id, Exact.shingles(texts(id.toInt)))
    val firstPairs = results.head._2
    results.foreach { case (nClean, pairs) =>
      val bad = pairs.find { case (a, b) =>
        a < 0 || b < 0 || a >= n || b >= n || Exact.jaccard(sh(a), sh(b)) < Dedup.MinhashVerifyThreshold - 1e-9
      }
      val expectClean = Exact.keptAfterClusterDrop(n, pairs)
      run.check(
        if (bad.nonEmpty) Some(s"pair ${bad.get} is not a near-duplicate")
        else if (pairs != firstPairs) Some("dedupMinhash answered differently across passes")
        else if (nClean != expectClean) Some(s"dedupCleanClusters kept $nClean docs, pairs imply $expectClean")
        else None)
    }
    val found = firstPairs.toSet
    run.e2e("quality") = planted.count { case (a, b) => found((a.toLong, b.toLong)) }.toDouble / planted.length
    run.layer("operators.minhash_pairs") = firstPairs.size
    run.notes += s"curate: ${passMs.size} passes over $n docs, ${planted.length} planted pairs, " +
      s"${firstPairs.size} pairs returned; pass ms: " + passMs.map(m => f"$m%.0f").mkString(" ")

    if (tracer.enabled) {
      val spans = tracer.all
      val passes = spans.filter(s => s.name == "client.pass" && s.req > 0)
      def durS(name: String) = spans.filter(s => s.name == name && s.req > 0).map(_.durMs / 1e3)
      def perPass(f: Counts => Double) =
        Metrics.mean(passes.map(p => f(tracer.counts(p.id, inclusive = true))))
      val L = run.layer
      L("operators.dedup_clean_clusters_s") = Metrics.median(durS("operators.dedup_clean_clusters"))
      L("operators.dedup_minhash_s") = Metrics.median(durS("operators.dedup_minhash"))
      L("operators.shuffle_mb") = perPass(_.shuffleWriteBytes / Metrics.MB)
      L("operators.spill_mb") = perPass(_.spillBytes / Metrics.MB)
      L("operators.peak_exec_mem_mb") = perPass(_.peakExecMem / Metrics.MB)
      L("operators.task_s") = perPass(_.runMs / 1e3)
      L("operators.sched_delay_s") = perPass(_.schedDelayMs / 1e3)
      L("jvm.gc_ms") = Metrics.mean(passes.map(_.gcMs.toDouble))
      if (traced.nonEmpty && untraced.nonEmpty)
        L("trace.overhead_pct") = (Metrics.median(traced.toSeq) / Metrics.median(untraced.toSeq) - 1.0) * 100.0
    }
  }

  /** One curation pass: (documents kept by the cluster clean-up, MinHash pairs). */
  private def pass(dir: String, req: Long): (Long, Seq[(Long, Long)]) =
    tracer.span("client.pass", req) {
      val kept = tracer.span("operators.dedup_clean_clusters", req) {
        Dedup.dedupCleanClusters(spark, dir).collect().head.getAs[Number](0).longValue
      }
      val pairs = tracer.span("operators.dedup_minhash", req) {
        Dedup.dedupMinhash(spark, dir).select("a", "b").collect().toSeq
          .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      }
      (kept, pairs)
    }
}

object Curate {
  val Docs = 5000
  val Clusters = 500
  val SetupRounds = 2
  val WarmupPasses = 3
  val MaxPasses = 1000
}
