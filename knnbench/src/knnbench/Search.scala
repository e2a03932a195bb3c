package knnbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, size, sum}

import graft.embed.HashingSentenceEmbedder
import graft.functions.HashEmbed
import graft.index.IvfIndex
import graft.plans.VectorIndexCatalog
import graft.sources.{DocumentStore, TableConfig}

/** The `search` workload: SQL kNN over a DocumentStore table indexed with
  * `CREATE INDEX … USING ivfflat`, one client, closed loop, every query
  * text distinct. A traced run also times the same SQL against an
  * unindexed copy of the table, and after the timed window ingests a few
  * micro-batches (embed, `DocumentStore.insert`, `IvfIndex.append`) to
  * measure and check the write path. */
final class Search(run: Run, gen: Gen) {
  import Search._

  private val spark = run.spark
  private val tracer = run.tracer
  private val embedder = HashingSentenceEmbedder(Dim)

  /** One answered kNN read, kept for the checks after the timed window.
    * `tableRows`: how many rows of the exact corpus existed at read time. */
  final case class Read(text: String, q: Array[Float], rows: Array[Row],
                        tableRows: Int, expectId: Option[Long])

  private var reqId = 0L

  private val (docs, batch) = if (run.opts.smoke) (2000, 50) else (Docs, WriteBatch)

  private def knnSql(view: String, q: Array[Float]): String = {
    val lit = q.map(java.lang.Float.toString).mkString("CAST(array(", ",", ") AS ARRAY<FLOAT>)")
    s"SELECT id, text, 1 - cosine_distance(embedding, $lit) AS similarity " +
      s"FROM $view ORDER BY cosine_distance(embedding, $lit) LIMIT $K"
  }

  /** One SQL kNN request, timed from just before the text is embedded to
    * the last collected row. Returns the answer and its latency in ms. */
  private def knn(view: String, text: String, tableRows: Int, expectId: Option[Long],
                  traced: Boolean): (Read, Double) = {
    reqId += 1
    val req = reqId
    def body(): (Array[Float], Array[Row]) = tracer.span("client.read", req) {
      val q = tracer.span("embed.query", req)(HashEmbed.embedToFloats(text, Dim))
      val df = tracer.span("plans.parse", req)(spark.sql(knnSql(view, q)))
      tracer.span("plans.optimize", req)(df.queryExecution.optimizedPlan)
      (q, tracer.span("index.exec", req)(df.collect()))
    }
    val t0 = System.nanoTime()
    val (q, rows) = if (traced) body() else tracer.untraced(body())
    (Read(text, q, rows, tableRows, expectId), (System.nanoTime() - t0) / 1e6)
  }

  /** Embed + bulk load `texts` into a fresh table and index it through SQL.
    * Returns the table and the index build time in seconds. */
  private def loadAndIndex(texts: Array[String], name: String): (TableConfig, Double) = {
    val cfg = TableConfig(run.path(s"tables/$name"))
    val input = spark.createDataFrame(texts.toSeq.map(Tuple1(_))).toDF("text")
    tracer.span("sources.copy", -1) {
      DocumentStore.copy(Left(embedder.embedFrame(input)), cfg)(spark)
    }
    DocumentStore.read(cfg)(spark).createOrReplaceTempView(name)
    val t0 = System.nanoTime()
    tracer.span("index.build", -1) {
      spark.sql(s"CREATE INDEX ${name}_idx ON $name " +
        s"USING ivfflat (embedding vector_cosine_ops) WITH (lists = $Lists)")
    }
    val buildS = (System.nanoTime() - t0) / 1e9
    spark.sql(s"SET ivfflat.probes = $Probes")
    (cfg, buildS)
  }

  /** Answer the warm-up queries (query latency keeps falling over a fresh
    * JVM's first several queries); each must plan an index scan. */
  private def warmUp(texts: Array[String]): Unit = {
    val plans = texts.map { text =>
      val df = spark.sql(knnSql(View, HashEmbed.embedToFloats(text, Dim)))
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    run.check(
      if (plans.forall(_.contains("list_id"))) None
      else Some(s"$View: the kNN plan does not scan the ivfflat index"))
  }

  /** The table as the engine stored it: (id, text, embedding) rows. */
  private def readBack(cfg: TableConfig): Array[(Long, String, Array[Float])] =
    DocumentStore.read(cfg)(spark).select("id", "text", "embedding").collect().map { r =>
      (r.getLong(0), r.getString(1), r.getAs[collection.Seq[Float]](2).toArray)
    }

  def execute(sessionS: Double): Unit = {
    val texts = gen.corpus(docs, stream = 0)
    val queries = gen.queries(MaxRequests + WarmupQueries, stream = 0)

    // set-up, once (a second lists = 100 build in a fresh JVM does not fit
    // the time a run gets): load and index, then warm-up queries. setup_s
    // is session start plus both; the benchmark's own read-back between
    // them is not counted.
    val t0 = System.nanoTime()
    val (cfg, buildS) = loadAndIndex(texts, View)
    val loadS = (System.nanoTime() - t0) / 1e9
    val idx = VectorIndexCatalog.all.collectFirst { case (n, _, p) if n == s"${View}_idx" => p }
      .getOrElse(throw new IllegalStateException(s"index ${View}_idx is not registered"))
    val base = readBack(cfg)
    val corpus = new Exact.Corpus(base.map(_._1), base.map(_._3))
    // traced runs time the same queries against an unindexed copy too
    if (tracer.enabled) {
      val exactCfg = TableConfig(run.path(s"tables/$ExactView"))
      DocumentStore.copy(Left(embedder.embedFrame(
        spark.createDataFrame(texts.toSeq.map(Tuple1(_))).toDF("text"))), exactCfg)(spark)
      DocumentStore.read(exactCfg)(spark).createOrReplaceTempView(ExactView)
    }
    System.gc() // read-back garbage must not be collected inside the window
    val t1 = System.nanoTime()
    warmUp(queries.takeRight(WarmupQueries))
    val warmS = (System.nanoTime() - t1) / 1e9
    run.e2e("setup_s") = sessionS + loadS + warmS
    run.layer("index.build_s") = buildS
    run.notes += f"set-up: session $sessionS%.2f s, load + index $loadS%.2f s " +
      f"(index build $buildS%.2f s), warm-up $warmS%.2f s"

    // every other request of a traced run stays untraced: the two halves'
    // medians give the tracing overhead
    val reads = mutable.ArrayBuffer.empty[Read]
    val ms = mutable.ArrayBuffer.empty[Double]
    val tracedMs = mutable.ArrayBuffer.empty[Double]
    val untracedMs = mutable.ArrayBuffer.empty[Double]
    val exact = mutable.ArrayBuffer.empty[(Array[Float], Array[Row])]
    val start = System.nanoTime()
    val end = run.deadline
    var i = 0
    while (System.nanoTime() < end && i < MaxRequests) {
      val traced = tracer.enabled && i % 2 == 1
      val (read, t) = knn(View, queries(i), corpus.size, None, traced)
      reads += read
      ms += t
      if (tracer.enabled) (if (traced) tracedMs else untracedMs) += t
      // every fourth query of a traced run also runs against the
      // unindexed copy: the exact scan the index has to beat
      if (tracer.enabled && i % 4 == 1) {
        val df = spark.sql(knnSql(ExactView, read.q))
        exact += read.q -> tracer.span("functions.exact_knn", -1)(df.collect())
      }
      i += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    run.e2e("request_p50_ms") = Metrics.median(ms.toSeq)
    run.e2e("throughput_per_s") = ms.size / wallS
    run.e2e("quality") = checkReads(corpus, reads.toSeq)
    val idByText = base.map(b => b._2 -> b._1).toMap
    exact.foreach { case (q, rows) => checkExact(corpus, idByText, q, rows) }
    run.notes += f"search: ${ms.size} queries over ${corpus.size} docs in $wallS%.1f s; ms: " +
      ms.map(m => f"$m%.0f").mkString(" ")

    if (tracer.enabled) {
      storage(cfg, idx, base)
      writePath(cfg, idx, base)
      traceMetrics(ms.toSeq, tracedMs.toSeq, untracedMs.toSeq)
    }
  }

  /** Traced runs only: ingest `WriteRounds` micro-batches into the searched
    * table and make each searchable, then read each batch back through SQL
    * kNN. `DocumentStore.insert` leaves an index built by CREATE INDEX
    * stale and does not return the ids it assigns, so the batch goes into
    * the index with `IvfIndex.append` under ids the benchmark assigns
    * itself (NOTES.md, defect c). Checks: a document of each batch is
    * found at rank 1 for its own text, and the table holds base plus
    * inserted rows. Records how many rows share their id (defect a). */
  private def writePath(cfg: TableConfig, idx: String,
                        base: Array[(Long, String, Array[Float])]): Unit = {
    val pick = new java.util.Random(run.opts.seed)
    val fresh = mutable.ArrayBuffer.empty[(String, Long)]
    val reads = mutable.ArrayBuffer.empty[Read]
    (0 until WriteRounds).foreach { round =>
      val texts = gen.corpus(batch, stream = 1000 + round)
      val rows = texts.toSeq.zipWithIndex.map { case (t, j) => (t, BenchIdBase + fresh.size + j) }
      fresh ++= rows
      val req = -2L - round
      tracer.span("client.batch", req) {
        val embedded = embedder.embedFrame(spark.createDataFrame(rows).toDF("text", "id"))
        tracer.span("embed.batch", req)(embedded.agg(sum(size(col("embedding")))).head())
        tracer.span("sources.insert", req)(DocumentStore.insert(embedded, cfg))
        tracer.span("index.append", req) {
          IvfIndex.append(embedded.select("text", "embedding", "id"), idx,
            idCol = "id", vecCol = "embedding")
        }
      }
      val own = rows(pick.nextInt(rows.size))
      reads += knn(View, own._1, base.length + fresh.size, Some(own._2), traced = true)._1
    }
    val after = readBack(cfg)
    run.check(
      if (after.length == base.length + fresh.size) None
      else Some(s"table holds ${after.length} rows, expected ${base.length} + ${fresh.size}"))
    val dupRows = after.groupBy(_._1).valuesIterator.filter(_.length > 1).map(_.length).sum
    run.layer("sources.dup_id_rows") = dupRows
    run.notes += s"write path: $dupRows of ${after.length} table rows share their id " +
      "with another row"
    val vecByText = after.map(a => a._2 -> a._3).toMap
    val all = base.map(b => (b._2, b._1)) ++ fresh
    val missing = all.count(a => !vecByText.contains(a._1))
    run.check(if (missing == 0) None else Some(s"$missing written texts are missing from the table"))
    if (missing == 0)
      checkReads(new Exact.Corpus(all.map(_._2), all.map(a => vecByText(a._1))), reads.toSeq)
    run.layer("index.lists_files") = Files.dataFiles(s"$idx/lists")
  }

  /** Check every answered read against the exact answer: ten rows, each
    * row's similarity equal to the exact cosine similarity of that id,
    * rows in similarity order, and (own-text reads) the inserted document
    * at rank 1. Returns mean recall@10, where a returned row counts as a
    * true neighbour when its exact distance is within the exact tenth
    * distance (ties at the boundary are common with hashed embeddings). */
  private def checkReads(corpus: Exact.Corpus, reads: Seq[Read]): Double = {
    val recalls = reads.map { r =>
      val truth = corpus.topKDistances(r.q, K, limit = r.tableRows)
      val ids = r.rows.map(_.getLong(0))
      val problem =
        if (r.rows.length != K) Some(s"'${r.text}': ${r.rows.length} rows, expected $K")
        else if (!ids.forall(corpus.contains)) Some(s"'${r.text}': unknown id returned")
        else {
          val sims = r.rows.map(_.getDouble(2))
          val exact = ids.map(id => 1.0 - corpus.distanceTo(r.q, id))
          if (sims.zip(exact).exists { case (a, b) => math.abs(a - b) > SimTolerance })
            Some(s"'${r.text}': a returned similarity differs from the exact one")
          else if (sims.sliding(2).exists(p => p(1) > p(0) + SimTolerance))
            Some(s"'${r.text}': rows are not in similarity order")
          else r.expectId.flatMap(e =>
            if (ids.head == e) None
            else Some(s"'${r.text}': inserted document $e not at rank 1 (got ${ids.head})"))
        }
      run.check(problem)
      if (problem.nonEmpty) 0.0
      else ids.count(id => corpus.distanceTo(r.q, id) <= truth.last + 1e-6).toDouble / K
    }
    Metrics.mean(recalls)
  }

  /** The exact (unindexed) SQL kNN must agree with the brute-force answer.
    * The copy assigned its own ids, so rows are matched by text. */
  private def checkExact(corpus: Exact.Corpus, idByText: Map[String, Long],
                         q: Array[Float], rows: Array[Row]): Unit = {
    val truth = corpus.topKDistances(q, K)
    run.check(
      if (rows.length == K && rows.forall(r => idByText.get(r.getString(1)).exists(id =>
          corpus.distanceTo(q, id) <= truth.last + 1e-6))) None
      else Some("exact SQL kNN over the unindexed table disagrees with brute force"))
  }

  /** Table and index bytes against user bytes (text plus 4·d per vector). */
  private def storage(cfg: TableConfig, idx: String,
                      rows: Array[(Long, String, Array[Float])]): Unit = {
    val user = rows.map(r => r._2.getBytes("UTF-8").length + 4L * Dim).sum.toDouble
    run.layer("sources.bytes_per_user_byte") = Files.bytes(cfg.tablePath) / user
    run.layer("index.bytes_per_user_byte") = Files.bytes(idx) / user
  }

  /** Per-layer figures from the traced spans. */
  private def traceMetrics(ms: Seq[Double], tracedMs: Seq[Double],
                           untracedMs: Seq[Double]): Unit = {
    val spans = tracer.all
    def durs(name: String) = spans.filter(_.name == name).map(_.durMs)
    def per(name: String, f: Counts => Double) =
      Metrics.mean(spans.filter(_.name == name).map(s => f(tracer.counts(s.id, inclusive = true))))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Metrics.median(xs)
    val L = run.layer
    L("client.read_p50_ms") = med(ms)
    L("embed.query_ms") = med(durs("embed.query"))
    L("embed.batch_ms") = med(durs("embed.batch"))
    L("sources.copy_s") = med(durs("sources.copy")) / 1e3
    L("sources.insert_ms") = med(durs("sources.insert"))
    L("plans.parse_ms") = med(durs("plans.parse"))
    L("plans.optimize_ms") = med(durs("plans.optimize"))
    L("plans.optimize_jobs") = per("plans.optimize", _.jobs.toDouble)
    L("index.build_jobs") = per("index.build", _.jobs.toDouble)
    L("index.build_task_s") = per("index.build", _.runMs / 1e3)
    L("index.exec_ms") = med(durs("index.exec"))
    L("index.exec_tasks") = per("index.exec", _.tasks.toDouble)
    L("index.mb_read_per_query") = per("index.exec", _.inputBytes / Metrics.MB)
    L("index.rows_per_result") = per("index.exec", _.inputRecords.toDouble / K)
    L("index.append_ms") = med(durs("index.append"))
    L("index.append_jobs") = per("index.append", _.jobs.toDouble)
    L("functions.exact_knn_ms") = med(durs("functions.exact_knn"))
    L("jvm.gc_ms") = Metrics.mean(spans.filter(_.name == "client.read").map(_.gcMs.toDouble))
    if (tracedMs.nonEmpty && untracedMs.nonEmpty)
      L("trace.overhead_pct") = (med(tracedMs) / med(untracedMs) - 1.0) * 100.0
  }
}

object Search {
  val Dim = 384
  val K = 10
  val Lists = 100
  val Probes = 10
  val View = "docs"
  val ExactView = "docs_exact"
  /** Set-up queries: query latency keeps falling over a fresh JVM's first
    * several queries, and that fall must not reach the timed window. */
  val WarmupQueries = 8
  val Docs = 20000
  val MaxRequests = 5000
  val WriteRounds = 2
  val WriteBatch = 200
  /** Ids the benchmark gives ingested rows in the index: far above any id
    * `monotonically_increasing_id` hands the base table at this scale. */
  val BenchIdBase = 1L << 50
  val SimTolerance = 1e-4
}

/** File-system sizes under a table or index directory. */
object Files {
  private def walk(dir: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(dir.stripPrefix("file:")))
  }
  private def isData(f: java.io.File) =
    !f.getName.startsWith(".") && !f.getName.startsWith("_")

  def bytes(dir: String): Double = walk(dir).filter(isData).map(_.length).sum.toDouble
  def dataFiles(dir: String): Double =
    walk(dir).count(f => isData(f) && f.getName.endsWith(".parquet")).toDouble
}
