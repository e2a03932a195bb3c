package knnbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(
    workload: String = "", seed: Long = 0L, seconds: Double = 10.0,
    trace: Boolean = false, work: String = "", cores: Int = 4,
    smoke: Boolean = false, out: String = "", traceOut: String = "")

/** State shared by a workload run: the session, the tracer, the result
  * counters and the metrics it fills in. */
final class Run(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  val notes = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap[String, Double](Metrics.PerLayer.map(_._1 -> 0.0): _*)

  /** Count one checked operation; `problem` is None when its answer is right. */
  def check(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (problems.size < 20) problems += p
    }
  }

  def problemList: Seq[String] = problems.toSeq

  def path(name: String): String = Paths.get(opts.work, name).toAbsolutePath.toString

  /** When the timed window that starts now ends. */
  def deadline: Long = System.nanoTime() + (opts.seconds * 1e9).toLong
}

object Main {

  private def parse(args: Array[String]): Opts = {
    def go(rest: List[String], o: Opts): Opts = rest match {
      case "--workload" :: v :: t => go(t, o.copy(workload = v))
      case "--seed" :: v :: t => go(t, o.copy(seed = v.toLong))
      case "--seconds" :: v :: t => go(t, o.copy(seconds = v.toDouble))
      case "--trace" :: v :: t => go(t, o.copy(trace = v == "1"))
      case "--work" :: v :: t => go(t, o.copy(work = v))
      case "--cores" :: v :: t => go(t, o.copy(cores = v.toInt))
      case "--smoke" :: t => go(t, o.copy(smoke = true))
      case "--out" :: v :: t => go(t, o.copy(out = v))
      case "--trace-out" :: v :: t => go(t, o.copy(traceOut = v))
      case Nil => o
      case other => throw new IllegalArgumentException(s"unknown arguments: $other")
    }
    go(args.toList, Opts())
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("knnbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(s)
    s.conf.set("graft.index.location", Paths.get(o.work, "indexes").toAbsolutePath.toString)
    s
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    val kb = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    kb / 1024.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Set("search", "curate").contains(o.workload),
      s"unknown workload '${o.workload}' (search|curate)")
    Files.createDirectories(Paths.get(o.work))
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, o.trace)
    val run = new Run(spark, o, tracer)
    val gen = new Gen(o.seed)
    o.workload match {
      case "search" => new Search(run, gen).execute(sessionS)
      case "curate" => new Curate(run, gen).execute(sessionS)
    }
    run.e2e("peak_rss_mb") = peakRssMb()
    if (o.trace) {
      org.apache.spark.KnnBenchBus.drain(spark.sparkContext)
      if (o.traceOut.nonEmpty) tracer.write(Paths.get(o.traceOut))
    }
    spark.stop()

    val correct = run.failed == 0 && run.attempted > 0
    val wanted = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val values = if (o.trace) run.layer else run.e2e
    val metrics = wanted.map { case (name, unit) =>
      val v = values.getOrElse(name,
        throw new IllegalStateException(s"metric $name was not measured"))
      name -> Map("value" -> v, "unit" -> unit)
    }
    val result = Json.obj(
      "correct" -> correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
    run.problemList.foreach(p => System.err.println(s"knnbench: wrong answer: $p"))
    run.notes.foreach(n => System.err.println(s"knnbench: note: $n"))
    Files.write(Paths.get(o.out), (result + "\n").getBytes("UTF-8"))
    if (!correct) sys.exit(3)
  }
}
