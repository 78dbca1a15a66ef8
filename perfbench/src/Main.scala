package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the JVM half of the benchmark (`run.py` builds it and
  * passes these). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    gateDirs: Seq[String] = Nil,
    gateGenS: Seq[Double] = Nil,
    toy: Boolean = false,
    perturbCrawl: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      workload = m("workload"),
      seed = m("seed").toLong,
      seconds = m("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      work = m("work"),
      gateDirs = m.get("gate-dirs").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
      gateGenS = m.get("gate-gen-s").toSeq.flatMap(_.split(',')).filter(_.nonEmpty).map(_.toDouble),
      toy = m.getOrElse("toy", "0") == "1",
      perturbCrawl = m.getOrElse("perturb-crawl", "0") == "1")
  }
}

/** What one run measured. `e2e` holds the end-to-end metrics of an
  * untraced run, `layer` the per-layer metrics of a traced run;
  * `attempted`/`failed` count operations and output checks. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  /** Counts one operation or check; logs a failed one to stderr. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: FAILED $what") }
    ok
  }

  def note(k: String, v: Any): Unit = info(k) = v.toString

  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    import Json.str
    val e = e2e.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
    val l = layer.map { case (k, (v, u)) => s"${str(k)}: [${num(v)}, ${str(u)}]" }.mkString(", ")
    val i = info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")
    s"""{"attempted": $attempted, "failed": $failed, "e2e": {$e}, "layer": {$l}, "info": {$i}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}

object Main {

  def session(cores: Int, crawl: Boolean, work: String): SparkSession = {
    val local = Paths.get(work, "spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
    // the crawl engine sets its partition counts itself and runs with
    // AQE off (as CrawlJob and Bench do); the query gate keeps defaults
    if (crawl) b.config("spark.sql.adaptive.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: every sample counts, each by its ratio to the
    * others, so neither the fastest nor the slowest dominates. */
  def gmean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Sum of the heap pools' peak usage, in MiB. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val opt = Opts.parse(args)
    val report = new Report
    val calibBefore = Kernels.calibrate()
    try opt.workload match {
      case "crawl" => CrawlBench.run(opt, report)
      case "gate" => GateBench.run(opt, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        report.check(ok = false, s"workload aborted: $e")
        e.printStackTrace()
    }
    val calibAfter = Kernels.calibrate()
    report.note("calib_before_docs_per_s", calibBefore)
    report.note("calib_after_docs_per_s", calibAfter)
    if (opt.trace) {
      report.layer("host.calib_before") = (calibBefore, "1/s")
      report.layer("host.calib_after") = (calibAfter, "1/s")
      report.layer("jvm.peak_heap_mb") = (peakHeapMb(), "MiB")
    }
    Files.writeString(Paths.get(opt.work, "result.json"), report.json)
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
