package perfbench

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The query gate: one pass of the `SparkEntry.queries` entries in
  * [[GateBench.Queries]] over the benchmark's generated tables, each
  * query's rows collected (what an analyst gets back). The collected rows
  * are written out after the pass for `run.py` to check against the
  * DuckDB oracle. */
object GateBench {

  /** The gate's queries (by id) with the module whose operator does each
    * query's main work: one per module, plus the five slowest at sf0.1
    * (q21, q23, q38, q63, q89, all `ops.Dedup`). Plain relational plans
    * are `SparkEntry.relational`; scheduling over crawl state is
    * `SparkEntry.crawl`. */
  val Queries: Seq[(String, String)] = {
    def m(mod: String, qs: String*) = qs.map(_ -> mod)
    m("ops.Dedup", "q21", "q23", "q38", "q63", "q89") ++
      m("ops.Similarity", "q41") ++
      m("ops.Multimodal", "q39") ++
      m("ops.TextOps", "q92") ++
      m("ops.UrlOps", "q83") ++
      m("ops.LinkGraph", "q67") ++
      m("ops.Sketches", "q94") ++
      m("sources.Warc", "q72") ++
      m("sources.Sitemap", "q75") ++
      m("SparkEntry.crawl", "q78") ++
      m("SparkEntry.relational", "q04")
  }
  private val moduleOf = Queries.toMap
  val Modules: Seq[String] = Queries.map(_._2).distinct
  def module(q: String): String = moduleOf(q.takeWhile(_ != '_'))

  private val OverheadQueries = 8

  /** Queries reported one by one in the traced run. */
  val Named: Seq[String] = Seq("q21", "q23", "q38", "q63", "q89")

  /** Set-up: a warm-up read, a warm-up query outside the gate (so that no
    * gate query pays for the JVM's first heavy plan),
    * and the queries whose first call builds a memoized archive fixture
    * for the data directory. */
  val SetupQueries: Seq[String] = Seq("q04_dim_join", "q66_corpus_prep", "q72_warc_read",
    "q75_sitemap_read")

  final case class QRun(name: String, sec: Double, ok: Boolean, rows: Array[Row],
      schema: StructType, fromMs: Long, toMs: Long)

  private def noop(spark: SparkSession, q: String, dir: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  def runQuery(spark: SparkSession, q: String, dir: String, keep: Boolean): QRun = {
    val from = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(q)(spark, dir)
      val rows = df.collect()
      val sec = Main.seconds(t0)
      QRun(q, sec, ok = true, if (keep) rows else null, df.schema, from, System.currentTimeMillis())
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $q failed: $e")
        QRun(q, Main.seconds(t0), ok = false, null, null, from, System.currentTimeMillis())
    }
  }

  def run(opt: Opts, rep: Report): Unit = {
    require(opt.gateDirs.size == opt.gateGenS.size && opt.gateDirs.nonEmpty, "gate data dirs missing")
    val spark = Main.session(4, crawl = false, opt.work)
    val rounds = opt.gateDirs.zip(opt.gateGenS).map { case (d, gen) =>
      val t0 = System.nanoTime()
      SetupQueries.foreach(q => noop(spark, q, d))
      gen + Main.seconds(t0)
    }
    rep.e2e("setup_s") = Main.median(rounds)
    rep.note("setup_rounds_s", rounds.mkString(","))
    val dir = opt.gateDirs.last
    val ids = if (opt.toy) "q04" +: Named else Queries.map(_._1)
    val names = SparkEntry.queries.keys.toSeq.filter(q => ids.contains(q.takeWhile(_ != '_')))
    require(names.size == ids.size, "a gate query is missing from SparkEntry.queries")
    // a fixed order: a query's cold time depends on the queries before
    // it, so an order drawn from the seed widened the run-to-run spread
    val order = names.sorted
    val trace = if (opt.trace) Some(new JobTrace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    // one pass, whatever --seconds says (about 20 s); its rows are the
    // checked output, and in a traced run it is the traced pass
    val first = order.map(q => runQuery(spark, q, dir, keep = true))
    trace.foreach(_.drain(spark.sparkContext))
    first.foreach(r => rep.check(r.ok, s"query ${r.name}"))
    val samples = first.filter(_.ok).map(_.sec)
    rep.e2e("throughput_per_s") = first.size / first.map(_.sec).sum
    rep.e2e("step_s_gmean") = Main.gmean(samples)
    rep.note("gate_s", first.map(_.sec).sum)
    rep.note("queries", first.size)
    rep.note("query_s", first.map(r => f"${r.name.takeWhile(_ != '_')}:${r.sec}%.3f").mkString(" "))
    trace.foreach { t =>
      layerMetrics(rep, t, first)
      // tracing overhead: the first queries of the order again, each
      // untraced and traced back to back, alternating which goes first
      val pairs = order.take(OverheadQueries).zipWithIndex.map { case (q, k) =>
        def once(traced: Boolean) = {
          if (!traced) spark.sparkContext.removeSparkListener(t)
          try runQuery(spark, q, dir, keep = false).sec
          finally if (!traced) spark.sparkContext.addSparkListener(t)
        }
        if (k % 2 == 0) { val u = once(false); (u, once(true)) }
        else { val tr = once(true); (once(false), tr) }
      }
      t.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      rep.layer("trace.overhead_frac") = (pairs.map(_._2).sum / pairs.map(_._1).sum - 1.0, "frac")
    }
    writeOutputs(spark, opt, first)
  }

  private def layerMetrics(rep: Report, t: JobTrace, runs: Seq[QRun]): Unit = {
    val per = runs.map(r => (r, t.cost(t.jobsBetween(r.fromMs, r.toMs))))
    Modules.foreach { mod =>
      val mine = per.filter(p => module(p._1.name) == mod)
      val c = mine.map(_._2).foldLeft(Cost())(_ + _)
      rep.layer(s"${mod}_s") = (mine.map(_._1.sec).sum, "s")
      rep.layer(s"${mod}_task_cpu_s") = (c.taskCpuS, "s")
      rep.layer(s"${mod}_shuffle_bytes") = (c.shuffleBytes.toDouble, "bytes")
      rep.layer(s"${mod}_spill_bytes") = (c.spillBytes.toDouble, "bytes")
    }
    Named.foreach { q =>
      rep.layer(s"gate.${q}_s") = (runs.find(_.name.takeWhile(_ != '_') == q).map(_.sec).getOrElse(Double.NaN), "s")
    }
  }

  /** One parquet directory per query plus the oracle SQL, under
    * `work/out`. */
  private def writeOutputs(spark: SparkSession, opt: Opts, runs: Seq[QRun]): Unit = {
    val out = Paths.get(opt.work, "out")
    Files.createDirectories(out)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val writes = runs.filter(_.ok).map { r =>
        Future(spark.createDataFrame(r.rows.toList.asJava, r.schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(r.name).toString))
      }
      writes.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
    val sql = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) =>
      Json.str(k) + ": " + Json.str(v)
    }.mkString("{\n", ",\n", "\n}\n")
    Files.writeString(out.resolve("oracle_sql.json"), sql)
  }
}
