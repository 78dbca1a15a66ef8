package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** How an in-process local session is built and configured, for every
  * main and spec (the spark-submit entry `crawl.CrawlJob` keeps its own
  * builder: production supplies the master there).
  *
  * `getOrCreate` hands back the one JVM-wide session and only applies
  * each builder's runtime confs to it, so a conf one caller sets stays
  * set for the next. [[session]] therefore sets AQE and whole-stage
  * codegen explicitly on every session it returns, and [[withConf]]
  * scopes a temporary change.
  */
object LocalSpark {

  val Aqe = "spark.sql.adaptive.enabled"
  val Codegen = "spark.sql.codegen.wholeStage"

  /** The crawl engine's session policy: AQE off (SCALE.md §8). The
    * engine sets its partition counts itself, and AQE's per-exchange
    * query-stage jobs add a scheduling round-trip per wave stage —
    * measured ~2.5× the jobs per wave and ~35% wall at micro-wave
    * sizes. The relational query surface keeps Spark's defaults. */
  val EngineConfs: Seq[(String, String)] = Seq(Aqe -> "false")

  /** [[EngineConfs]] for micro-wave fixtures: whole-stage codegen off
    * as well — the hot path is typed mapPartitions, so at these sizes
    * codegen only adds a janino compile per plan. */
  val MicroWaveConfs: Seq[(String, String)] = EngineConfs :+ (Codegen -> "false")

  /** The `local[cpus]` session: `cpus` shuffle partitions, UTC, no UI,
    * log level WARN and, when a new context starts, a [[TempDirs]]-
    * managed `spark.local.dir`. AQE and codegen are reset to Spark's
    * defaults, then the runtime confs `confs` are set, so a caller gets
    * the same confs whichever caller ran before it. */
  def session(cpus: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // shuffle/spill scratch a killed run can't leak (see TempDirs)
    if (SparkSession.getDefaultSession.forall(_.sparkContext.isStopped))
      b.config("spark.local.dir", TempDirs.cleanupOnExit(
        Files.createTempDirectory("sparklocal").toString))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Seq(Aqe, Codegen).foreach(s.conf.unset)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Runs `body` with `kvs` set on `spark`; afterwards, also when `body`
    * throws, each key gets its prior value back, or is unset again if
    * it was unset before. */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val current = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> current.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
