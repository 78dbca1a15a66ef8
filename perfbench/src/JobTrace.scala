package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-metric totals over a set of Spark jobs. Times in seconds, sizes
  * in bytes. */
final case class Cost(
    jobs: Int = 0,
    taskRunS: Double = 0.0,
    taskCpuS: Double = 0.0,
    gcS: Double = 0.0,
    shuffleBytes: Long = 0L,
    spillBytes: Long = 0L) {
  def +(o: Cost): Cost = Cost(jobs + o.jobs, taskRunS + o.taskRunS,
    taskCpuS + o.taskCpuS, gcS + o.gcS, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes)
}

/** One Spark job as the listener saw it. `site` is the long call site
  * of its final stage (the stack of the thread that ran the action), so
  * a job can be attributed to the public function that launched it. */
final case class JobSpan(id: Int, startMs: Long, endMs: Long, site: String, stages: Seq[Int])

/** The benchmark's own listener: records every job's interval and call
  * site, and sums task metrics per stage. Attached only in traced runs.
  * Spans are kept in memory and read after the measured region. */
final class JobTrace extends SparkListener {
  import JobTrace._

  private val starts = mutable.Map.empty[Int, (Long, String, Seq[Int], String)]
  private val ends = mutable.Map.empty[Int, Long]
  // per stage: run ms, cpu ns, gc ms, shuffle write bytes, disk spill bytes
  private val stageAgg = mutable.Map.empty[Int, Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    starts(e.jobId) = (e.time, last, e.stageIds, desc)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ends(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](5))
      a(0) += m.executorRunTime
      a(1) += m.executorCpuTime
      a(2) += m.jvmGCTime
      a(3) += m.shuffleWriteMetrics.bytesWritten
      a(4) += m.diskBytesSpilled
    }
  }

  /** Blocks until every event posted before this call has been
    * delivered: runs a marker job and waits for its end event (the
    * listener bus is FIFO). */
  def drain(sc: SparkContext): Unit = {
    sc.setJobDescription(Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 10000L
    def seen = synchronized {
      starts.exists { case (id, s) => s._4 == Sentinel && ends.contains(id) }
    }
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(10)
    synchronized {
      val marks = starts.collect { case (id, s) if s._4 == Sentinel => id }
      marks.foreach { id => starts.remove(id); ends.remove(id) }
    }
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobSpan] = synchronized {
    starts.toSeq.collect {
      case (id, (st, site, stages, _)) if st >= fromMs && st <= toMs =>
        JobSpan(id, st, ends.getOrElse(id, toMs), site, stages)
    }.sortBy(_.id)
  }

  def cost(jobs: Seq[JobSpan]): Cost = synchronized {
    val stages = jobs.flatMap(_.stages).distinct
    val z = new Array[Long](5)
    stages.foreach(s => stageAgg.get(s).foreach(a => (0 until 5).foreach(k => z(k) += a(k))))
    Cost(jobs.size, z(0) / 1000.0, z(1) / 1e9, z(2) / 1000.0, z(3), z(4))
  }
}

object JobTrace {
  val Sentinel = "perfbench-drain"

  /** The store layer's share of a job list: jobs whose call site enters
    * the store (`SnapshotStore`/`FrontierStore`) through a read or a
    * write method. */
  def storeKind(site: String): Option[String] = {
    val frame = site.linesIterator.find(l =>
      l.contains("graft.crawl.SnapshotStore.") || l.contains("graft.crawl.FrontierStore."))
    frame.map(l => if (l.substring(l.indexOf("Store.") + 6).startsWith("write")) "write" else "read")
  }

  /** Wall time covered by the union of the jobs' intervals. */
  def busySeconds(jobs: Seq[JobSpan]): Double = {
    var total = 0L; var curS = -1L; var curE = -1L
    jobs.map(j => (j.startMs, j.endMs)).sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}
