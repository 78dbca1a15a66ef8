package graft

import java.io.File

/** Best-effort lifecycle for bench/fixture scratch directories.
  *
  * The bench fixtures are multi-GB parquet trees under java.io.tmpdir;
  * runs that die mid-flight (timeouts, kills, crashes) used to leave
  * them behind forever — measured: 75 GB of stale fixture data, enough
  * to fail later benchmark writes with ENOSPC. Every scratch dir is
  * therefore (a) registered for recursive delete at JVM exit, and
  * (b) swept at the NEXT run's startup if an earlier crash leaked it
  * (age-gated so a concurrently-running job's dirs are never touched).
  */
object TempDirs {

  /** Scratch-dir name prefixes owned by this library's mains/tests. */
  private val prefixes = Seq(
    "benchpages", "benchstore", "warmpages",
    "entrypages", "entrycrawl", "planpages", "sparklocal")

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) {
      val cs = f.listFiles()
      if (cs != null) cs.foreach(deleteRec)
    }
    f.delete(); ()
  }

  private val OwnerMarker = ".owner-pid"

  /** Register `dir` for recursive deletion at JVM exit; returns it.
    * Also drops a pid liveness marker inside the dir: fixture dirs are
    * write-once-read-many, so their mtime freezes at generation time —
    * an age gate alone would let a later concurrent run reap a LIVE
    * run's input mid-flight. sweepStale only reclaims marked dirs whose
    * owning JVM is gone. The marker records the owner's START TIME next
    * to the pid so a pid later RECYCLED to an unrelated long-lived
    * process doesn't keep the leak alive forever (pid alone can't tell
    * "my owner" from "whoever got its number next"). */
  def cleanupOnExit(dir: String): String = {
    try {
      new File(dir).mkdirs()
      val ph = ProcessHandle.current()
      val start = {
        val s = ph.info().startInstant()
        if (s.isPresent) s.get.toEpochMilli.toString else "?"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, OwnerMarker), s"${ph.pid()} $start")
    } catch { case _: Throwable => () }
    Runtime.getRuntime.addShutdownHook(new Thread(new Runnable {
      def run(): Unit =
        try deleteRec(new File(dir)) catch { case _: Throwable => () }
    }))
    dir
  }

  /** Parsed marker: (pid, recorded start-epoch-ms if stamped). Older
    * one-field markers parse as (pid, None). */
  private def ownerInfo(f: File): Option[(Long, Option[Long])] =
    try {
      val m = new File(f, OwnerMarker)
      if (!m.isFile) None
      else {
        val parts = java.nio.file.Files.readString(m.toPath).trim
          .split("\\s+")
        Some((parts(0).toLong,
          if (parts.length > 1) parts(1).toLongOption else None))
      }
    } catch { case _: Throwable => None }

  /** Ownership verdict for a marker: `Some(true)` = the pid is live AND
    * both sides carry a start stamp that MATCHES (provably the writer);
    * `Some(false)` = the pid is gone, or live with a DIFFERENT start
    * time (recycled — provably not the writer); `None` = can't tell
    * (either side lacks a start stamp). */
  private def ownerVerdict(pid: Long, recordedStart: Option[Long]): Option[Boolean] = {
    val oh = ProcessHandle.of(pid)
    if (!oh.isPresent) Some(false)
    else (recordedStart, {
      val s = oh.get.info().startInstant()
      if (s.isPresent) Some(s.get.toEpochMilli) else None
    }) match {
      case (Some(rec), Some(live)) => Some(live == rec)
      case _                       => None
    }
  }

  /** Delete leaked scratch dirs from PRIOR dead runs: any dir under
    * java.io.tmpdir with an owned prefix whose recorded owner process
    * is provably gone — including a pid RECYCLED to a process with a
    * different start time — (immediate reclaim), or, for unmarked dirs
    * (older layouts), not modified for `maxAgeMs`. The `markedMaxAgeMs`
    * backstop (default 7 days; no bench run lives that long) applies
    * ONLY when ownership is unverifiable — a marker written without a
    * start stamp, or a JVM that can't report one. A dir whose marker
    * start-stamp MATCHES its live process is the one case age can never
    * override: that process verifiably is the writer, still running. */
  def sweepStale(maxAgeMs: Long = 3600L * 1000,
                 markedMaxAgeMs: Long = 7L * 86400 * 1000): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val now = System.currentTimeMillis()
    val cutoff = now - maxAgeMs
    val markedCutoff = now - markedMaxAgeMs
    val fs = tmp.listFiles()
    if (fs != null) fs.foreach { f =>
      if (f.isDirectory && prefixes.exists(f.getName.startsWith)) {
        val reclaim = ownerInfo(f) match {
          case Some((pid, start)) => ownerVerdict(pid, start) match {
            case Some(isOwner) => !isOwner      // provable: pid verdict only
            case None => f.lastModified < markedCutoff // unverifiable: backstop
          }
          case None => f.lastModified < cutoff  // unmarked: age gate
        }
        if (reclaim)
          try deleteRec(f) catch { case _: Throwable => () }
      }
    }
  }
}
