package graft.maintenance

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Orchestration knobs — the reference read these from per-service env/conf
  * (admin/LogMaintenance.java:106-175: DAYS_BEFORE_ARCHIVE,
  * DAYS_BEFORE_DELETE, LOGDRIVER_LOGDIR_NAME, merge/filter toggles).
  *
  * @param daysBeforeArchive  filter `data/` → `archive/` once a partition is
  *                           older than this many days; negative = never
  *                           (reference :150-160)
  * @param daysBeforeDelete   delete incoming/data/archive older than this
  *                           many days; negative = never (reference :161-168)
  * @param filterYaml     YAML filter-chain text applied at archive time
  *                       (reference resolves `<service>.yaml`; required when
  *                       archiving is on)
  * @param waitTimeMs     quiescence window — a directory touched more
  *                       recently than this is skipped, so a live ingest is
  *                       never compacted mid-write (reference WAIT_TIME, :80)
  * @param maxConcurrent  max simultaneously running merge/filter Spark jobs
  *                       (reference JobRunner maxConcurrentMR, :191-196)
  */
final case class MaintenanceConfig(
    doMerge: Boolean = true,
    daysBeforeArchive: Int = -1,
    daysBeforeDelete: Int = -1,
    filterYaml: Option[String] = None,
    waitTimeMs: Long = 10L * 60 * 1000,
    targetFileSize: Long = 512L * 1024 * 1024,
    resetOrphans: Boolean = true,
    orphanMinAgeMs: Long = 24L * 3600 * 1000,
    maxConcurrent: Int = 4,
    nowMs: Long = System.currentTimeMillis()) {
  require(maxConcurrent >= 1, "maxConcurrent must be >= 1")
  require(daysBeforeArchive < 0 || filterYaml.nonEmpty,
    "archiving needs a filter chain (filterYaml)")
}

/** What one maintenance pass did — the reference logged these and its
  * wrapper script graded the run by the JobRunner's `failed=0 errors=0`
  * stats line (bin/logmaintenance:93-99); failures here carry the same
  * signal programmatically.
  */
final case class MaintenanceReport(
    merged: Seq[String],
    filtered: Seq[String],
    deleted: Seq[String],
    readyMarked: Seq[String],
    orphansReset: Seq[String],
    failures: Seq[(String, String)]) {
  def ok: Boolean = failures.isEmpty
  def summary: String =
    s"merged=${merged.size} filtered=${filtered.size} " +
      s"deleted=${deleted.size} ready=${readyMarked.size} " +
      s"orphansReset=${orphansReset.size} failures=${failures.size}"
}

/** The maintenance orchestrator (reference admin/LogMaintenance.java:305-640):
  * walk a service's log tree, recognize directory roles by position/pattern,
  * and run the partition lifecycle — orphan recovery, merge compaction of
  * `incoming/`, filter/archive of aged `data/`, retention deletion, empty-dir
  * cleanup, and `_READY` propagation up hour and date levels.
  *
  * Tree shape (the reference's path patterns, :232-300):
  * {{{ <root>/<dc>/<service>/<logdir>/<yyyyMMdd>/<HH>/<component>/
  *       {incoming/, data/, archive/, working/} }}}
  *
  * Differences from the reference, by design:
  *   - No ZooKeeper locks: every job stages via `working/<id>/` and
  *     promotes each file with a rename, so no reader sees a half-written
  *     file; a query that lists a partition while a job moves its lines
  *     can still read them twice or not at all (see [[LogMaintenance]]).
  *     The single-RUN guard lives in the CLI (lock file).
  *   - Two phases instead of one DFS: phase 1 enqueues per-partition Spark
  *     jobs (bounded pool — the reference's JobRunner), phase 2 walks
  *     bottom-up for cleanup + `_READY` propagation, so one pass converges
  *     where the reference needed a later cron run to mark parents ready.
  *   - A job failure never aborts the walk: it is recorded and every other
  *     partition still gets processed (the reference's JobRunner likewise
  *     kept going and reported `failed=N`).
  */
object MaintenanceRunner {

  /** Reference LogMaintenance.java:75 — a mergeable input is either a
    * numbered part file or a Boom container.
    */
  private val ValidFile = ".*([0-9]|\\.bm)$"
  private val ReadyMarker = "_READY"
  private val hourFmt =
    DateTimeFormatter.ofPattern("yyyyMMddHH").withZone(ZoneOffset.UTC)

  def run(
      spark: SparkSession,
      rootDir: String,
      dcNumber: String,
      service: String,
      logdir: String = "logs",
      config: MaintenanceConfig = MaintenanceConfig()): MaintenanceReport = {
    val conf = spark.sessionState.newHadoopConf()
    val base = new Path(new Path(new Path(rootDir, dcNumber), service), logdir)
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base))
      return MaintenanceReport(Nil, Nil, Nil, Nil, Nil, Nil)

    val now = config.nowMs
    // Cutoffs as yyyyMMddHH strings compared lexically — the reference's
    // exact comparison (:199-216, timestamp.compareTo(cutoff) < 0).
    def cutoff(days: Int): String =
      hourFmt.format(Instant.ofEpochMilli(now - days * 24L * 3600 * 1000))
    val archiveCutoff =
      if (config.daysBeforeArchive >= 0) Some(cutoff(config.daysBeforeArchive))
      else None
    val deleteCutoff =
      if (config.daysBeforeDelete >= 0) Some(cutoff(config.daysBeforeDelete))
      else None

    val merged = ArrayBuffer.empty[String]
    val filtered = ArrayBuffer.empty[String]
    val deleted = ArrayBuffer.empty[String]
    val ready = ArrayBuffer.empty[String]
    val orphans = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[(String, String)]

    def quiet(s: FileStatus): Boolean =
      s.getModificationTime < now - config.waitTimeMs
    def listDirs(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .sortBy(_.getPath.getName)
    def olderThan(ts: String, c: Option[String]): Boolean =
      c.exists(ts < _)
    def deleteDir(p: Path): Unit = { fs.delete(p, true); deleted += p.toString }

    // ---- Phase 1: per-partition jobs (bounded pool = the JobRunner) ----
    val pool = Executors.newFixedThreadPool(config.maxConcurrent)
    val jobs = ArrayBuffer.empty[(String, java.util.concurrent.Future[_])]
    def submit(name: String)(body: => Unit): Unit =
      jobs += ((name, pool.submit(new Runnable {
        def run(): Unit = body
      })))

    for {
      dateDir <- listDirs(base) if dateDir.getPath.getName.matches("\\d{8}")
      hourDir <- listDirs(dateDir.getPath) if hourDir.getPath.getName.matches("\\d{2}")
      compDir <- listDirs(hourDir.getPath)
    } {
      val comp = compDir.getPath
      val ts = dateDir.getPath.getName + hourDir.getPath.getName

      // Orphan recovery first, so a dead run's staged inputs rejoin
      // incoming/ before the merge decision (reference :580-632).
      if (config.resetOrphans && fs.exists(new Path(comp, "working"))) {
        val before = fs.listStatus(new Path(comp, "working")).length
        LogMaintenance.resetOrphanedJobs(fs, comp.toString,
          config.orphanMinAgeMs, now)
        if (fs.exists(new Path(comp, "working"))) {
          if (fs.listStatus(new Path(comp, "working")).isEmpty)
            fs.delete(new Path(comp, "working"), true)
        }
        if (!fs.exists(new Path(comp, "working")) && before > 0)
          orphans += comp.toString
      }

      val incoming = new Path(comp, "incoming")
      var wantMerge = false
      if (fs.exists(incoming)) {
        if (olderThan(ts, deleteCutoff)) deleteDir(incoming)
        else if (config.doMerge) {
          // Mergeable = quiescent (dir + every child untouched for
          // waitTimeMs) and holds at least one valid file, directly or one
          // level down (the reference's host-subdir layout, :404-421).
          val children = fs.listStatus(incoming)
          val tooYoung = !quiet(fs.getFileStatus(incoming)) ||
            children.exists(c => !quiet(c))
          def validIn(ss: Seq[FileStatus]): Boolean = ss.exists(s =>
            s.isFile && s.getPath.getName.matches(ValidFile))
          val hasValid = validIn(children.toSeq) ||
            children.filter(_.isDirectory).exists(c =>
              validIn(fs.listStatus(c.getPath).toSeq))
          wantMerge = !tooYoung && hasValid
        }
      }

      val data = new Path(comp, "data")
      var wantFilter = false
      if (fs.exists(data) || wantMerge) {
        if (fs.exists(data) && olderThan(ts, deleteCutoff)) deleteDir(data)
        // An aged partition with BOTH late incoming and existing data
        // archives AFTER the merge lands (ordered inside one task below)
        // so merged lines are never archived-around.
        else wantFilter = olderThan(ts, archiveCutoff)
      }

      // ONE task per component, steps ordered: running merge and
      // filterArchive concurrently on the same partition would let
      // filterArchive's final delete of data/ race the merge's promotion
      // into it — merged-but-never-archived lines would be lost. The
      // reference serialized the same pair with its ZK write lock.
      if (wantMerge || wantFilter) submit(
        s"${if (wantMerge) "merge" else ""}${if (wantMerge && wantFilter) "+"
          else ""}${if (wantFilter) "filter" else ""} $comp") {
        if (wantMerge) {
          LogMaintenance.rawMerge(spark, comp.toString, config.targetFileSize)
          merged.synchronized { merged += comp.toString }
        }
        if (wantFilter && fs.exists(data)) {
          LogMaintenance.filterArchive(spark, comp.toString,
            comp.getName, config.filterYaml.get)
          filtered.synchronized { filtered += comp.toString }
        }
      }

      val archive = new Path(comp, "archive")
      if (fs.exists(archive) && olderThan(ts, deleteCutoff))
        deleteDir(archive)
    }

    pool.shutdown()
    jobs.foreach { case (name, f) =>
      try f.get(24, TimeUnit.HOURS)
      catch {
        case e: java.util.concurrent.ExecutionException =>
          failures += ((name, Option(e.getCause).getOrElse(e).toString))
        case e: Exception => failures += ((name, e.toString))
      }
    }
    pool.shutdownNow()

    // ---- Phase 2: bottom-up cleanup + _READY propagation (:326-383) ----
    // A component is done when nothing is left in flight and its output
    // carries the merge marker; an hour/date is done when every child dir
    // is. Old dirs holding nothing (or only the marker) are retired.
    def onlyMarker(p: Path): Boolean = {
      val cs = fs.listStatus(p)
      cs.isEmpty ||
        (cs.length == 1 && cs(0).getPath.getName == ReadyMarker)
    }
    def markReady(p: Path): Unit =
      if (!fs.exists(new Path(p, ReadyMarker))) {
        fs.create(new Path(p, ReadyMarker), false).close()
        ready += p.toString
      }

    for (dateDir <- listDirs(base) if dateDir.getPath.getName.matches("\\d{8}")) {
      for (hourDir <- listDirs(dateDir.getPath)
          if hourDir.getPath.getName.matches("\\d{2}")) {
        for (compDir <- listDirs(hourDir.getPath)) {
          val comp = compDir.getPath
          if (quiet(compDir) && onlyMarker(comp)) deleteDir(comp)
          else {
            // An EMPTY working/ (a pre-cleanup-era leftover) is not in
            // flight; a populated one is.
            def live(p: Path): Boolean =
              fs.exists(p) && fs.listStatus(p).nonEmpty
            val inFlight = fs.exists(new Path(comp, "incoming")) ||
              live(new Path(comp, "working"))
            val doneOut = fs.exists(new Path(comp, "data/" + ReadyMarker)) ||
              fs.exists(new Path(comp, "archive"))
            if (quiet(compDir) && !inFlight && doneOut) markReady(comp)
          }
        }
        val hour = hourDir.getPath
        if (quiet(fs.getFileStatus(hour)) && onlyMarker(hour)) deleteDir(hour)
        else {
          val kids = listDirs(hour)
          if (quiet(fs.getFileStatus(hour)) && kids.nonEmpty &&
              kids.forall(k => fs.exists(new Path(k.getPath, ReadyMarker))))
            markReady(hour)
        }
      }
      val date = dateDir.getPath
      if (quiet(fs.getFileStatus(date)) && onlyMarker(date)) deleteDir(date)
      else {
        val kids = listDirs(date)
        if (quiet(fs.getFileStatus(date)) && kids.nonEmpty &&
            kids.forall(k => fs.exists(new Path(k.getPath, ReadyMarker))))
          markReady(date)
      }
    }

    MaintenanceReport(merged.toSeq, filtered.toSeq, deleted.toSeq,
      ready.toSeq, orphans.toSeq, failures.toSeq)
  }
}
