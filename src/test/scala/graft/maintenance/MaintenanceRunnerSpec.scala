package graft.maintenance

import java.nio.file.Files
import java.time.format.DateTimeFormatter
import java.time.{LocalDate, ZoneOffset}

import graft.SparkTestBase
import graft.core.LogLine

import org.apache.hadoop.fs.Path

/** End-to-end lifecycle of the maintenance orchestrator
  * (admin/LogMaintenance.java:305-640) over a multi-service fixture tree:
  * merge of quiescent incoming, filter/archive past the archive cutoff,
  * retention deletion past the delete cutoff, orphan recovery, empty-dir
  * retirement, and `_READY` propagation up component → hour → date.
  */
class MaintenanceRunnerSpec extends SparkTestBase {
  import spark.implicits._

  private val dateFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd").withZone(ZoneOffset.UTC)
  private def day(minusDays: Int): String =
    LocalDate.now(ZoneOffset.UTC).minusDays(minusDays.toLong).format(dateFmt)

  private val yaml =
    """filters:
      |  - ".*":
      |    - { type: stringmatch, pattern: "ERROR" }
      |""".stripMargin

  private def fs =
    new Path("/tmp").getFileSystem(spark.sessionState.newHadoopConf())

  private def mkLines(n: Int): Seq[LogLine] =
    (0 until n).map(i => LogLine(1700000000000L + i * 10L,
      s"line $i level=${if (i % 3 == 0) "ERROR" else "INFO"}",
      0, 1700000000000L, i / 100L, i % 100 + 1L))

  private def dropIncoming(comp: String, files: Int = 2): Unit =
    (0 until files).foreach { d =>
      graft.engine.Ingest.write(mkLines(90).toDF().coalesce(1),
        s"$comp/incoming/upload-$d")
    }

  private def mkData(comp: String): Unit = {
    dropIncoming(comp)
    LogMaintenance.rawMerge(spark, comp)
  }

  // nowMs slack: fixture files are written moments before run(); with
  // waitTimeMs=0 quiescence still needs modTime strictly < nowMs.
  private def cfg(archive: Int = -1, delete: Int = -1) = MaintenanceConfig(
    daysBeforeArchive = archive, daysBeforeDelete = delete,
    filterYaml = if (archive >= 0) Some(yaml) else None,
    waitTimeMs = 0L, orphanMinAgeMs = 0L, maxConcurrent = 2,
    // +5 s: lets a dir the run itself just touched (e.g. the orphan's
    // restored incoming/) still count as quiescent within this pass.
    nowMs = System.currentTimeMillis() + 5000L)

  test("full lifecycle: merge, archive, delete, orphans, _READY propagation") {
    val root = Files.createTempDirectory("maintroot").toString
    val base = s"$root/99/websvc/logs"
    // Fresh partitions (today): two components to merge in one hour.
    dropIncoming(s"$base/${day(0)}/10/web-a")
    dropIncoming(s"$base/${day(0)}/10/web-b")
    // Aged partition (10 days): data ready to filter → archive.
    mkData(s"$base/${day(10)}/11/web-a")
    // Ancient partition (40 days): data past the delete cutoff.
    mkData(s"$base/${day(40)}/12/web-a")
    // Orphaned run: staged inputs under working/, no incoming left.
    val orphanComp = s"$base/${day(0)}/13/web-c"
    dropIncoming(orphanComp, files = 1)
    fs.mkdirs(new Path(orphanComp, "working/merge-123"))
    fs.rename(new Path(orphanComp, "incoming"),
      new Path(orphanComp, "working/merge-123/incoming"))

    val r1 = MaintenanceRunner.run(spark, root, "99", "websvc", "logs",
      cfg(archive = 5, delete = 30))
    assert(r1.ok, r1.failures.mkString("; "))

    def qual(p: String): String = fs.makeQualified(new Path(p)).toString

    // Merge: both fresh components compacted, incoming gone, _READY set.
    for (c <- Seq("web-a", "web-b")) {
      val comp = s"$base/${day(0)}/10/$c"
      assert(fs.exists(new Path(comp, "data/_READY")))
      assert(!fs.exists(new Path(comp, "incoming")))
      assert(spark.read.format("boom").load(s"$comp/data").count() === 180)
    }
    // The orphan's restored incoming keeps its original (old) mtime, so it
    // is quiescent and merges in the SAME pass it was recovered in.
    assert(r1.merged.toSet === Set(s"$base/${day(0)}/10/web-a",
      s"$base/${day(0)}/10/web-b", orphanComp).map(qual))
    assert(spark.read.format("boom").load(s"$orphanComp/data").count() === 90)

    // Archive: aged data filtered through the chain (ERROR lines only).
    val arch = s"$base/${day(10)}/11/web-a"
    assert(!fs.exists(new Path(arch, "data")))
    val archived = spark.read.format("boom").load(s"$arch/archive")
    assert(archived.count() === 60) // 180 lines, every 3rd is ERROR
    assert(r1.filtered === Seq(qual(arch)))

    // Delete: ancient data removed.
    assert(!fs.exists(new Path(s"$base/${day(40)}/12/web-a/data")))

    // Orphan recovery: staged inputs rejoined incoming/ before the merge
    // decision, working/ retired.
    assert(!fs.exists(new Path(orphanComp, "working")))
    assert(r1.orphansReset === Seq(qual(orphanComp)))

    // Second pass: directories touched during run 1 are quiescent now —
    // markers propagate component → hour → date; nothing re-merges.
    val r2 = MaintenanceRunner.run(spark, root, "99", "websvc", "logs",
      cfg(archive = 5, delete = 30))
    assert(r2.ok, r2.failures.mkString("; "))
    assert(r2.merged.isEmpty && r2.filtered.isEmpty)
    for (p <- Seq(s"$base/${day(0)}/10/web-a", s"$base/${day(0)}/10/web-b",
        s"$base/${day(0)}/10", orphanComp, s"$base/${day(0)}/13",
        s"$base/${day(0)}", s"$base/${day(10)}/11/web-a",
        s"$base/${day(10)}/11", s"$base/${day(10)}"))
      assert(fs.exists(new Path(p, "_READY")), s"no _READY at $p")

    // Runs 3-4: the ancient tree retires one level per pass (each deletion
    // touches the parent's mtime — same multi-pass convergence as the
    // reference's cron cadence).
    val r3 = MaintenanceRunner.run(spark, root, "99", "websvc", "logs",
      cfg(archive = 5, delete = 30))
    assert(r3.ok)
    val r4 = MaintenanceRunner.run(spark, root, "99", "websvc", "logs",
      cfg(archive = 5, delete = 30))
    assert(r4.merged.isEmpty && r4.filtered.isEmpty && r4.orphansReset.isEmpty)
    assert(!fs.exists(new Path(s"$base/${day(40)}")), "ancient date retired")
  }

  test("a failing partition does not abort the walk; failure is reported") {
    val root = Files.createTempDirectory("maintfail").toString
    val base = s"$root/99/websvc/logs"
    val bad = s"$base/${day(0)}/10/web-bad"
    val good = s"$base/${day(0)}/10/web-good"
    dropIncoming(good)
    // A visible non-Avro file: rawMerge's schema check must refuse it.
    fs.mkdirs(new Path(bad, "incoming"))
    val out = fs.create(new Path(bad, "incoming/junk-0"), true)
    out.write("not a boom container".getBytes("UTF-8")); out.close()

    val r = MaintenanceRunner.run(spark, root, "99", "websvc", "logs", cfg())
    assert(r.merged === Seq(fs.makeQualified(new Path(good)).toString))
    assert(r.failures.size === 1 && r.failures.head._1.contains("web-bad"))
    // Orphan protocol: the bad partition's inputs are back in incoming/.
    assert(fs.exists(new Path(bad, "incoming/junk-0")))
  }

  test("logmaintenance CLI: drives the lifecycle and prints Job Stats") {
    val root = Files.createTempDirectory("maintcli").toString
    val comp = s"$root/99/websvc/logs/${day(0)}/10/web-a"
    dropIncoming(comp)
    val outBuf = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(outBuf, true, "UTF-8")) {
      graft.cli.logmaintenance.runAll(spark, Array(
        s"--root=$root", "-dc=99", "-svc=websvc", "--wait-minutes=0"))
    }
    // --wait-minutes=0 still compares against a nowMs captured inside the
    // call, after the fixture write — quiescent, so the merge runs.
    assert(code === 0)
    val stats = outBuf.toString("UTF-8")
    assert(stats.contains("Job Stats :") && stats.contains("failed=0"),
      stats)
    assert(fs.exists(new Path(comp, "data/_READY")))
  }

  test("logmaintenance CLI: an unknown argument exits 1 before the lock and touches nothing") {
    val root = Files.createTempDirectory("maintbad").toString
    val comp = s"$root/99/websvc/logs/${day(0)}/10/web-a"
    dropIncoming(comp)
    def listing(): Seq[(String, Long)] = {
      val it = fs.listFiles(new Path(root), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += ((f.getPath.toString, f.getLen)) }
      b.sorted.toSeq
    }
    val before = listing()
    assert(before.exists(_._1.contains("/incoming/")))
    val lockDir = Files.createTempDirectory("maintlock-bad").toString
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(lockDir, "logmaintenance.global.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    for (bad <- Seq("--record-merge", "--days-before-delet=3")) {
      val argv = Array(s"--root=$root", "-dc=99", "-svc=websvc",
        "--wait-minutes=0", bad)
      assert(graft.cli.logmaintenance.runAll(spark, argv) === 1, bad)
      // Every conf-file line is checked before any service is submitted:
      // the valid first line must not compact websvc either.
      val conf = Files.createTempFile("maintbad", ".conf")
      Files.writeString(conf, s"99 websvc\n99 svc-other $bad\n")
      assert(graft.cli.logmaintenance.runAll(spark, Array(s"--conf=$conf",
        s"--root=$root", "--wait-minutes=0")) === 1, bad)
      // With the lock held elsewhere, run() still reports the argument:
      // the check comes before the lock (and so before any session).
      val err = new java.io.ByteArrayOutputStream()
      val oldErr = System.err
      val held = ch.lock()
      val code =
        try {
          System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
          graft.cli.logmaintenance.run(argv :+ s"--lock-dir=$lockDir")
        } finally { System.setErr(oldErr); held.release() }
      assert(code === 1)
      assert(err.toString("UTF-8").contains(
        s";logmaintenance: unrecognized argument: $bad"), err.toString("UTF-8"))
    }
    ch.close()
    assert(listing() === before)
  }

  test("logmaintenance CLI: conf file fans out services; global lock excludes") {
    val root = Files.createTempDirectory("maintconf").toString
    for (svc <- Seq("svc-a", "svc-b"))
      dropIncoming(s"$root/99/$svc/logs/${day(0)}/10/comp-x")
    val conf = Files.createTempFile("maint", ".conf")
    Files.writeString(conf,
      s"""# one service per line: <dc> <service> [options]
         |99 svc-a
         |99 svc-b --max-concurrent=1
         |""".stripMargin)
    val code = graft.cli.logmaintenance.runAll(spark, Array(
      s"--conf=$conf", s"--root=$root", "--wait-minutes=0",
      "--max-concurrent-services=2"))
    assert(code === 0)
    for (svc <- Seq("svc-a", "svc-b"))
      assert(fs.exists(new Path(
        s"$root/99/$svc/logs/${day(0)}/10/comp-x/data/_READY")))

    // Single-run guard: with the global lock held, run() exits 1 without
    // starting a session (flock-equivalent, bin/logmaintenance:164).
    val lockDir = Files.createTempDirectory("maintlock").toString
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(lockDir, "logmaintenance.global.lock"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val held = ch.lock()
    try {
      assert(graft.cli.logmaintenance.run(
        Array(s"--lock-dir=$lockDir", "-dc=99", "-svc=x")) === 1)
    } finally { held.release(); ch.close() }
  }
}
