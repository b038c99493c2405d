package graft.cli

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.maintenance.{MaintenanceConfig, MaintenanceRunner}

import org.apache.hadoop.fs.Path

/** CLI front-end for the maintenance orchestrator — the reference's
  * `bin/logmaintenance` + admin/LogMaintenance.java entry point.
  *
  * {{{
  *   logmaintenance --root=/service -dc=99 -svc=websvc
  *     [--logdir=logs] [--filter-file=PATH.yaml]
  *     [--days-before-archive=N] [--days-before-delete=N]
  *     [--no-merge] [--wait-minutes=N]
  *     [--max-concurrent=N] [--target-file-size=BYTES] [--no-orphan-reset]
  *   logmaintenance --conf=FILE ...         # many services, one line each:
  *                                          #   <dc> <service> [options]
  *     [--max-concurrent-services=N] [--lock-dir=DIR]
  * }}}
  *
  * Compaction copies raw Avro blocks
  * ([[graft.maintenance.LogMaintenance.rawMerge]]). An argument outside
  * this list exits 1 with `;logmaintenance: unrecognized argument: <arg>`,
  * before the lock is taken or anything is submitted.
  *
  * Semantics carried over from the wrapper script:
  *   - ONE run at a time: an exclusive lock file (flock equivalent —
  *     bin/logmaintenance:164 `flock --exclusive --nonblock`) guards the
  *     whole invocation; a second concurrent run exits 1 immediately.
  *   - conf-file lines are `dc service options` with `#` comments and
  *     blank lines ignored (the reference's logmaintenance.conf, minus the
  *     username/principal/keytab columns — no Kerberos here), fanned out
  *     with bounded parallelism (`MAX_CONCURRENT_SERVICES`).
  *   - a `Job Stats : ... failed=N errors=M` line is printed per service —
  *     the wrapper graded runs by grepping exactly this (bin/logmaintenance
  *     :93-99) — and the process exits 1 if any job failed.
  */
object logmaintenance {

  def main(argv: Array[String]): Unit = sys.exit(run(argv))

  def run(argv: Array[String]): Int = {
    if (unrecognized(Seq(argv))) return 1
    val lockDir = opt(argv, "--lock-dir",
      sys.env.getOrElse("GRAFT_MAINT_LOCK_DIR", "/tmp/graft-logmaintenance"))
    Files.createDirectories(Paths.get(lockDir))
    val lockChannel = FileChannel.open(
      Paths.get(lockDir, "logmaintenance.global.lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock = try lockChannel.tryLock() catch {
      case _: java.nio.channels.OverlappingFileLockException => null
    }
    if (lock == null) {
      System.err.println(";Another logmaintenance run holds the lock; exiting.")
      lockChannel.close()
      return 1
    }
    try {
      val spark = LogToolCli.session()
      try runAll(spark, argv) finally spark.stop()
    } finally {
      lock.release()
      lockChannel.close()
    }
  }

  /** Everything after the lock + session plumbing — callable on an existing
    * session (tests, embedding).
    */
  def runAll(spark: org.apache.spark.sql.SparkSession,
      argv: Array[String]): Int = {
    val confFile = opt(argv, "--conf")
    if (confFile != null) {
      val lines = scala.util.Using.resource(
        scala.io.Source.fromFile(confFile, "UTF-8"))(
        _.getLines().map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq)
      // Validate EVERY line before submitting anything: a require()
      // thrown mid-submission would skip pool.shutdown() and leave
      // non-daemon workers pinning the JVM open forever.
      val serviceArgvs = lines.map { line =>
        val parts = line.split("\\s+")
        require(parts.length >= 2,
          s"conf line needs '<dc> <service> [options]': $line")
        // Line-level values FIRST so they win over any stray -dc/-svc
        // in the shared argv (opt() takes the first match).
        Array(s"-dc=${parts(0)}", s"-svc=${parts(1)}") ++
          parts.drop(2) ++ argv
      }
      if (unrecognized(serviceArgvs)) return 1
      val par = math.max(1,
        opt(argv, "--max-concurrent-services", "1").toInt)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val results = serviceArgvs.map { serviceArgv =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = runService(spark, serviceArgv)
          })
        }
        val codes = results.map(_.get())
        if (codes.forall(_ == 0)) 0 else 1
      } finally pool.shutdownNow()
    } else if (unrecognized(Seq(argv))) 1
    else runService(spark, argv)
  }

  /** Every flag this tool reads: a `=`-suffixed entry takes a value, any
    * other is a bare switch.
    */
  private val Flags = Seq("--root=", "-dc=", "-svc=", "--logdir=",
    "--filter-file=", "--days-before-archive=", "--days-before-delete=",
    "--no-merge", "--wait-minutes=", "--max-concurrent=",
    "--target-file-size=", "--no-orphan-reset", "--conf=",
    "--max-concurrent-services=", "--lock-dir=")

  /** Reports the first argument in `argvs` that is not one of [[Flags]] on
    * stderr, as [[LogToolCli.parseArgs]] does, and says whether there was
    * one.
    */
  private def unrecognized(argvs: Seq[Array[String]]): Boolean = {
    val bad = argvs.flatten.find(a => !Flags.exists(f =>
      if (f.endsWith("=")) a.startsWith(f) else a == f))
    bad.foreach(a => System.err.println(s";logmaintenance: unrecognized argument: $a"))
    bad.nonEmpty
  }

  private def runService(spark: org.apache.spark.sql.SparkSession,
      argv: Array[String]): Int = {
    // --root= names the service/ directory itself, as the reference's did.
    val root = opt(argv, "--root", s"${LogToolCli.logRoot()}/service")
    val dc = opt(argv, "-dc")
    val svc = opt(argv, "-svc")
    if (dc == null || svc == null) {
      System.err.println(";logmaintenance needs -dc= and -svc=")
      return 1
    }
    val logdir = opt(argv, "--logdir", "logs")
    val filterFile = opt(argv, "--filter-file")
    val daysBeforeArchive = opt(argv, "--days-before-archive", "-1").toInt
    val daysBeforeDelete = opt(argv, "--days-before-delete", "-1").toInt
    val filterYaml = Option(filterFile).map { f =>
      // The filter file can live on any Hadoop FS, like the reference's
      // workflow-dir yaml (LogMaintenance.java:484-492).
      val p = new Path(f)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        out.toString("UTF-8")
      } finally in.close()
    }
    if (daysBeforeArchive >= 0 && filterYaml.isEmpty) {
      System.err.println(";--days-before-archive needs --filter-file=")
      return 1
    }
    val config = MaintenanceConfig(
      doMerge = !argv.contains("--no-merge"),
      daysBeforeArchive = daysBeforeArchive,
      daysBeforeDelete = daysBeforeDelete,
      filterYaml = filterYaml,
      waitTimeMs = opt(argv, "--wait-minutes", "10").toLong * 60L * 1000L,
      targetFileSize =
        opt(argv, "--target-file-size", (512L * 1024 * 1024).toString).toLong,
      resetOrphans = !argv.contains("--no-orphan-reset"),
      maxConcurrent = opt(argv, "--max-concurrent", "4").toInt)
    try {
      val report = MaintenanceRunner.run(spark, root, dc, svc, logdir, config)
      report.failures.foreach { case (name, err) =>
        System.err.println(s";FAILED $name: $err")
      }
      println(s"Job Stats : $dc $svc ${report.summary} " +
        s"failed=${report.failures.size} errors=0")
      if (report.ok) 0 else 1
    } catch {
      case e: Exception =>
        System.err.println(s";logmaintenance $dc $svc failed: ${e.getMessage}")
        println(s"Job Stats : $dc $svc failed=0 errors=1")
        1
    }
  }

  private def opt(argv: Array[String], key: String,
      default: String = null): String =
    argv.collectFirst { case s if s.startsWith(key + "=") =>
      s.drop(key.length + 1)
    }.getOrElse(default)
}
