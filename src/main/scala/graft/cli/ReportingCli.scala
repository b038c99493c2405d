package graft.cli

import graft.engine.Reporting

/** CLI front-ends for the reporting/metadata tools (the reference's
  * IndexLogs, QueryIndex and LogStats drivers — util/IndexLogs.java:377-394,
  * QueryIndex.java:58-439, LogStats.java:35-227).
  *
  * {{{
  *   logindex  --root=/data                      # index CSV to stdout
  *   logindex  --root=/data --unmerged           # unmerged-dirs report
  *   queryindex --root=/data -dc=99 -svc='web.*' [-type=..] [-comp=..] [-start=yyyyMMdd] [-end=yyyyMMdd]
  *   logstats  --root=/data -dc=99 -svc=websvc -comp=app \
  *             [-start=yyyyMMddHH] [-end=yyyyMMddHH] [--list]
  * }}}
  */
object ReportingCli {
  /** `--root=`, else [[LogToolCli.logRoot]]: the directory that holds
    * `service/`, the same default root as logcat's.
    */
  def root(argv: Array[String], env: Map[String, String] = sys.env): String =
    opt(argv, "--root", LogToolCli.logRoot(env))

  def opt(argv: Array[String], key: String, default: String = null): String =
    argv.collectFirst { case s if s.startsWith(key + "=") => s.drop(key.length + 1) }
      .getOrElse(default)

  def csv(df: org.apache.spark.sql.DataFrame): Unit = {
    println(df.columns.mkString(","))
    df.collect().foreach(r =>
      println((0 until r.length).map(i => Option(r.get(i)).map(_.toString).getOrElse(""))
        .mkString(",")))
  }
}

object logindex {
  def main(argv: Array[String]): Unit = {
    val root = ReportingCli.root(argv)
    val spark = LogToolCli.session()
    try {
      val listing = Reporting.fileListing(spark, root)
      if (argv.contains("--unmerged")) ReportingCli.csv(Reporting.unmerged(listing))
      else ReportingCli.csv(Reporting.indexLogs(listing))
    } finally spark.stop()
  }
}

object queryindex {
  def main(argv: Array[String]): Unit = {
    val root = ReportingCli.root(argv)
    val spark = LogToolCli.session()
    try {
      val idx = Reporting.indexLogs(Reporting.fileListing(spark, root))
      ReportingCli.csv(Reporting.queryIndex(idx,
        dcRegex = ReportingCli.opt(argv, "-dc", ".*"),
        serviceRegex = ReportingCli.opt(argv, "-svc", ".*"),
        typeRegex = ReportingCli.opt(argv, "-type", ".*"),
        componentRegex = ReportingCli.opt(argv, "-comp", ".*"),
        startDate = ReportingCli.opt(argv, "-start", "00000000"),
        endDate = ReportingCli.opt(argv, "-end", "99999999")))
    } finally spark.stop()
  }
}

object logstats {
  def main(argv: Array[String]): Unit = {
    val root = ReportingCli.root(argv)
    val dc = ReportingCli.opt(argv, "-dc")
    val svc = ReportingCli.opt(argv, "-svc")
    val comp = ReportingCli.opt(argv, "-comp")
    if (dc == null || svc == null || comp == null) {
      System.err.println(";logstats: -dc, -svc and -comp are required")
      sys.exit(1)
    }
    val spark = LogToolCli.session()
    try {
      val stats = Reporting.logStats(Reporting.fileListing(spark, root), dc, svc, comp)
      if (argv.contains("--list")) {
        // Compact per-hour listing (one row per (date, hour) with bytes).
        print(Reporting.renderStats(stats))
      } else {
        // The reference's ingest plot (util/LogStats.java:118-226).
        // -start/-end are yyyyMMddHH (GMT); default = the data's span.
        val oneHour = 3600000L
        def parseHour(s: String): Long =
          java.time.LocalDate.parse(s.take(8),
              java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd"))
            .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli +
            s.drop(8).toInt * oneHour
        val rows = stats.collect()
        if (rows.isEmpty) {
          println("\n    No indexed data for " + dc + "/" + svc + "/" + comp + ".")
        } else {
          val spanStart = rows.map(r =>
            parseHour(r.getAs[String]("date") + r.getAs[String]("hour"))).min
          val spanEnd = rows.map(r =>
            parseHour(r.getAs[String]("date") + r.getAs[String]("hour"))).max + oneHour
          val start = Option(ReportingCli.opt(argv, "-start"))
            .map(parseHour).getOrElse(spanStart)
          val end = Option(ReportingCli.opt(argv, "-end"))
            .map(parseHour).getOrElse(spanEnd)
          val vols = Reporting.hourlyVolumes(stats, start, end)
          print(Reporting.renderStatsChart(vols, start, end))
        }
      }
    } finally spark.stop()
  }
}
