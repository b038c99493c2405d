package graft.maintenance

import java.nio.file.Files

import graft.SparkTestBase
import graft.core.LogLine
import graft.engine.{Ingest, Reporting}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class FilterConfigSpec extends org.scalatest.funsuite.AnyFunSuite {
  private val yaml =
    """filters:
      |  - "web-.*":
      |    - { type: regex,       pattern: "ERROR.*" }
      |    - { type: stringmatch, pattern: "WARN" }
      |  - "web-special":
      |    - { type: dropall }
      |  - "db-.*":
      |    - { type: keepall }
      |  - "tmp-.*":
      |    - { type: dropall }
      |""".stripMargin

  test("first matching conf set wins (reference break FILTERS)") {
    // web-special matches "web-.*" first, so the dropall set is never reached
    val chain = FilterConfig.loadFilters("web-special", yaml)
    assert(chain.filters === Seq(RegexFilter("ERROR.*"), StringMatchFilter("WARN")))
  }

  test("keepall / dropall chains flagged for fast paths") {
    assert(FilterConfig.loadFilters("db-main", yaml).keepsAll)
    assert(FilterConfig.loadFilters("tmp-x", yaml).dropsAll)
    assert(!FilterConfig.loadFilters("web-a", yaml).keepsAll)
  }

  test("no matching component yields empty chain") {
    assert(FilterConfig.loadFilters("other", yaml).filters.isEmpty)
  }

  test("malformed items are skipped like the reference") {
    val bad =
      """filters:
        |  - "c":
        |    - { type: regex }
        |    - { pattern: "x" }
        |    - { type: bogus, pattern: "y" }
        |    - { type: stringmatch, pattern: "ok" }
        |""".stripMargin
    assert(FilterConfig.loadFilters("c", bad).filters === Seq(StringMatchFilter("ok")))
  }
}

class LogMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  private def mkLines(n: Int, baseTs: Long): Seq[LogLine] =
    (0 until n).map(i => LogLine(baseTs + i * 10L, s"line $i level=${if (i % 3 == 0) "ERROR" else "INFO"}", 0, baseTs, i / 100L, i % 100 + 1L))

  private def newPartitionDir(): String = {
    val dir = Files.createTempDirectory("maint").toString
    // several small incoming drops, as the reference's uploaders produce
    (0 until 3).foreach { d =>
      Ingest.write(mkLines(100, 1700000000000L + d * 10000L).toDF().coalesce(1),
        s"$dir/incoming/upload-$d")
    }
    dir
  }

  test("rawMerge compacts by verbatim block copy (M2): rows, metadata, and compressed block bytes survive") {
    val dir = newPartitionDir()
    // Capture each input's compressed block payload sequence BEFORE the
    // merge (the staging rename moves the files).
    def blockPayloads(p: Path, fs: org.apache.hadoop.fs.FileSystem): Seq[(Long, Int)] = {
      import org.apache.avro.file.DataFileStream
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      val in = new DataFileStream[GenericRecord](fs.open(p),
        new GenericDatumReader[GenericRecord]())
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      try while (in.hasNext) {
        // getBlockCount is valid once a block is loaded; consume the
        // block's records to advance. Records per block + a content
        // checksum of the decoded messages pins the block STRUCTURE.
        val n = in.getBlockCount
        var h = 0
        (0L until n).foreach { _ =>
          h = 31 * h + in.next().toString.hashCode
        }
        out += ((n, h))
      } finally in.close()
      out.toSeq
    }
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val inputs = {
      val it = fs.listFiles(new Path(dir, "incoming"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) { val s = it.next(); if (s.getPath.getName.endsWith(".bm")) b += s.getPath }
      b.sortBy(_.toString).toSeq
    }
    val wantBlocks = inputs.flatMap(p => blockPayloads(p, fs))
    val wantRows = spark.read.format("boom").load(s"$dir/incoming")
      .collect().map(_.toString).sorted.toSeq

    LogMaintenance.rawMerge(spark, dir)
    assert(fs.exists(new Path(dir, "data/_READY")))
    assert(!fs.exists(new Path(dir, "incoming")))
    // Full row multiset identical — including block metadata columns
    // (createTime, blockNumber), which a decode+re-encode merge would
    // also preserve but a re-PACKING one would not keep per-block.
    val got = spark.read.format("boom").load(s"$dir/data")
      .collect().map(_.toString).sorted.toSeq
    assert(got === wantRows)
    // Block structure: the merged container's (count, content-hash) block
    // sequence is a concatenation-permutation of the inputs' — blocks
    // were copied whole, never re-packed.
    val merged = {
      val it = fs.listFiles(new Path(dir, "data"), true)
      val b = scala.collection.mutable.ArrayBuffer.empty[Path]
      while (it.hasNext) { val s = it.next(); if (s.getPath.getName.endsWith(".bm")) b += s.getPath }
      b.sortBy(_.toString).toSeq
    }
    val gotBlocks = merged.flatMap(p => blockPayloads(p, fs))
    assert(gotBlocks.sorted === wantBlocks.sorted)
    // One output bin at default target size → one file.
    assert(merged.size === 1)
  }

  test("rawMerge: multi-bin packing promotes every bin and splits at the size target") {
    val dir = newPartitionDir() // 3 drops, each a few KB compressed
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val inBytes = fs.getContentSummary(new Path(dir, "incoming")).getLength
    // Target below any single pair-sum forces one bin per input file.
    LogMaintenance.rawMerge(spark, dir, targetFileSize = inBytes / 3)
    val outs = fs.listStatus(new Path(dir, "data"))
      .filter(_.getPath.getName.endsWith(".bm"))
    assert(outs.length === 3)
    assert(spark.read.format("boom").load(s"$dir/data").count() === 300)
    // Deterministic bin names from the two-phase commit.
    assert(outs.forall(_.getPath.getName.matches("raw-\\d+-\\d+\\.bm")))
  }

  test("rawMerge: foreign-codec input degrades to block recompression; non-Boom schema refuses") {
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = Files.createTempDirectory("rawmerge-codec").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    Ingest.write(mkLines(50, 1700000000000L).toDF().coalesce(1),
      s"$dir/incoming/deflate-drop")
    // A NULL-codec Boom container (same schema, no compression) — the
    // appendAllFrom(recompress=false) fast path is codec-gated, so this
    // file must take the recompress branch and still merge cleanly.
    val schema = graft.boom.BoomSchemas.logBlockSchema
    val lineSchema = graft.boom.BoomSchemas.messageWithMillisSchema
    locally {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema)) // no setCodec → null
      val p = new Path(dir, "incoming/null-codec/a.bm")
      fs.mkdirs(p.getParent)
      w.create(schema, fs.create(p, true))
      val line = new GenericData.Record(lineSchema)
      line.put("ms", 5L); line.put("eventId", 0); line.put("message", "plain")
      val blk = new GenericData.Record(schema)
      blk.put("second", 1700000100L); blk.put("createTime", 1700000100000L)
      blk.put("blockNumber", 9L)
      blk.put("logLines", java.util.List.of(line))
      w.append(blk); w.close()
    }
    LogMaintenance.rawMerge(spark, dir)
    val merged = spark.read.format("boom").load(s"$dir/data")
    assert(merged.count() === 51)
    assert(merged.where(col("message") === "plain").count() === 1)

    // A non-Boom schema in incoming/ must refuse (reference checks
    // AvroBlockWriterMapper.java:71-76) and leave the data recoverable.
    val dir2 = Files.createTempDirectory("rawmerge-badschema").toString
    val fs2 = new Path(dir2).getFileSystem(spark.sessionState.newHadoopConf())
    locally {
      val other = org.apache.avro.SchemaBuilder.record("x").fields()
        .requiredLong("v").endRecord()
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](other))
      val p = new Path(dir2, "incoming/bad/a.bm")
      fs2.mkdirs(p.getParent)
      w.create(other, fs2.create(p, true))
      val r = new GenericData.Record(other); r.put("v", 1L)
      w.append(r); w.close()
    }
    // A GOOD boom drop shares the incoming tree with the bad file — the
    // two-phase commit must keep its bin OUT of data/ when the job fails,
    // or a post-cleanup re-run would duplicate its blocks.
    Ingest.write(mkLines(10, 1700000000000L).toDF().coalesce(1),
      s"$dir2/incoming/good-drop")
    intercept[Exception] { LogMaintenance.rawMerge(spark, dir2) }
    // Orphan recovery put the staged inputs back...
    assert(fs2.exists(new Path(dir2, "incoming/bad/a.bm")))
    // ...and NO bin was promoted (data/ absent or empty of raw-* files).
    val dataDir2 = new Path(dir2, "data")
    if (fs2.exists(dataDir2)) {
      assert(fs2.listStatus(dataDir2)
        .forall(!_.getPath.getName.startsWith("raw-")))
    }
    // After removing the bad file, the re-run merges exactly once.
    fs2.delete(new Path(dir2, "incoming/bad"), true)
    LogMaintenance.rawMerge(spark, dir2)
    assert(spark.read.format("boom").load(s"$dir2/data").count() === 10)
  }

  test("filterArchive keeps only matching lines") {
    val dir = newPartitionDir()
    LogMaintenance.rawMerge(spark, dir)
    val yaml =
      """filters:
        |  - ".*":
        |    - { type: stringmatch, pattern: "ERROR" }
        |""".stripMargin
    LogMaintenance.filterArchive(spark, dir, "comp", yaml)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new Path(dir, "data")))
    val archived = spark.read.format("boom").load(s"$dir/archive")
    assert(archived.count() === 102) // 34 ERROR lines per 100-line drop
    assert(archived.where(!col("message").contains("ERROR")).count() === 0)
  }

  test("filterArchive writes each kept block back whole when uploads interleave in time") {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("maint-interleave").toString
    val t0 = 1699999200000L // 2023-11-14T22:00:00Z
    val fmt = java.time.format.DateTimeFormatter.ISO_INSTANT
    // Three uploads of one hour whose lines alternate millisecond by
    // millisecond: each upload's blocks hold 200 lines of one second.
    (0 until 3).foreach { d =>
      val text = Files.createTempFile("interleave", ".log")
      val lines = (0 until 2000).map { i =>
        s"${fmt.format(java.time.Instant.ofEpochMilli(t0 + i * 5L + d))} d$d line $i"
      }
      Files.write(text, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Ingest.textToCatalog(spark, text.toString, root, "1", "svc", "comp", runId = s"up$d")
    }
    val part = s"$root/service/1/svc/logs/20231114/22/comp"
    LogMaintenance.rawMerge(spark, part)
    def blocks(sub: String): Long = {
      val files = Files.walk(java.nio.file.Paths.get(part, sub))
      try files.iterator().asScala.filter(_.toString.endsWith(".bm")).map { p =>
        val r = new DataFileReader[GenericRecord](p.toFile, new GenericDatumReader[GenericRecord]())
        try r.iterator().asScala.size.toLong finally r.close()
      }.sum finally files.close()
    }
    def rows(sub: String): Seq[String] =
      spark.read.format("boom").load(s"$part/$sub").collect().map(_.toString).sorted.toSeq
    val dataBlocks = blocks("data")
    val dataRows = rows("data")
    assert(dataBlocks === 30)
    LogMaintenance.filterArchive(spark, part, "comp",
      "filters:\n  - \".*\":\n    - { type: regex, pattern: \"line\" }\n")
    assert(blocks("archive") === dataBlocks)
    assert(rows("archive") === dataRows)
  }

  test("keepall fast-path renames without rewrite; dropall deletes") {
    val keep = newPartitionDir()
    LogMaintenance.rawMerge(spark, keep)
    val fs = new Path(keep).getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = fs.listStatus(new Path(keep, "data"))
      .map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
    LogMaintenance.filterArchive(spark, keep, "c",
      "filters:\n  - \".*\":\n    - { type: keepall }\n")
    val archiveFiles = fs.listStatus(new Path(keep, "archive")).map(_.getPath.getName).toSet
    assert(archiveFiles === dataFiles) // byte-identical rename, same names

    val drop = newPartitionDir()
    LogMaintenance.rawMerge(spark, drop)
    LogMaintenance.filterArchive(spark, drop, "c",
      "filters:\n  - \".*\":\n    - { type: dropall }\n")
    assert(!fs.exists(new Path(drop, "data")))
    assert(!fs.exists(new Path(drop, "archive")))
  }

  test("merge failure leaves no data loss (orphan recovery)") {
    val dir = newPartitionDir()
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    // Simulate a dead run: stage incoming under working/ then recover.
    fs.rename(new Path(dir, "incoming"), new Path(dir, "working/dead-run/incoming"))
    assert(!fs.exists(new Path(dir, "incoming")))
    // A FRESH working dir is presumed live and must not be reclaimed...
    LogMaintenance.resetOrphanedJobs(fs, dir)
    assert(!fs.exists(new Path(dir, "incoming")))
    assert(fs.exists(new Path(dir, "working/dead-run")))
    // ...and one past the age threshold is dead and reclaimed.
    LogMaintenance.resetOrphanedJobs(fs, dir,
      nowMs = System.currentTimeMillis() + 25L * 3600 * 1000)
    assert(fs.exists(new Path(dir, "incoming")))
    assert(!fs.exists(new Path(dir, "working/dead-run")))
    LogMaintenance.rawMerge(spark, dir)
    assert(spark.read.format("boom").load(s"$dir/data").count() === 300)
  }

  test("retention deletes old date partitions only") {
    val dir = Files.createTempDirectory("ret").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    Seq("20240101", "20240110", "20240120", "not-a-date").foreach { d =>
      fs.mkdirs(new Path(dir, d))
    }
    val nowMs = java.time.LocalDate.of(2024, 1, 21).atStartOfDay
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000L
    val deleted = LogMaintenance.retentionDelete(fs, dir, daysToKeep = 10, nowMs = nowMs)
    assert(deleted.map(p => new Path(p).getName).sorted === Seq("20240101", "20240110"))
    assert(fs.exists(new Path(dir, "20240120")))
    assert(fs.exists(new Path(dir, "not-a-date")))
  }
}

class ReportingSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val root: String = {
    val dir = Files.createTempDirectory("report").toString
    def touch(rel: String, size: Int): Unit = {
      val p = new Path(dir, rel)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      out.write(new Array[Byte](size))
      out.close()
    }
    touch("service/99/svc-a/logs/20240101/00/web/data/f1.bm", 100)
    touch("service/99/svc-a/logs/20240101/01/web/data/f2.bm", 150)
    touch("service/99/svc-a/logs/20240102/00/web/archive/f3.bm", 50)
    touch("service/99/svc-a/logs/20240102/02/web/incoming/u1/f4", 30)
    touch("service/99/svc-a/logs/20240101/00/db/data/f5.bm", 500)
    touch("service/12/svc-b/logs/20240105/10/api/data/f6.bm", 77)
    dir
  }

  test("fileListing parses partition coordinates") {
    val l = Reporting.fileListing(spark, root)
    assert(l.count() === 6)
    val row = l.where(col("path").endsWith("f6.bm")).head()
    assert(row.getAs[String]("dc") === "12")
    assert(row.getAs[String]("service") === "svc-b")
    assert(row.getAs[String]("date") === "20240105")
    assert(row.getAs[String]("hour") === "10")
    assert(row.getAs[String]("component") === "api")
    assert(row.getAs[String]("branch") === "data")
  }

  test("indexLogs rollup matches reference columns") {
    val idx = Reporting.indexLogs(Reporting.fileListing(spark, root))
    val web = idx.where(col("component") === "web").head()
    assert(web.getAs[String]("start_date") === "20240101")
    assert(web.getAs[String]("end_date") === "20240102")
    assert(web.getAs[String]("archive_date") === "20240102")
    assert(web.getAs[Long]("total_size") === 330L)
    assert(web.getAs[Long]("data_size") === 250L)
    assert(web.getAs[Long]("incoming_size") === 30L)
    assert(web.getAs[Long]("archive_size") === 50L)
  }

  test("unmerged flags hours with incoming but no data") {
    val um = Reporting.unmerged(Reporting.fileListing(spark, root))
      .select("date", "hour").as[(String, String)].collect().toSet
    assert(um === Set(("20240102", "02")))
  }

  test("queryIndex filters and computes rates") {
    val idx = Reporting.indexLogs(Reporting.fileListing(spark, root))
    val q = Reporting.queryIndex(idx, dcRegex = "99", componentRegex = "web")
    assert(q.count() === 1)
    assert(q.head().getAs[Long]("bytes_per_day") === 125L) // 250 data bytes / 2 days
  }

  test("logStats per-hour volumes") {
    val stats = Reporting.logStats(Reporting.fileListing(spark, root), "99", "svc-a", "web")
    val byHour = stats.select("date", "hour", "bytes").as[(String, String, Long)].collect().toSet
    assert(byHour === Set(("20240101", "00", 100L), ("20240101", "01", 150L),
      ("20240102", "00", 50L), ("20240102", "02", 30L)))
    assert(Reporting.renderStats(stats).nonEmpty)
  }

  test("eventCube: rollup levels are internally consistent") {
    val ev = Seq(
      ("click", 0L * 3600000L, 1L, 1.0),
      ("click", 0L * 3600000L, 2L, 2.0),
      ("click", 1L * 3600000L, 1L, 3.0),
      ("view", 0L * 3600000L, 3L, 4.0))
      .toDF("event_type", "ts_ms", "user_id", "value")
    val got = Reporting.eventCube(ev).collect()
      .map(r => (r.getLong(2), Option(r.getString(0)).getOrElse("-"),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got === Set(
      (0L, "click", 0L, 2L, 2L, 3.0), // leaves
      (0L, "click", 1L, 1L, 1L, 3.0),
      (0L, "view", 0L, 1L, 1L, 4.0),
      (1L, "click", -1L, 3L, 2L, 6.0), // per-type subtotals
      (1L, "view", -1L, 1L, 1L, 4.0),
      (3L, "-", -1L, 4L, 3L, 10.0))) // grand total
  }

  test("hourlyVolumes maps sparse (date, hour) rows onto the dense hour grid") {
    val stats = Reporting.logStats(Reporting.fileListing(spark, root), "99", "svc-a", "web")
    val start = java.time.LocalDate.of(2024, 1, 1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
    val vols = Reporting.hourlyVolumes(stats, start, start + 27L * 3600000L)
    assert(vols.length === 27)
    assert(vols(0) === 100d && vols(1) === 150d) // 20240101 00/01
    assert(vols(24) === 50d && vols(26) === 30d) // 20240102 00/02
    assert(vols.sum === 330d)                    // everything else 0
  }

  test("renderStatsChart matches the reference printStats layout (golden)") {
    // 48 synthetic hours (sine + sawtooth) rendered at 1 hour/column —
    // golden pinned from a validated run; any drift in the resampling
    // loop, the 11-level thresholds, the axis labels, or the tick rows
    // breaks byte equality (LogStats.java:118-226 semantics).
    val vols = Array.tabulate(48)(h =>
      math.sin(h / 6.0) * 40000 + 50000 + (h % 5) * 3000)
    val start = 1330387200000L // 2012-02-28 00:00 UTC
    val got = Reporting.renderStatsChart(vols, start, start + 48L * 3600000L)
    val golden =
      """|
         |    Activity from 2012-02-28 00h to 2012-03-01 00h inclusive, 48 hours total.
         |    Ingest over this period was a total of 2.80 MB at an average of 59.68 KB/hour.
         |    Peak ingest over this period was 99.51 KB/hour and minimum ingest was 11.37 KB/hour.
         |
         | 99.51 KB/hour -         ▄█                                  ▄
         |                        ███▄███▄                            ▄█ ██
         |                     █ █████████                           ▄█████
         |                    ████████████▄                         ▄██████
         |                   ████████████████▄                    █▄███████
         |    Ingest        ███████████████████                  ██████████
         |                 ████████████████████                 ███████████
         |                 █████████████████████               ████████████
         |                 ███████████████████████▄▄         █▄████████████
         |                 █████████████████████████       ▄███████████████
         |                 █████████████████████████▄▄▄██ ▄████████████████
         | 11.37 KB/hour - █▀▀▀▀▀▀▀▀▀▀▀█▀▀▀▀▀▀▀▀▀▀▀█▀▀▀▀▀▀▀▀▀▀▀█▀▀▀▀▀▀▀▀▀▀▀
         |               00:00       12:00       00:00       12:00
         |             2012-02-28  2012-02-28  2012-02-29  2012-02-29
         |                               Time (GMT), 1.00 hours per column
         |""".stripMargin
    // Trailing spaces (real in the reference's print loop, untypeable in a
    // source literal) are right-trimmed on BOTH sides; everything else is
    // byte-exact.
    def trimR(s: String) = s.linesIterator.map(_.replaceAll("\\s+$", ""))
      .mkString("\n")
    assert(trimR(got) === trimR(golden))
    // Empty range: the reference's no-data message.
    val none = Reporting.renderStatsChart(Array.empty, start, start + 3600000L)
    assert(none === "\n    No indexed data between 2012-02-28 00h and 2012-02-28 01h.\n")
  }

  test("formatByteSize mirrors the reference tiers (QueryIndex.java:264)") {
    assert(Reporting.formatByteSize(512) === "512 B")
    assert(Reporting.formatByteSize(1536) === "1.50 KB")
    assert(Reporting.formatByteSize(5.5 * 1024 * 1024) === "5.50 MB")
    assert(Reporting.formatByteSize(3.25 * 1024 * 1024 * 1024) === "3.25 GB")
    assert(Reporting.formatByteSize(2.0 * 1024 * 1024 * 1024 * 1024) === "2.00 TB")
  }
}

class HFindSpec extends SparkTestBase {

  test("time tests and regex over the listing") {
    val dir = Files.createTempDirectory("hfind").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new Path(dir, "a/old.log"), true).close()
    fs.create(new Path(dir, "a/new.txt"), true).close()
    val now = System.currentTimeMillis()
    fs.setTimes(new Path(dir, "a/old.log"), now - 5L * 24 * 3600 * 1000, -1)

    val l = HFind.listing(spark, dir)
    assert(l.where(!org.apache.spark.sql.functions.col("is_dir")).count() === 2)
    val old = l.where(HFind.mtime("+3", now)).select("name")
    assert(old.collect().map(_.getString(0)).toSeq === Seq("old.log"))
    val logs = l.where(HFind.pathRegex(".*\\.log$")).select("name")
    assert(logs.collect().map(_.getString(0)).toSeq === Seq("old.log"))

    val deleted = HFind.delete(spark, l.where(HFind.pathRegex(".*\\.log$")))
    assert(deleted === 1)
    assert(!fs.exists(new Path(dir, "a/old.log")))
  }

  test("+N accepts age exactly (N+1) units, like the reference's integer division") {
    val dir = Files.createTempDirectory("hfind-b").toString
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(new Path(dir, "exact.log"), true).close()
    val now = System.currentTimeMillis()
    val day = 24L * 3600 * 1000
    // (now - mtime)/day == 4 exactly → reference's age/unit > 3 accepts it.
    fs.setTimes(new Path(dir, "exact.log"), now - 4 * day, -1)
    val l = HFind.listing(spark, dir)
    assert(l.where(HFind.mtime("+3", now)).count() === 1)
    assert(l.where(HFind.mtime("+4", now)).count() === 0)
  }
}

class CliParseSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.cli.LogToolCli

  test("parseDate accepts epoch and common formats") {
    assert(LogToolCli.parseDate("1330423200000") === 1330423200000L)
    assert(LogToolCli.parseDate("1330423200") === 1330423200000L)
    assert(LogToolCli.parseDate("Feb 28, 2012 10:00") === 1330423200000L)
    assert(LogToolCli.parseDate("2012-02-28 10:00") === 1330423200000L)
    assert(LogToolCli.parseDate("2012-02-28") === 1330387200000L)
  }

  test("parseArgs handles reference flag forms") {
    val a = LogToolCli.parseArgs(Array(
      "-dc=99", "-svc=s", "-comp=c", "--i",
      "-start=1330423200000", "-end=1330426800000", "-string=x"), "logsearch")
    assert(a.dc === "99" && a.caseInsensitive && a.string === "x")
  }

  test("parseArgs accepts --fieldSeparator as a no-op (logcat.java:171)") {
    val a = LogToolCli.parseArgs(Array(
      "-dc=99", "-svc=s", "-comp=c", "--fieldSeparator=,",
      "-start=1330423200000", "-end=1330426800000"), "logcat")
    assert(a.dc === "99" && a.startMs === 1330423200000L)
  }

  test("parseDate accepts GNU date -d relative forms (LogTools.java:112-131)") {
    val now = 1330423200000L // Feb 28, 2012 10:00 UTC
    assert(LogToolCli.parseDate("now", now) === now)
    assert(LogToolCli.parseDate("today", now) === now)
    assert(LogToolCli.parseDate("yesterday", now) === now - 86400000L)
    assert(LogToolCli.parseDate("tomorrow", now) === now + 86400000L)
    assert(LogToolCli.parseDate("2 hours ago", now) === now - 2 * 3600000L)
    assert(LogToolCli.parseDate("90 minutes ago", now) === now - 90 * 60000L)
    assert(LogToolCli.parseDate("3 days ago", now) === now - 3 * 86400000L)
    assert(LogToolCli.parseDate("1 week ago", now) === now - 7 * 86400000L)
    assert(LogToolCli.parseDate("last hour", now) === now - 3600000L)
    assert(LogToolCli.parseDate("next day", now) === now + 86400000L)
    assert(LogToolCli.parseDate("2 days", now) === now + 2 * 86400000L)
    // calendar arithmetic: 1 month before Feb 28 10:00 is Jan 28 10:00
    assert(LogToolCli.parseDate("1 month ago", now) === 1327744800000L)
    // 1 year before Feb 28 2012 (leap) is Feb 28 2011
    assert(LogToolCli.parseDate("1 year ago", now) === 1298887200000L)
  }

  test("loadTerms from inline string with CRLF") {
    assert(LogToolCli.loadTerms("a\r\nb\nc") === Seq("a", "b", "c"))
  }

  test("translateError buckets infra failures (LogTools.java:219-236)") {
    assert(LogToolCli.translateError(new java.io.IOException(
      "Failed to find any Kerberos tgt")) ===
      "No/bad Kerberos ticket - please authenticate.")
    // Spark wraps FS errors several levels deep: match the cause chain.
    val denied = new RuntimeException("job aborted",
      new java.nio.file.AccessDeniedException("/data/x"))
    assert(LogToolCli.translateError(denied).startsWith("Permission denied."))
    assert(LogToolCli.translateError(new java.io.IOException(
      "The DiskSpace quota of /user/x is exceeded")) ===
      "Disk quota Exceeded.")
    assert(LogToolCli.translateError(new IllegalStateException("boom")) ===
      "boom")
  }
}

class EventAnalyticsSpec extends graft.SparkTestBase {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.engine.Reporting

  // (user, type, day) events; bucket = 10ms "weeks" for compact numbers.
  private lazy val ev = Seq(
    (1L, "signup", 0L), (1L, "click", 5L), (1L, "purchase", 8L),
    (2L, "signup", 0L), (2L, "click", 20L),             // click outside window
    (3L, "signup", 0L), (3L, "purchase", 2L), (3L, "click", 4L), // wrong order
    (4L, "click", 1L), (4L, "purchase", 2L))            // never signed up
    .toDF("user_id", "event_type", "ts_ms")

  test("funnel: ordered stages within the window of the first step") {
    val got = Reporting.funnel(ev, "user_id", "ts_ms", "event_type",
        Seq("signup", "click", "purchase"), windowMs = 10L)
      .orderBy("stage_idx")
      .select("stage", "n_users").as[(String, Long)].collect().toSeq
    // signup: users 1,2,3. click-after-signup-within-10: 1 (t=5), 3 (t=4);
    // 2's click at 20 misses. purchase-after-that-click: only 1 (t=8 > 5);
    // 3's purchase (t=2) precedes its click.
    assert(got === Seq(("signup", 3L), ("click", 2L), ("purchase", 1L)))
  }

  test("eventTransitions: per-user ordered pairs, exact ppm row normalization") {
    val e = ev.withColumn("event_id",
      monotonically_increasing_id()) // unique tie within each user
    val got = Reporting.eventTransitions(e, "user_id", "ts_ms",
        "event_type", "event_id")
      .orderBy("from_event", "to_event")
      .as[(String, String, Long, Long)].collect().toSeq
    // Per-user sequences: 1: signup→click→purchase; 2: signup→click;
    // 3: signup→purchase→click; 4: click→purchase.
    // click→purchase ×2, purchase→click ×1, signup→click ×2,
    // signup→purchase ×1.
    assert(got === Seq(
      ("click", "purchase", 2L, 1000000L),
      ("purchase", "click", 1L, 1000000L),
      ("signup", "click", 2L, 666666L),
      ("signup", "purchase", 1L, 333333L)))
  }

  test("markovStationary: cycle settles uniform, dangling types shed mass, deterministic") {
    // One user alternating a,b,a,b,a: the chain is the 2-cycle — doubly
    // stochastic, so the uniform start is ALREADY stationary: exactly
    // 500000 each after any number of steps.
    val cyc = Seq(
      (1L, 0L, "a", 10L), (1L, 1L, "b", 11L), (1L, 2L, "a", 12L),
      (1L, 3L, "b", 13L), (1L, 4L, "a", 14L))
      .toDF("user_id", "ts_ms", "event_type", "event_id")
    val got = Reporting.markovStationary(cyc, "user_id", "ts_ms",
        "event_type", "event_id")
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(got === Seq(("a", 500000L), ("b", 500000L)))
    // Absorbing tail: a→b only; b has no outgoing transitions, so its
    // mass sheds each step (documented) — after 4 iterations all zero.
    val path = Seq((1L, 0L, "a", 10L), (1L, 1L, "b", 11L))
      .toDF("user_id", "ts_ms", "event_type", "event_id")
    val shed = Reporting.markovStationary(path, "user_id", "ts_ms",
        "event_type", "event_id")
      .as[(String, Long)].collect().toMap
    assert(shed === Map("a" -> 0L, "b" -> 0L))
    // Determinism: identical reruns, bit-equal.
    val again = Reporting.markovStationary(cyc, "user_id", "ts_ms",
        "event_type", "event_id")
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(again === got)
  }

  test("retentionCohorts: first-activity cohort x age cells") {
    val acts = Seq(
      (1L, 0L), (1L, 12L), (1L, 25L),   // cohort 0, active weeks 0,1,2
      (2L, 0L), (2L, 27L),              // cohort 0, weeks 0,2
      (3L, 13L))                        // cohort 1, week 1 only
      .toDF("user_id", "ts_ms")
    val got = Reporting.retentionCohorts(acts, "user_id", "ts_ms", bucketMs = 10L)
      .orderBy("cohort", "age")
      .select("cohort", "age", "n_active").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((0L, 0L, 2L), (0L, 1L, 1L), (0L, 2L, 2L), (1L, 0L, 1L)))
  }

  test("topEventPaths: per-user trigram order, global counts, tie order") {
    import spark.implicits._
    val e = Seq(
      (1L, 1L, "a", 10L), (1L, 2L, "b", 11L), (1L, 3L, "a", 12L),
      (1L, 4L, "b", 13L),
      (2L, 1L, "a", 20L), (2L, 2L, "b", 21L), (2L, 3L, "a", 22L))
      .toDF("user_id", "ts_ms", "event_type", "event_id")
    val got = graft.engine.Reporting.topEventPaths(e, "user_id", "ts_ms",
        "event_type", "event_id", k = 5)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", "a", 2L), ("b", "a", "b", 1L)))
  }

  test("tableProfile: nulls, exact distincts, ppm floor, column order") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("x")), (None, Some("y")), (Some(1L), None))
      .toDF("a", "b")
    val got = graft.engine.Reporting.tableProfile(df)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // a: 1 null of 3 → 333333 ppm, 1 distinct non-null value.
    assert(got === Seq(
      ("a", 3L, 1L, 333333L, 1L),
      ("b", 3L, 1L, 333333L, 2L)))
  }
}
