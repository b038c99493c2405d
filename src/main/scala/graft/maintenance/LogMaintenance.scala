package graft.maintenance

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDate, ZoneOffset}

import graft.engine.Ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's maintenance subsystem (admin/LogMaintenance.java) rebuilt
  * on Spark jobs + atomic renames.
  *
  * Lifecycle per hour/component partition: `incoming/` (raw small files) →
  * [[merge]] → `data/` (compacted `.bm`) → [[filterArchive]] → `archive/`
  * (filtered `.bm`) → [[retentionDelete]].
  *
  * The reference coordinated cross-process access with ZooKeeper read/write
  * locks (locks/LockUtil.java) because MapReduce jobs rewrote directories in
  * place. Here every job writes to a fresh `working/<id>/` directory and
  * promotes results with atomic renames, with `*.tmp` outputs invisible to
  * readers — so queries never see partial state and the lock service is
  * unnecessary (SURVEY.md §2.8 M7).
  */
object LogMaintenance {

  /** Compaction (M1): read all incoming branches of a partition dir, rewrite
    * into `data/` as `.bm` files of roughly `targetFileSize` COMPRESSED
    * bytes (same convention as [[rawMerge]]), preserving block metadata,
    * then remove the merged inputs.
    *
    * Reference: LogMaintenance.java:968-1186 (move → MR merge → promote →
    * `_READY`). The reference merged raw Avro blocks without decoding
    * (AvroBlockWriterMapper); Spark decodes + re-encodes, which additionally
    * re-packs under-filled blocks.
    *
    * Output sizing is MEASURED, not guessed: expected output bytes =
    * Σ input bytes × a re-encode ratio probed by decoding the smallest
    * input file (≤ [[MaxProbeBytes]]) and re-compressing it the way the
    * writer will. For deflate Boom inputs the ratio is ≈1; a foreign
    * (e.g. null-codec) container probes its true compression so a
    * compressible corpus is not split into far-undersized files.
    */
  def merge(
      spark: SparkSession,
      partitionDir: String,
      targetFileSize: Long = 512L * 1024 * 1024): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(partitionDir)
    val fs = dir.getFileSystem(conf)
    val incoming = new Path(dir, "incoming")
    if (!fs.exists(incoming)) return

    val inputBytes = fs.getContentSummary(incoming).getLength
    if (inputBytes == 0) return

    val working = new Path(dir, s"working/merge-${System.nanoTime()}")
    val staged = new Path(working, "incoming")
    // HDFS rename requires the DESTINATION PARENT to exist and returns
    // false otherwise (RawLocalFileSystem masks this by falling back to a
    // copy that mkdirs for you) — the parent of `staged` is `working`,
    // not working/.
    fs.mkdirs(working)
    if (!fs.rename(incoming, staged)) {
      throw new java.io.IOException(s"cannot stage $incoming")
    }
    try {
      val files = graft.boom.BoomDataSource
        .listFiles(conf, Seq(staged.toString))
        .map(s => (s.getPath, s.getLen))
      val totalBytes = files.map(_._2).sum
      val ratio =
        if (files.isEmpty) 1.0 else reencodeRatio(fs, files.minBy(_._2))
      val parts = math.max(1,
        math.round(totalBytes * ratio / targetFileSize.toDouble).toInt)
      val df = spark.read.format("boom").load(staged.toString)
        .repartition(parts)
        // Local sort restores (createTime, blockNumber) runs that the
        // round-robin shuffle scattered — fuller blocks, better deflate,
        // and the probe's per-run compression model stays representative.
        // No extra exchange: sortWithinPartitions is map-side only.
        .sortWithinPartitions("createTime", "blockNumber", "timestamp")
      Ingest.reboom(df, new Path(dir, "data").toString, SaveMode.Append)
      fs.create(new Path(dir, "data/_READY"), true).close()
      removeWorking(fs, working)
    } catch {
      case e: Throwable =>
        // Orphan recovery (M5): put staged data back for the next run.
        fs.mkdirs(incoming.getParent)
        fs.rename(staged, incoming)
        removeWorking(fs, working)
        throw e
    }
  }

  /** Probe budget for [[reencodeRatio]]: enough input to cover many Avro
    * blocks, small enough that the driver-side decode is negligible next
    * to the merge job itself.
    */
  private val MaxProbeBytes = 8L * 1024 * 1024

  private final class CountingIn(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    var count = 0L
    override def read(): Int = {
      val r = super.read(); if (r >= 0) count += 1; r
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val r = super.read(b, off, len); if (r > 0) count += r; r
    }
    override def skip(n: Long): Long = {
      val r = super.skip(n); count += r; r
    }
  }

  /** Measured compressed-out / compressed-in ratio for [[merge]]'s output
    * sizing: decode the given (smallest) input container and re-encode its
    * blocks with the writer's own codec/level, counting consumed input
    * bytes so an early stop at [[MaxProbeBytes]] still yields a like-for-
    * like ratio. Clamped to [0.05, 8] — a pathological probe (one tiny
    * block, exotic content) must not produce an absurd partition count.
    */
  private def reencodeRatio(fs: FileSystem, file: (Path, Long)): Double = {
    import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val (path, len) = file
    var counting: CountingIn = null
    try {
      counting = new CountingIn(fs.open(path))
      val in = new DataFileStream[GenericRecord](counting,
        new GenericDatumReader[GenericRecord]())
      try {
        val baos = new java.io.ByteArrayOutputStream()
        val w = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](in.getSchema))
        w.setCodec(
          CodecFactory.deflateCodec(graft.boom.BoomSchemas.DeflateLevel))
        w.create(in.getSchema, baos)
        var blocks = 0
        while (in.hasNext && counting.count < MaxProbeBytes) {
          w.append(in.next()); blocks += 1
        }
        w.close()
        val consumed = math.min(counting.count, len)
        if (blocks == 0 || consumed <= 0) 1.0
        else math.max(0.05, math.min(baos.size().toDouble / consumed, 8.0))
      } finally in.close()
    } catch {
      case _: Exception => 1.0 // unreadable probe: neutral sizing; the
      // merge job itself surfaces the real error with full context
    } finally {
      // A DataFileStream-constructor failure (non-Avro probe file) leaves
      // the raw stream open; double-close after the normal path is a no-op.
      if (counting != null)
        try counting.close() catch { case _: Exception => () }
    }
  }

  /** Drop this run's `working/<id>/` and, if that leaves `working/` empty,
    * the parent too — a lingering empty `working/` would read as an
    * in-flight job to the orchestrator's lifecycle checks.
    */
  private def removeWorking(fs: FileSystem, runDir: Path): Unit = {
    fs.delete(runDir, true)
    val parent = runDir.getParent
    try {
      if (fs.exists(parent) && fs.listStatus(parent).isEmpty)
        fs.delete(parent, false)
    } catch { case _: Exception => () } // best-effort; next pass retries
  }

  /** Raw block-level compaction (M2): merge `incoming/` into `data/` by
    * COPYING compressed Avro blocks verbatim — no record decode, no
    * deflate round-trip — the reference's AvroBlockWriterMapper trick
    * (mapreduce/avro/AvroBlockWriterMapper.java:38-90, which streams raw
    * block bytes into a container under the writer's own sync marker).
    * Avro's public `DataFileWriter.appendAllFrom(in, recompress = false)`
    * is exactly that operation when input and output codecs match (Boom
    * is always deflate); a foreign-codec file degrades to block-level
    * recompression, still never deserializing records.
    *
    * vs [[merge]]: ~zero CPU per byte (the 100 TB compaction-pass win)
    * and block metadata byte-identical, but under-filled blocks are NOT
    * re-packed and files are bin-packed whole (no splitting), so output
    * sizes are approximate. Same staging/commit protocol as [[merge]]:
    * stage incoming → working, write `.tmp`, atomic-rename into `data/`,
    * `_READY`, orphan recovery on failure.
    *
    * Distribution: one Spark task per output bin (first-fit by compressed
    * size) — compaction parallelism is bin count, the same shape as the
    * reference's one-mapper-per-output MR stage.
    */
  def rawMerge(
      spark: SparkSession,
      partitionDir: String,
      targetFileSize: Long = 512L * 1024 * 1024): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(partitionDir)
    val fs = dir.getFileSystem(conf)
    val incoming = new Path(dir, "incoming")
    if (!fs.exists(incoming)) return

    val runId = System.nanoTime()
    val working = new Path(dir, s"working/rawmerge-$runId")
    val staged = new Path(working, "incoming")
    val outStage = new Path(working, "out")
    // HDFS rename requires the DESTINATION PARENT to exist and returns
    // false otherwise (RawLocalFileSystem masks this by falling back to a
    // copy that mkdirs for you) — the parent of `staged` is `working`,
    // not working/.
    fs.mkdirs(working)
    if (!fs.rename(incoming, staged)) {
      throw new java.io.IOException(s"cannot stage $incoming")
    }
    try {
      // Same listing semantics as the read path and merge()
      // (BoomDataSource.listFiles): hidden/_-prefixed/tmp entries and
      // zero-length files excluded — a crashed ingest's _temporary task
      // attempts must not leak blocks into data/, and a 0-byte leftover
      // must not abort compaction. No .bm-suffix requirement, also like
      // the read path: every visible file is treated as a Boom container
      // and the per-file schema check refuses impostors (nothing is
      // silently skipped and then deleted with the working dir).
      val files = graft.boom.BoomDataSource
        .listFiles(conf, Seq(staged.toString))
        .map(s => (s.getPath.toString, s.getLen))
        .sortBy(_._1)
      if (files.nonEmpty) {
        // First-fit-decreasing by compressed size: raw copy means output
        // bytes ≈ Σ input bytes, so the bin sum IS the output file size.
        val bins = scala.collection.mutable.ArrayBuffer
          .empty[(scala.collection.mutable.ArrayBuffer[String], Long)]
        files.sortBy(-_._2).foreach { case (p, sz) =>
          bins.indexWhere(_._2 + sz <= targetFileSize) match {
            case -1 =>
              bins += ((scala.collection.mutable.ArrayBuffer(p), sz))
            case i =>
              bins(i)._1 += p
              bins(i) = (bins(i)._1, bins(i)._2 + sz)
          }
        }
        fs.mkdirs(outStage)
        val hconf = new org.apache.spark.util.SerializableConfiguration(conf)
        val outDir = outStage.toString
        // Two-phase commit: tasks write DETERMINISTIC names into the
        // working dir (a retried/speculated attempt overwrites its own
        // bin — idempotent), and NOTHING touches data/ until the whole
        // job has succeeded; only then does the driver promote every
        // output with renames. A failure in any bin therefore leaves
        // data/ untouched and the staged inputs restored — re-running
        // after removing a bad file cannot duplicate the good bins'
        // blocks (the record-level merge() gets the same guarantee from
        // Spark's job commit protocol).
        spark.sparkContext
          .parallelize(bins.map(_._1.toSeq).toSeq.zipWithIndex, bins.size)
          .foreach { case (bin, idx) =>
            rawMergeBin(bin, s"raw-$runId-$idx.bm", outDir, hconf.value)
          }
        val dataDir = new Path(dir, "data")
        fs.mkdirs(dataDir)
        val outs = fs.listStatus(outStage).map(_.getPath)
          .filterNot(_.getName.endsWith(".tmp"))
        // A zombie/speculated attempt finalizes with delete-then-rename on
        // a deterministic name: it can delete a sibling attempt's committed
        // bin and die before its own rename, and the JOB still reports
        // success. Promoting whatever is present would then silently drop
        // that bin's blocks. Assert the full census before touching data/ —
        // on mismatch the catch below restores the staged inputs and the
        // next maintenance pass redoes the whole (idempotent) compaction.
        if (outs.length != bins.size)
          throw new java.io.IOException(
            s"expected ${bins.size} merged bins in $outStage, found " +
              s"${outs.length} — lost to a concurrent attempt; aborting " +
              "before promotion (staged inputs will be restored)")
        val promoted = scala.collection.mutable.ArrayBuffer.empty[Path]
        try outs.foreach { o =>
          val t = new Path(dataDir, o.getName)
          if (!fs.rename(o, t))
            throw new java.io.IOException(s"cannot promote $o")
          promoted += t
        } catch {
          case e: Throwable =>
            // Metadata-only window: undo the renames so the re-run after
            // orphan recovery starts from zero promoted bins. If an undo
            // delete FAILS, restoring the staged inputs would make the
            // next merge duplicate the still-promoted bin's blocks — so
            // surface the stuck state instead and leave the staging dir
            // for the operator (the outer catch skips restore on this
            // exception type).
            val stuck = promoted.filter { p =>
              try !fs.delete(p, false) catch { case _: Exception => true }
            }
            if (stuck.nonEmpty)
              throw new PromotionInconsistentException(
                s"promotion failed AND rollback could not remove " +
                  s"${stuck.mkString(", ")} from data/ — staged inputs " +
                  s"kept at $staged; remove the stuck bins (their blocks " +
                  "are duplicated in staging) before re-running", e)
            throw e
        }
      }
      fs.create(new Path(dir, "data/_READY"), true).close()
      removeWorking(fs, working)
    } catch {
      case e: PromotionInconsistentException =>
        // data/ holds bins whose blocks are ALSO still staged; restoring
        // staging to incoming/ would double those blocks on the next run.
        // Leave everything where it is for the operator.
        throw e
      case e: Throwable =>
        fs.mkdirs(incoming.getParent)
        fs.rename(staged, incoming)
        removeWorking(fs, working)
        throw e
    }
  }

  /** Promotion rollback left `data/` and staging overlapping (a rollback
    * delete failed). Orphan recovery must NOT auto-restore this run's
    * staged inputs — the operator resolves which copy wins first.
    */
  final class PromotionInconsistentException(msg: String, cause: Throwable)
      extends java.io.IOException(msg, cause)

  /** Executor side: one output container per bin, blocks copied verbatim.
    * Writes `name` into the job's staging dir, overwriting any earlier
    * attempt's output — task retries and speculation converge on the
    * same deterministic file.
    */
  private def rawMergeBin(paths: Seq[String], name: String, outDir: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val schema = graft.boom.BoomSchemas.logBlockSchema
    val fs = new Path(outDir).getFileSystem(conf)
    val tmp = new Path(outDir,
      name + s".${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val fin = new Path(outDir, name)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.deflateCodec(graft.boom.BoomSchemas.DeflateLevel))
    w.create(schema, fs.create(tmp, true))
    try {
      paths.foreach { p =>
        val in = new DataFileStream[GenericRecord](fs.open(new Path(p)),
          new GenericDatumReader[GenericRecord]())
        try {
          require(in.getSchema == schema,
            s"$p is not a Boom container (schema mismatch)")
          val codec = Option(in.getMetaString("avro.codec")).getOrElse("null")
          w.appendAllFrom(in, /* recompress = */ codec != "deflate")
        } finally in.close()
      }
      w.close()
      fs.delete(fin, false) // a lost earlier attempt's output, if any
      if (!fs.rename(tmp, fin))
        throw new java.io.IOException(s"cannot finalize $tmp")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Exception => () }
        throw e
    }
  }

  /** Filter/archive (M3): apply the component's YAML filter chain to `data/`
    * and write survivors to `archive/`, then delete `data/`.
    *
    * Fast paths as in the reference: a keep-all chain renames files without
    * rewriting (LogMaintenance.java:503-530), a drop-all chain just deletes
    * (:531-550).
    */
  def filterArchive(
      spark: SparkSession,
      partitionDir: String,
      componentName: String,
      filterYaml: String): Unit = {
    val chain = FilterConfig.loadFilters(componentName, filterYaml)
    require(chain.filters.nonEmpty, s"no filters matched component $componentName")
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(partitionDir)
    val fs = dir.getFileSystem(conf)
    val data = new Path(dir, "data")
    val archive = new Path(dir, "archive")
    if (!fs.exists(data)) return

    if (chain.dropsAll) {
      fs.delete(data, true)
      return
    }
    if (chain.keepsAll) {
      fs.mkdirs(archive)
      fs.listStatus(data).foreach { s =>
        if (!s.getPath.getName.startsWith("_")) {
          val t = new Path(archive, s.getPath.getName)
          // A false return (target exists from a crashed run, quota,
          // archive-is-a-file) followed by the recursive delete below
          // would be silent data loss — refuse instead; data/ is intact
          // and the next maintenance pass retries.
          if (!fs.rename(s.getPath, t))
            throw new java.io.IOException(
              s"cannot archive ${s.getPath} -> " + t)
        }
      }
      fs.delete(data, true)
      return
    }

    val df = spark.read.format("boom").load(data.toString)
      .where(chain.toColumn(col("message")))
    Ingest.reboom(df, archive.toString, SaveMode.Append)
    fs.delete(data, true)
  }

  private val dateFmt = DateTimeFormatter.ofPattern("yyyyMMdd").withZone(ZoneOffset.UTC)

  /** Retention (M4): delete date partitions older than `daysToKeep`.
    * Directory names are authoritative (same as the reference's date-dir
    * pattern match, LogMaintenance.java:395-398, 462-466, 567-578).
    */
  def retentionDelete(
      fs: FileSystem,
      serviceLogsDir: String,
      daysToKeep: Int,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = LocalDate.parse(
      dateFmt.format(Instant.ofEpochMilli(nowMs)),
      DateTimeFormatter.ofPattern("yyyyMMdd")).minusDays(daysToKeep.toLong)
    val root = new Path(serviceLogsDir)
    if (!fs.exists(root)) return Seq.empty
    val deleted = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .filter(s => s.getPath.getName.matches("\\d{8}"))
      .filter { s =>
        LocalDate.parse(s.getPath.getName, DateTimeFormatter.ofPattern("yyyyMMdd"))
          .isBefore(cutoff)
      }
    deleted.foreach(s => fs.delete(s.getPath, true))
    deleted.map(_.getPath.toString)
  }

  /** Orphan recovery (M5): move `working/<id>/incoming` of dead runs back to
    * the partition's `incoming/` (LogMaintenance.java:580-632).
    *
    * "Dead" is decided by AGE: only working dirs untouched for
    * `minAgeMs` are reclaimed — without the threshold a cron-driven
    * recovery racing a long live merge would steal its staged inputs
    * (restoring them to incoming/ while the live job also promotes its
    * output → every line duplicated on the next merge). The default is
    * far past any sane compaction wall time; the reference leaned on its
    * ZK write lock for the same exclusion.
    */
  def resetOrphanedJobs(fs: FileSystem, partitionDir: String,
      minAgeMs: Long = 24L * 3600 * 1000,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    val working = new Path(partitionDir, "working")
    if (!fs.exists(working)) return
    fs.listStatus(working).foreach { job =>
      if (nowMs - job.getModificationTime >= minAgeMs) {
        val staged = new Path(job.getPath, "incoming")
        if (fs.exists(staged)) {
          val incoming = new Path(partitionDir, "incoming")
          fs.mkdirs(incoming)
          fs.listStatus(staged).foreach { f =>
            fs.rename(f.getPath, new Path(incoming, f.getPath.getName))
          }
        }
        fs.delete(job.getPath, true)
      }
    }
  }
}
