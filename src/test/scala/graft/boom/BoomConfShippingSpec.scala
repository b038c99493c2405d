package graft.boom

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.core.LogLine

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.SparkEnv
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The local filesystem under its own URI scheme, counting opened files. */
class SchemeLocalFs extends RawLocalFileSystem {
  override def getUri: URI = SchemeLocalFs.Uri
  override def getScheme: String = SchemeLocalFs.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    SchemeLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object SchemeLocalFs {
  val Scheme = "graftlocal"
  val Uri: URI = URI.create(s"$Scheme:///")
  val opens = new AtomicInteger
}

/** How the Hadoop conf reaches Boom's task-side readers and writers: one
  * broadcast per scan or write, and the session's own conf, not the
  * context's.
  */
class BoomConfShippingSpec extends SparkTestBase {
  import spark.implicits._

  private def lines(n: Int): Seq[LogLine] = (0 until n).map(i =>
    LogLine(1700000000000L + i * 1000L, s"line $i", 0, 0L, 0L, 0L))

  private def serializedBytes(o: AnyRef): Int =
    SparkEnv.get.closureSerializer.newInstance().serialize(o).remaining()

  test("reader and writer factories stay small: the Hadoop conf is not inside them") {
    val dir = Files.createTempDirectory("boom-factory").toString
    lines(10).toDF().write.format("boom").option("boomMode", "ingest").mode("append").save(dir)

    val batch = spark.read.format("boom").load(dir).queryExecution.executedPlan
      .collect { case b: BatchScanExec => b.readerFactory }
    assert(batch.size === 1)
    val stream = new BoomScanBuilder(Seq(dir), CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream(Files.createTempDirectory("boom-ckpt").toString)
      .createReaderFactory()
    val write = new BoomBatchWrite(Files.createTempDirectory("boom-w").toString, "ingest",
      Some(""), false, spark.sessionState.newHadoopConf())
      .createBatchWriterFactory(new PhysicalWriteInfo { def numPartitions(): Int = 1 })
    Seq("batch scan" -> batch.head, "streaming scan" -> stream, "write" -> write).foreach {
      case (what, factory) =>
        val bytes = serializedBytes(factory)
        assert(bytes < 16 * 1024, s"$what factory serializes to $bytes B")
    }
  }

  test("a session-scoped filesystem override reaches the task-side writer and reader") {
    val impl = s"fs.${SchemeLocalFs.Scheme}.impl"
    // Uncached, so every task-side lookup resolves the scheme from the conf
    // the task was given, not from an instance the driver already built.
    val noCache = s"fs.${SchemeLocalFs.Scheme}.impl.disable.cache"
    assert(spark.sparkContext.hadoopConfiguration.get(impl) == null)
    spark.conf.set(impl, classOf[SchemeLocalFs].getName)
    spark.conf.set(noCache, "true")
    try {
      val local = Files.createTempDirectory("boom-scheme")
      val dir = s"${SchemeLocalFs.Scheme}://${local.toUri.getPath}"
      val written = lines(500)
      written.toDF().repartition(3).write.format("boom").option("boomMode", "ingest")
        .mode("append").save(dir)
      val onDisk = Files.list(local).iterator()
      var bm = 0
      onDisk.forEachRemaining(p => if (p.toString.endsWith(".bm")) bm += 1)
      assert(bm === 3)

      val opensBefore = SchemeLocalFs.opens.get
      val read = spark.read.format("boom").load(dir)
        .select("timestamp", "message").as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(read === written.map(l => (l.timestamp, l.message)))
      assert(SchemeLocalFs.opens.get - opensBefore >= 3)
    } finally {
      spark.conf.unset(impl)
      spark.conf.unset(noCache)
    }
  }
}
