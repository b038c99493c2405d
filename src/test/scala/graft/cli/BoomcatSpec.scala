package graft.cli

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import graft.SparkTestBase
import graft.core.LogLine
import graft.engine.Ingest

/** `boomcat` against the Boom scan: the same six fields, in file order. */
class BoomcatSpec extends SparkTestBase {
  import spark.implicits._

  /** (exit code, stdout, stderr) of `boomcat args` with `stdin`. */
  private def dump(args: Seq[String], stdin: Array[Byte] = Array.empty): (Int, String, String) = {
    val out, err = new ByteArrayOutputStream()
    val code = boomcat.run(args.toArray, new ByteArrayInputStream(stdin), out,
      new PrintStream(err, true, "UTF-8"))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  test("boomcat prints a file's and stdin's lines as the scan's six fields, in file order") {
    // Three seconds of lines: several blocks, non-ASCII text, a tab.
    val rows = (0 until 2500).map { i =>
      LogLine(1330423200000L + i / 1000 * 1000 + i % 997, s"line $i fenêtre 日本\tx$i",
        i % 4, 1330423200000L, (i / 1000).toLong, 0L)
    }
    val dir = Files.createTempDirectory("boomcat").toString
    Ingest.write(rows.toDF().coalesce(1), dir)
    val bm = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".bm")).head

    val scanned = spark.read.format("boom").load(bm.getPath).as[LogLine].collect()
    assert(scanned.length === 2500)
    val expected = scanned.map(l =>
      s"${l.timestamp}\t${l.message}\t${l.eventId}\t${l.createTime}\t${l.blockNumber}\t${l.lineNumber}\n")
      .mkString

    assert(dump(Seq(bm.getPath)) === ((0, expected, "")))
    assert(dump(Nil, Files.readAllBytes(bm.toPath)) === ((0, expected, "")))

    val bytes = Files.readAllBytes(bm.toPath)
    val truncated = Files.createTempFile("boomcat-truncated", ".bm")
    Files.write(truncated, java.util.Arrays.copyOf(bytes, bytes.length * 2 / 3))
    val (code, _, err) = dump(Seq(truncated.toString))
    assert(code === 1)
    assert(err.startsWith("boomcat: ") && err.contains(truncated.toString), err)
  }
}
