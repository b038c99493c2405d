package graft.cli

import java.io.{File, InputStream, OutputStream, PrintStream}

import graft.boom.{BoomFileRangeIterator, BoomPushdown}

import org.apache.avro.file.{SeekableByteArrayInput, SeekableFileInput, SeekableInput}

/** Local Boom-file dump to TSV — no Spark job, like the reference's ReadBoom
  * (util/ReadBoom.java:33-89): one line per log line,
  * `timestamp \t message \t eventId \t createTime \t blockNumber \t lineNumber`.
  * Each file is read whole by the scan's own container reader, so a corrupt
  * file fails naming the file and the byte offset.
  *
  * Usage: `boomcat file.bm [file2.bm ...]` (or no args → stdin).
  */
object boomcat {
  def main(args: Array[String]): Unit = {
    val code = run(args, System.in, System.out, System.err)
    if (code != 0) sys.exit(code)
  }

  /** [[main]] over the given streams; returns the exit code. */
  private[cli] def run(args: Array[String], stdin: InputStream, stdout: OutputStream,
      stderr: PrintStream): Int = {
    val out = new PrintStream(stdout, false, "UTF-8")
    def dump(in: SeekableInput, file: String): Unit = {
      val it = new BoomFileRangeIterator(in, BoomPushdown(), 0L, Long.MaxValue, file)
      try it.foreach { l =>
        out.println(
          s"${l.timestamp}\t${l.message}\t${l.eventId}\t${l.createTime}\t${l.blockNumber}\t${l.lineNumber}")
      } finally it.close()
    }
    try {
      // The reader seeks, so stdin is buffered whole first.
      if (args.isEmpty) dump(new SeekableByteArrayInput(stdin.readAllBytes()), "<stdin>")
      else args.foreach(f => dump(new SeekableFileInput(new File(f)), f))
      0
    } catch {
      case e: Exception =>
        stderr.println(s"boomcat: ${e.getMessage}")
        1
    } finally out.flush()
  }
}
