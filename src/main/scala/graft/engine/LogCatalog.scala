package graft.engine

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration

import graft.boom.BoomDataSource

/** Resolves the reference's HDFS directory "catalog" into concrete input
  * paths — partition pruning by directory name.
  *
  * Layout (fs/PathInfo.java:21-86):
  * {{{
  *   <root>/service/<dc>/<service>/logs/<yyyyMMdd>/<hh>/<component>/
  *       incoming/<id>/<file>  data/<file>  archive/<file>  working/<id>/incoming/<file>
  * }}}
  *
  * A `[start, end)` millisecond range expands to the hour directories it
  * covers (fs/FileManager.java:66-100), each globbed for the four readable
  * lifecycle branches (FileManager.java:39-40, 103-123) and expanded by
  * [[graft.boom.BoomDataSource.listFiles]] — the one rule for which entries
  * a Boom read ingests — so the catalog lists exactly what the scan reads.
  */
object LogCatalog {
  private val dateFmt = DateTimeFormatter.ofPattern("yyyyMMdd").withZone(ZoneOffset.UTC)
  private val hourFmt = DateTimeFormatter.ofPattern("HH").withZone(ZoneOffset.UTC)

  /** Readable branches within an hour/component partition (FileManager.java:39-40). */
  val Branches: Seq[String] = Seq("incoming/*/*", "data/*", "archive/*", "working/*/incoming/*")

  /** All (yyyyMMdd, hh) partitions intersecting `[startMs, endMs)`.
    * Fails fast on absurd ranges instead of materializing millions of hour
    * directories (an unbounded query must use explicit paths).
    */
  def hoursInRange(startMs: Long, endMs: Long): Seq[(String, String)] = {
    // floorDiv, not truncation: a pre-epoch startMs must floor DOWN to the
    // hour directory containing it (truncation rounds toward zero and
    // would skip the partial pre-epoch hour entirely).
    val hours =
      Math.floorDiv(endMs, 3600000L) - Math.floorDiv(startMs, 3600000L)
    require(hours >= 0 && hours <= 24L * 366 * 50,
      s"time range [$startMs, $endMs) spans $hours hours — too wide for " +
        "directory-based partition resolution; narrow the range or query explicit paths")
    val out = ArrayBuffer[(String, String)]()
    var t = Math.floorDiv(startMs, 3600000L) * 3600000L
    while (t < endMs) {
      val i = Instant.ofEpochMilli(t)
      out += ((dateFmt.format(i), hourFmt.format(i)))
      t += 3600000L
    }
    out.toSeq
  }

  /** Concrete existing file paths with their byte lengths, grouped per
    * hour partition in ascending hour order (empty hour groups dropped).
    * Hour buckets are time-disjoint by layout, so [[LogQuery#printTo]]
    * packs whole groups into waves whose merged outputs concatenate into
    * global order, and sizes each wave by its groups' byte totals (free —
    * the listing already returns them).
    */
  def resolveByHourWithSizes(
      conf: Configuration,
      root: String,
      dc: String,
      service: String,
      component: String,
      startMs: Long,
      endMs: Long): Seq[Seq[(String, Long)]] = {
    hoursInRange(startMs, endMs).map { case (date, hour) =>
      val dir = s"$root/service/$dc/$service/logs/$date/$hour/$component"
      BoomDataSource.listFiles(conf, Branches.map(b => s"$dir/$b"))
        .map(s => (s.getPath.toString, s.getLen)).distinctBy(_._1)
    }.filter(_.nonEmpty)
  }
}
