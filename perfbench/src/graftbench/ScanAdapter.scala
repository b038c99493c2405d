package graftbench

import graft.boom.{BoomFileRangeIterator, BoomPushdown, BoomScan}

import org.apache.spark.sql.connector.read.Scan

/** The only place the benchmark reaches into the Boom scan's internals.
  * When the block counters move from iterator fields to scan metrics, or
  * the pushdown becomes a public accessor, this file is the one to change.
  */
object ScanAdapter {
  def blocksDecoded(it: BoomFileRangeIterator): Long = it.blocksDecoded
  def blocksSkipped(it: BoomFileRangeIterator): Long = it.blocksSkipped

  /** The pushdown a planned Boom scan will hand to its readers. */
  def pushdown(scan: Scan): BoomPushdown = scan match {
    case b: BoomScan =>
      val f = classOf[BoomScan].getDeclaredField("pushdown")
      f.setAccessible(true)
      f.get(b).asInstanceOf[BoomPushdown]
    case other => throw new IllegalStateException(s"not a Boom scan: ${other.getClass.getName}")
  }
}
