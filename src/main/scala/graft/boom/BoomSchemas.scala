package graft.boom

import org.apache.avro.Schema

/** The Boom (`.bm`) container schema: a standard Avro Object Container File of
  * `logBlock` records.
  *
  * Reference: src/com/blackberry/logdriver/Schemas.java:96-107 (and the writer
  * invariants in boom/BoomWriter.java:40-42 — deflate level 6, 2 MiB Avro sync
  * interval, ≤1000 lines per block, one wall-clock second per block).
  */
object BoomSchemas {
  val LogBlockJson: String =
    """{"type":"record","name":"logBlock","fields":[
      |  {"name":"second","type":"long"},
      |  {"name":"createTime","type":"long"},
      |  {"name":"blockNumber","type":"long"},
      |  {"name":"logLines","type":{"type":"array","items":
      |    {"type":"record","name":"messageWithMillis","fields":[
      |      {"name":"ms","type":"long"},
      |      {"name":"eventId","type":"int","default":0},
      |      {"name":"message","type":"string"}]}}}]}""".stripMargin

  def logBlockSchema: Schema = new Schema.Parser().parse(LogBlockJson)

  def messageWithMillisSchema: Schema =
    logBlockSchema.getField("logLines").schema().getElementType

  // Writer constants (BoomWriter.java:40-42)
  val DeflateLevel = 6
  val AvroSyncInterval: Int = 2 * 1024 * 1024
  val MaxLinesPerBlock = 1000

  /** How far a `.bm` file's compressed bytes are assumed to inflate once
    * decoded (deflate-6 log text runs ~5-8×). It sizes the scan's
    * statistics and [[graft.engine.LogQuery#printTo]]'s wave budget, the
    * compressed input whose decoded lines one job may return to the driver.
    */
  val InflationBound = 8L
}
