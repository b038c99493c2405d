package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; cheap to reuse). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  /** The conf specs run under: the harness conf on 4 local cores. No
    * table directory sizes it, so the AQE advisory size takes its 1 MiB
    * floor, as every harness fixture derives.
    */
  val conf: Map[String, String] = Tuning.harnessConf(sfDir = "", cpus = 4)

  lazy val session: SparkSession = Tuning.build(conf, "WARN")
}
