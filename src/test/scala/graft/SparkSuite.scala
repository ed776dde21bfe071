package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSuite {
  lazy val session: SparkSession = {
    // the library's local file system, not all of `GraftSession.builder()`:
    // `PlanShapeSpec` asserts static broadcasts, which `builder()` turns off
    val s = SparkSession.builder().config(GraftSession.LocalFsConf)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-graft")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
