package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every spec runs in the library's local session, the one the mains run. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4)
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Runs `body` with codegen fallback off: a stage whose generated class
    * does not compile fails instead of silently running interpreted. */
  def withoutCodegenFallback[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
