package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM, `Test / fork`). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Sessions.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  /** Runs `body` with codegen fallback off: generated code that does
    * not compile fails the query instead of running interpreted. */
  def withoutCodegenFallback[T](body: => T): T = {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
