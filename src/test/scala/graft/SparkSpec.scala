package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test run: the benched config
  * ([[Session.build]]) at `local[4]`. */
object SparkTestSession {
  lazy val spark: SparkSession = Session.build(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
}
