package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlc = spark.sqlContext
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
