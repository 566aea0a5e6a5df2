package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local SparkSession for every Spark-backed spec (JVM-wide; ScalaTest
  * runs suites in one forked JVM, so getOrCreate dedupes). */
trait SparkSpec { this: Suite =>
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = graft.util.LocalSession(4)
}
