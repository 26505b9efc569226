package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession, built by
  * the same factory as the entry points. */
object SparkSpec {
  lazy val spark: SparkSession = Session.create("graft-test",
    // keep catalog tables (bucketing tests) out of the repo tree
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
