package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * session startup dominates suite time otherwise).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // Per-JVM-run temp warehouse: managed tables (saveAsTable in the
    // bucketed-stage tests) must not collide with directories left by a
    // previous `sbt test` run — the catalog is fresh each run but
    // ./spark-warehouse would persist, failing with LOCATION_ALREADY_EXISTS.
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    Session("4", Seq("spark.sql.warehouse.dir" -> warehouse))
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
