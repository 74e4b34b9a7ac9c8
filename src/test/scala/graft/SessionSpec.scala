package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The session factory's setup, and that it is the only place in the
  * program that builds a SparkSession.
  */
class SessionSpec extends SparkTestBase {

  test("factory session: local[cpus], partitions = cpus, UTC, AQE, nanosAsLong, caller confs") {
    // the shared test session is Session("4", warehouse dir)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("graft-warehouse"))
    assert(Session.defaultCpus == sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString))
  }

  test("src/main builds a SparkSession only in graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val builders = Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex
          .filter(_._1.contains("SparkSession.builder"))
          .map { case (_, i) => s"${root.relativize(p)}:${i + 1}" }
      }
    assert(builders.size == 1 && builders.head.startsWith("graft/Session.scala:"),
      builders.mkString(", "))
  }
}
