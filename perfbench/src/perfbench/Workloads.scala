package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Runner
import graft.sources.Sources

/** What the output check of one unit found. `digest` is an
  * order-independent content hash of every table the unit wrote; units
  * over the same input must reproduce it.
  */
final case class Checked(errors: Seq[String], digest: String, metrics: Map[String, Double])

/** A workload: generated inputs, the calls one unit makes into the
  * program, and the check of what the unit wrote to its stage root.
  */
sealed trait Workload {
  /** Input rows of one unit: catch rows after ingest, or documents. */
  def inputRows: Long
  def run(unit: Int, root: String, tr: Tracer): Unit
  def check(root: String): Checked
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: String, answers: JsonNode): Workload =
    name match {
      case "dag_bulk" => new Dag(spark, inputs, answers)
      case "curate" => new Curation(spark, inputs, answers)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Row count and an order-independent hash of a table: the sum of one
    * 64-bit hash per row. Floating-point columns are rounded first, so the
    * last-bit differences of a parallel sum cannot change the hash.
    */
  def summary(df: DataFrame, extra: Column*): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case _ => c
      }
    }
    df.agg(count(lit(1)).as("rows"),
      (Seq(coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(0)).as("hash")) ++
        extra): _*)
  }

  def expect(errors: collection.mutable.Buffer[String], what: String, got: Long, want: Long): Unit =
    if (got != want) errors += s"$what: got $got, expected $want"
}

/** The six-stage landings DAG over the whole generated history, the
  * reference's cron semantics.
  */
final class Dag(spark: SparkSession, inputs: String, answers: JsonNode) extends Workload {
  import Workload._

  def inputRows: Long = answers.get("raw_rows").asLong

  def run(unit: Int, root: String, tr: Tracer): Unit = {
    val (forms, trips, points, registry) = tr.span(unit, "sources") {
      (Seq("FieldDataApp-2024" -> Sources.koboSubmissions(spark, s"$inputs/kobo/new"),
        "Malawi SSF" -> Sources.koboSubmissions(spark, s"$inputs/kobo/legacy")),
        Sources.pdsTrips(spark, s"$inputs/trips"),
        Sources.pdsTripPoints(spark, s"$inputs/points"),
        Sources.metadataSheet(spark, s"$inputs/registry"))
    }
    val t = Runner.StageTables(root)
    tr.span(unit, "pipeline.ingest")(Runner.ingest(spark, t, forms))
    tr.span(unit, "pipeline.preprocess")(Runner.preprocess(spark, t))
    tr.span(unit, "pipeline.validate")(Runner.validate(spark, t))
    tr.span(unit, "pipeline.merge_trips")(Runner.mergeTrips(spark, t, trips, registry))
    tr.span(unit, "pipeline.export_landings")(Runner.exportLandings(spark, t))
    tr.span(unit, "pipeline.export_tracks")(Runner.exportTracks(spark, t, points))
  }

  def check(root: String): Checked = {
    val t = Runner.StageTables(root)
    val errors = collection.mutable.Buffer.empty[String]
    // one query over all seven tables, so their scans run concurrently
    val tables = Seq(t.raw, t.preprocessed, t.validated, t.alertFlags, t.mergedTrips,
      t.landingsSummary, t.matchedTracks).map(d => d.split('/').last -> d)
    val got = tables.map { case (name, dir) =>
      val extra = name match {
        case "raw" => countDistinct(col("submission_id"))
        case "merged_trips" => sum(col("Trip"))
        case _ => lit(0L)
      }
      summary(spark.read.parquet(dir), coalesce(extra, lit(0L)).cast(LongType).as("extra"))
        .select(lit(name).as("table"), col("rows"), col("hash"), col("extra"))
    }.reduce(_ unionByName _).collect().map(r => r.getString(0) -> r).toMap
    def rows(name: String) = got(name).getLong(1)
    val rawRows = answers.get("raw_rows").asLong
    val dropped = answers.get("submissions").asLong - got("raw").getLong(3)
    expect(errors, "corrupt documents dropped", dropped, answers.get("corrupt").asLong)
    Seq("raw", "preprocessed", "validated", "alert_flags", "landings_summary")
      .foreach(n => expect(errors, s"$n rows", rows(n), rawRows))
    expect(errors, "merged_trips rows", rows("merged_trips"), answers.get("merged_rows").asLong)
    expect(errors, "merged_trips trip-id sum", got("merged_trips").getLong(3),
      answers.get("merged_trip_sum").asLong)
    expect(errors, "matched_tracks rows", rows("matched_tracks"), answers.get("track_rows").asLong)
    val digest = tables.map { case (n, _) => s"$n:${rows(n)}:${got(n).getDecimal(2)}" }.mkString(" ")
    Checked(errors.toSeq, digest, Map(
      "sources.corrupt_dropped" -> dropped.toDouble,
      "pipeline.merge_trips.match_yield" -> rows("merged_trips").toDouble / rows("preprocessed")))
  }
}

/** `Runner.curate`'s default chain over the generated corpus. */
final class Curation(spark: SparkSession, inputs: String, answers: JsonNode) extends Workload {
  import Workload._

  private val docs = answers.get("docs").asLong
  private val exactDups: Seq[Long] = answers.get("exact_dups").elements().asScala.map(_.asLong).toSeq
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  def inputRows: Long = docs

  def run(unit: Int, root: String, tr: Tracer): Unit =
    tr.span(unit, "pipeline.curate") {
      Runner.curate(spark, Runner.StageTables(root), spark.read.schema(schema).json(s"$inputs/corpus"))
    }

  def check(root: String): Checked = {
    val errors = collection.mutable.Buffer.empty[String]
    val r = summary(spark.read.parquet(Runner.StageTables(root).curatedChunks),
      countDistinct(col("doc_id")).as("docs"),
      coalesce(sum(when(col("doc_id").isin(exactDups: _*), 1L)), lit(0L)).as("dups")).head()
    if (r.getLong(0) == 0) errors += "curate wrote no chunks"
    expect(errors, "planted exact duplicates surviving", r.getLong(3), 0L)
    Checked(errors.toSeq, s"curated_chunks:${r.getLong(0)}:${r.getDecimal(1)}",
      Map("pipeline.curate.keep_frac" -> r.getLong(2).toDouble / docs))
  }
}
