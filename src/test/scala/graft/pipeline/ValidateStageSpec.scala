package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{PlanTestUtil, SparkTestBase}
import graft.sources.StageIO

/** Pins how `Runner.validate` spends its jobs: the bounds are one small
  * aggregation run once (one shuffle exchange, no join), and each of the
  * two writes is a scan-project-write with the bounds as constants.
  * Counted with listeners, as in CurateForkSpec: jobs from
  * `SparkListenerJobStart`, written plans from the SQL execution start
  * and adaptive-update events of the two writes, the bounds plan from a
  * `QueryExecutionListener`. The negative control writes the same two
  * tables through the faithful chain ([[Validate.apply]]) under the same
  * counters and must trip both of them.
  */
class ValidateStageSpec extends SparkTestBase {
  import spark.implicits._

  /** A preprocessed-shaped stage table: two forms, four taxa, spread
    * in every bounded column, a few negatives and outliers. */
  private lazy val tables: Runner.StageTables = {
    val root = java.nio.file.Files.createTempDirectory("graft-validate-jobs").toString
    val rng = new scala.util.Random(17)
    val rows = (1 to 240).map { i =>
      val taxon = Seq("usipa", "chambo", "kampango", "0")(i % 4)
      val kg = 5.0 + rng.nextInt(20)
      val price = if (i % 50 == 0) 9000.0 else 80.0 + rng.nextInt(40)
      (if (i % 2 == 0) "legacy" else "current", s"$i-1-1",
        if (i % 60 == 0) "2019-05-01" else "2024-05-01",
        if (i % 37 == 0) -1.0 else 2.0 + rng.nextInt(5),
        if (i % 41 == 0) 500.0 else 4.0 + rng.nextInt(8),
        taxon, kg, kg * price, price)
    }
    rows.toDF("form_name", "survey_id", "landing_date", "n_fishers", "n_boats",
      "catch_taxon", "catch_kg", "catch_price", "price_kg")
      .withColumn("landing_date", to_timestamp(col("landing_date")))
      .write.parquet(Runner.StageTables(root).preprocessed)
    Runner.StageTables(root)
  }

  private case class Observed(jobs: Int, writtenNodes: Map[String, Seq[String]],
                              collected: Seq[SparkPlan])

  /** Jobs submitted while `body` runs, the node names of every plan
    * (initial and adaptive updates) that writes into the validated or
    * alert_flags directory, and the executed plans of the queries it
    * collected. */
  private def observe(body: => Unit): Observed = {
    val jobs = new AtomicInteger(0)
    val written = mutable.Map.empty[String, Seq[String]]
    val collected = mutable.Buffer.empty[SparkPlan]
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collected.synchronized(collected += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    def record(plan: SparkPlanInfo): Unit =
      Seq(tables.validated, tables.alertFlags).filter(plan.simpleString.contains)
        .foreach(dir => written.synchronized {
          written(dir) = written.getOrElse(dir, Nil) ++ names(plan)
        })
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => record(e.sparkPlanInfo)
        case e: SparkListenerSQLAdaptiveExecutionUpdate => record(e.sparkPlanInfo)
        case _ => ()
      }
    }
    tables // write the fixture outside the counting window
    org.apache.spark.GraftTestShim.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queries)
    try {
      body
      org.apache.spark.GraftTestShim.waitListenerBus(spark.sparkContext)
      Observed(jobs.get(), written.toMap, collected.synchronized(collected.toList))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(queries)
    }
  }

  /** Jobs of the fused stage, as measured. */
  private val Bound = 5

  private def forbidden(nodes: Seq[String]): Seq[String] =
    nodes.filter(n => Seq("Exchange", "Aggregate", "Join").exists(n.contains)).distinct

  test("validate stage: bounds computed once; each write is one scan-project-write job") {
    val got = observe(Runner.validate(spark, tables))
    assert(got.writtenNodes.keySet == Set(tables.validated, tables.alertFlags),
      s"write plans not seen: ${got.writtenNodes.keySet}")
    got.writtenNodes.foreach { case (dir, nodes) =>
      assert(forbidden(nodes).isEmpty, s"$dir plan has ${forbidden(nodes)}: $nodes")
    }
    // one footer read, the bounds aggregation (its shuffle map stage and
    // its result stage) and two writes
    assert(got.jobs <= Bound, s"validate stage submitted ${got.jobs} jobs")
    // the bounds are one aggregation: a single shuffle exchange, no join
    assert(got.collected.size == 1, s"${got.collected.size} collected queries")
    val boundsNodes = PlanTestUtil.nodes(got.collected.head)
    assert(boundsNodes.count(_.isInstanceOf[ShuffleExchangeLike]) == 1 &&
      !boundsNodes.exists(_.isInstanceOf[BaseJoinExec]), s"bounds plan:\n${got.collected.head}")

    // negative control: the faithful chain runs one bounds query per
    // validator when it is called and joins the validators' outputs back
    // (J5, J6) inside both writes, so both counters must fire
    val faithful = observe {
      val res = Validate(StageIO.load(spark, tables.preprocessed))
      StageIO.save(res.validated, tables.validated)
      StageIO.save(res.alertFlags, tables.alertFlags)
    }
    assert(faithful.jobs > Bound,
      s"negative control: faithful chain ran only ${faithful.jobs} jobs")
    assert(faithful.writtenNodes.values.forall(forbidden(_).nonEmpty),
      "negative control: the plan walk no longer sees exchanges, aggregates or joins")
    info(s"jobs: fused stage ${got.jobs}, faithful chain ${faithful.jobs} (bound $Bound)")
  }
}
