package graft.perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec,
  FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.engine.{ManifestTableStore, SchemaRegistry, SourceSpec,
  StoreCatalog, StreamRunner}

/** A query timed in three parts: resolve (the catalog call, which
  * resolves the store's snapshot), plan (`executedPlan` before the
  * action) and exec (the action).
  */
final case class QueryRun(resolveMs: Double, planMs: Double,
    execMs: Double, scanNodes: Int, rows: Seq[Row]) {
  def ms: Double = resolveMs + planMs + execMs
}

/** One drain of both sources: wall time and every trigger that ran a
  * batch.
  */
final case class Drain(ms: Double, triggers: Seq[(String, StreamingQueryProgress)]) {
  def observed(source: String, metric: String): Long = triggers.collect {
    case (s, p) if s == source =>
      Option(p.observedMetrics.get(s"normalize_$s"))
        .map(_.getAs[Long](metric)).getOrElse(0L)
  }.sum
  def silverRows: Long = BronzeGen.Sources.map(s =>
    observed(s, "rows_in") - observed(s, "corrupt_dropped")).sum
}

/** The reference's ingest path over one bronze root, driven only through
  * public calls: governance, two AvailableNow streams into one silver
  * store, a gold MV and queries through the catalog. Every call into a
  * layer runs inside a span named after it.
  */
final class Pipeline(spark: SparkSession, trace: Trace, bronze: Path,
    root: Path, maxFilesPerTrigger: Option[Int]) {

  import Pipeline._

  val catalog = new StoreCatalog(root.resolve("catalog").toString)
  private val silverInner =
    new ManifestTableStore(root.resolve("catalog").resolve("silver").toString)
  catalog.register("silver", silverInner)
  val store = new TracedStore(silverInner, trace)
  val registry = new SchemaRegistry(spark, bronze.toString,
    root.resolve("schemas").toString)

  def governance(): Seq[SchemaRegistry.Outcome] =
    trace(Governance)(registry.runOnce())

  def drain(): Drain = trace("drain") {
    val t0 = Trace.nowMs
    val queries = BronzeGen.Sources.map { s =>
      s -> StreamRunner.start(spark, spec(s),
        bronze.resolve(BronzeGen.topic(s)).toString,
        root.resolve("checkpoints").resolve(s).toString, store,
        Trigger.AvailableNow(), maxFilesPerTrigger)
    }
    queries.foreach(_._2.awaitTermination())
    val ms = Trace.nowMs - t0
    val triggers = queries.flatMap { case (s, q) =>
      q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
        .map(s -> _)
    }
    triggers.foreach { case (_, p) =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      trace.record(Span(trace.newId(), Trigger_, trace.current, trace.runId,
        start, start + p.durationMs.get("triggerExecution").doubleValue,
        trace.tracing))
    }
    Drain(ms, triggers)
  }

  def createGold(): Unit = trace(Create) {
    catalog.exec(spark, s"CREATE MATERIALIZED VIEW gold AS $GoldDef",
      Some(0L))
  }

  /** REFRESH and its mode (`incremental`, `current` or `full:<why>`). */
  def refreshGold(): String = trace(Refresh) {
    catalog.exec(spark, "REFRESH MATERIALIZED VIEW gold").head().getString(0)
  }

  def goldQuery(): QueryRun = timed(Query, GoldQuery)

  def silverScan(): QueryRun = timed(Read, SilverScan)

  private def timed(span: String, sql: String): QueryRun = trace(span) {
    val t0 = Trace.nowMs
    val df = catalog.query(spark, sql)
    val t1 = Trace.nowMs
    val plan = df.queryExecution.executedPlan
    val t2 = Trace.nowMs
    val rows = df.collect().toSeq
    val t3 = Trace.nowMs
    QueryRun(t1 - t0, t2 - t1, t3 - t2, scanNodes(plan).size, rows)
  }

  /** Scan nodes and files of the store's own `read(spark)` plan: the
    * catalog serves the store through one relation whose per-directory
    * scans its query plans do not show.
    */
  def readShape(): (Int, Int) = {
    val scans = scanNodes(store.read(spark).queryExecution.executedPlan)
    (scans.size, scans.collect { case f: FileSourceScanExec =>
      f.relation.location.inputFiles.length }.sum)
  }

  /** Gold as stored, against a full recompute of its definition. */
  def goldMatchesRecompute(): Boolean = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString)
      .toSeq
    rows(catalog.query(spark,
      "SELECT asset_uid, source_system, sightings, max_risk FROM gold")) ==
      rows(catalog.query(spark, GoldDef))
  }

  def persistedSchema(source: String): Option[org.apache.spark.sql.types.StructType] =
    registry.readSchema(BronzeGen.topic(source))

  def state(source: String): SchemaRegistry.TopicState =
    registry.readState(BronzeGen.topic(source))
}

object Pipeline {
  val Governance = "SchemaRegistry.runOnce"
  val Trigger_ = "StreamRunner.trigger"
  val Read = "ManifestTableStore.read"
  val Create = "StoreCatalog.create"
  val Refresh = "StoreCatalog.refresh"
  val Query = "StoreCatalog.query"

  val GoldDef: String =
    "SELECT asset_uid, source_system, COUNT(*) AS sightings, " +
      "MAX(risk_score) AS max_risk FROM silver " +
      "GROUP BY asset_uid, source_system"
  val GoldQuery: String =
    "SELECT source_system, COUNT(*) AS assets, SUM(sightings) AS rows " +
      "FROM gold GROUP BY source_system"
  /** The whole-table silver query: every row, and the key column. */
  val SilverScan: String =
    "SELECT source_system, COUNT(*) AS rows, " +
      "COUNT(DISTINCT asset_uid) AS uids FROM silver GROUP BY source_system"

  def spec(source: String): SourceSpec = source match {
    case "rapid7" => SourceSpec.rapid7
    case "fortisiem" => SourceSpec.fortisiem
  }

  /** Scan nodes of a physical plan, adaptive wrappers and subqueries
    * included.
    */
  def scanNodes(plan: SparkPlan): Seq[DataSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scanNodes(a.inputPlan)
    case s: DataSourceScanExec => Seq(s)
    case p => (p.children ++ p.subqueries).flatMap(scanNodes)
  }

  /** (source_system → (a, b)) from a two-long-column grouped result. */
  def bySource(rows: Seq[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  def duration(p: StreamingQueryProgress, key: String): Double =
    p.durationMs.asScala.get(key).map(_.doubleValue).getOrElse(0.0)
}
