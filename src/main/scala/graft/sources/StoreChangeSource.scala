package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2,
  ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.sources.{DataSourceRegister,
  RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.ManifestTableStore

/** The manifest store as a STRUCTURED STREAMING SOURCE — Delta's
  * streaming-source shape (`spark.readStream.format("delta")`): follow
  * a table's commits as micro-batches, offset = manifest version, with
  * the engine's checkpoint making resumption exactly-once.
  *
  *   spark.readStream.format("graft-store")
  *     .option("path", tablePath)          // required
  *     .option("readChangeFeed", "true")   // optional: full CDF rows
  *     .load()
  *
  * Default mode streams INSERTS (batch-id attributed `readChanges` —
  * Delta's default, which also means pure maintenance rewrites emit
  * nothing and a compacted table never re-delivers old rows);
  * `readChangeFeed=true` streams the full feed with `_change_type`
  * insert/delete rows, Delta's own CDF-streaming option, so a
  * downstream sync consumes RETIREMENTS too. Each micro-batch is the
  * version-pinned window (lastCommitted, currentVersion] — replaying a
  * checkpointed window re-reads the same manifests and produces the
  * same rows, which is what makes sink-side dedup/replay-refusal
  * compose into end-to-end exactly-once.
  *
  * Scale shape: `getOffset` is one manifest-dir listing; a batch reads
  * only the dirs its window's batch ids (or changed dirs) touch —
  * exactly the incremental cost a 100 TB table demands from a tailer.
  */
final class StoreChangeSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-store"

  /** The BATCH read side — `spark.read.format("graft-store")` with
    * Delta-named time-travel options and pushed-filter manifest
    * pruning; see [[StoreRelation]].
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation =
    new StoreRelation(sqlContext, storeOf(parameters), parameters)

  /** The WRITE side of the pair:
    * `writeStream.format("graft-store").option("path", ...)` — each
    * micro-batch commits as one manifest append under a WRITER-SCOPED
    * batch id (`writerBase(writerId) + batchId`, Delta's transactional
    * writer), so a crash between commit and checkpoint replays into a
    * write-time no-op and two queries with distinct `writerId`s can
    * feed one table without colliding in the flat id space. Composed
    * with the source above, a table-to-table incremental pipeline is
    * pure DataFrame API:
    * readStream(graft-store) → transforms → writeStream(graft-store).
    * Options: `path` (required), `writerId` (default
    * "graft-store-sink"), `statsColumns` (comma list recorded per
    * commit for data skipping). `partitionBy(...)` on the writer lays
    * batches out hive-style.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-store sink is append-only (manifest commits); got " +
        s"$outputMode — aggregate-update shapes go through " +
        "foreachBatch + merge (StreamingUpsert)")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-store sink requires option 'path'"))
    val statsCols = parameters.get("statsColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val main = new ManifestTableStore(path,
      partitionBy = partitionColumns, statsColumns = statsCols)
    // stream INTO A BRANCH (the audit-branch/WAP pattern through the
    // format API): micro-batches stage on the branch chain, invisible
    // to main readers until a fastForward publishes the run
    val store = parameters.get("branch") match {
      case Some(name) => main.branch(name)
      case None => main
    }
    val writerId = parameters.getOrElse("writerId", "graft-store-sink")
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // the engine hands a streaming-flagged frame; re-plan it batch
        // (ForeachBatchSink's wrapping) so the store's .write applies
        val batch = PlanShim.asBatch(data.sparkSession, data)
        val base = store.writerBase(data.sparkSession, writerId)
        store.append(batch, base + batchId)
      }
      override def toString: String = s"GraftStoreSink[$path]"
    }
  }

  private def storeOf(parameters: Map[String, String]) =
    new ManifestTableStore(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-store source requires option 'path'")))

  private def cdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      storeOf(parameters).read(sqlContext.sparkSession).schema)
    val full =
      if (cdf(parameters) && !base.fieldNames.contains("_change_type"))
        StructType(base.fields :+
          StructField("_change_type", StringType, nullable = false))
      else base
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new StoreChangeSource(sqlContext.sparkSession,
      storeOf(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      cdf(parameters),
      // Delta's startingVersion: begin the tail AT a version (INCLUSIVE
      // of that version's own commit, matching Delta's same-named
      // option) instead of re-delivering the table's whole history —
      // the shape for attaching a new consumer to a long-lived table.
      // Batch windows are (exclusiveFrom, to], so inclusive-of-v means
      // the first window opens at v - 1.
      parameters.get("startingVersion")
        .map(s => math.max(0L, s.toLong - 1L)).getOrElse(0L))
}

/** The source half of [[StoreChangeSourceProvider]]. Under
  * `Trigger.AvailableNow` a run stops at the version current when it
  * starts ([[prepareForTriggerAvailableNow]]): commits landing during
  * the run wait for the next run.
  */
final class StoreChangeSource(spark: SparkSession,
    store: ManifestTableStore, override val schema: StructType,
    cdf: Boolean, startingVersion: Long = 0L) extends Source
    with SupportsTriggerAvailableNow {

  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  // the AvailableNow run's end version, fixed when the run starts
  @volatile private var runEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    runEnd = Some(store.currentVersion(spark))

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.orNull

  override def getOffset: Option[Offset] = {
    val v = runEnd.getOrElse(store.currentVersion(spark))
    if (v == 0L) None else Some(LongOffset(v))
  }

  private def version(o: Offset): Long = o.json.toLong

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(version).getOrElse(startingVersion)
    val to = version(end)
    val raw =
      if (cdf) store.readChangeFeed(spark, from, to)
      else store.readChanges(spark, from, to)
    // pin the window's rows to the DECLARED source schema (evolution
    // between versions may add columns mid-stream; missing ones pad
    // null, exactly like the store's own union-by-name read)
    val aligned = raw.select(schema.fields.map { f =>
      (if (raw.columns.contains(f.name)) col(f.name)
      else lit(null)).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    PlanShim.asStreaming(spark, aligned)
  }

  override def stop(): Unit = ()
}
