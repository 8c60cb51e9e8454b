package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming bronze→silver runner (reference T1-T5 semantics:
  * micro-batch file source, append mode, checkpointed exactly-once file
  * progress, foreachBatch sink, multi-query coordination).
  *
  * Mirrors `/root/reference/scripts/bronze_assets_to_silver_assets.py:
  * 280-299`: one streaming query per source, all appending to one silver
  * store, driver parks on awaitAnyTermination. The queries are
  * independent micro-batch loops: on a [[ManifestTableStore]] their
  * parquet writes overlap, and their commits race on the manifest
  * version (the loser rebases and retries).
  *
  * A drain after the first compiles nothing. Each query runs in a cloned
  * session, and on a [[Sessions.local]] session its tasks share the
  * executor's class loader (artifact isolation is off there), so a new
  * query's stages hit the classes the queries before it compiled
  * (CodegenReuseSpec pins a second AvailableNow drain at 0 compiles).
  */
object StreamRunner {

  /** Start one bronze→silver query.
    *
    * @param trigger `Trigger.ProcessingTime("30 seconds")` in production
    *                (reference `:34`); `Trigger.AvailableNow()` in tests so
    *                a run drains the directory and terminates.
    */
  def start(
      spark: SparkSession,
      spec: SourceSpec,
      sourceDir: String,
      checkpointDir: String,
      store: TableStore,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val raw = {
      val base = spark.readStream.format("json").schema(spec.schema)
        .options(spec.jsonOptions)
      // Backpressure at scale: bound files per micro-batch (unset in the
      // reference; exposed here because a 100 TB backlog would otherwise
      // land in one giant first batch).
      maxFilesPerTrigger.fold(base)(n =>
        base.option("maxFilesPerTrigger", n.toString)).load(sourceDir)
    }
    // Per-query batch-id namespace (Delta's txn writer): micro-batch
    // ids restart at 0 per checkpoint, so on a replay-refusing store
    // two sources appending into one silver table — the reference's
    // exact deployment shape — would silently drop every source after
    // the first without this scoping.
    val base = store.writerBase(spark, spec.name)
    // observed per-batch data-quality metrics, named per source: readable
    // from every progress event / StreamingQueryListener with no extra
    // pass over the data
    Normalize(raw, spec, observeAs = Some(s"normalize_${spec.name}"))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        store.append(batch, base + id)
      }
      .start()
  }

  /** Run a set of sources to completion (AvailableNow) — the test/backfill
    * entry. Returns after every query drains its directory.
    */
  def runAvailableNow(
      spark: SparkSession,
      sources: Seq[(SourceSpec, String, String)], // (spec, srcDir, ckptDir)
      store: TableStore): Unit = {
    val queries = sources.map { case (spec, src, ckpt) =>
      start(spark, spec, src, ckpt, store, Trigger.AvailableNow())
    }
    queries.foreach(_.awaitTermination())
  }

  /** The production deployment shape (reference
    * `bronze_assets_to_silver_assets.py:280-299`): start one
    * ProcessingTime query per source, all appending into one silver
    * store, then park the driver on `awaitAnyTermination` — returning
    * (or rethrowing) as soon as ANY query stops or fails, so a supervisor
    * can restart the job rather than limping along with a dead source.
    *
    * BLOCKS until a query terminates. Queries keep each other company on
    * the session's StreamingQueryManager; tests drive this from a
    * dedicated `spark.newSession()` so a foreign query can't wake the
    * park.
    */
  def runForever(
      spark: SparkSession,
      sources: Seq[(SourceSpec, String, String)], // (spec, srcDir, ckptDir)
      store: TableStore,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    spark.streams.resetTerminated()
    sources.foreach { case (spec, src, ckpt) =>
      start(spark, spec, src, ckpt, store, trigger, maxFilesPerTrigger)
    }
    spark.streams.awaitAnyTermination()
  }
}
