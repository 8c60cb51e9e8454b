package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Param

/** Bronze → silver normalization: corrupt-record filter, declarative
  * mapping, typed null-padding, deterministic surrogate key, raw-payload
  * preservation, fixed 33-column projection.
  *
  * Semantics follow `/root/reference/scripts/bronze_assets_to_silver_assets
  * .py:87-163` (Rapid7) / `:196-269` (FortiSIEM) but the whole pipeline is
  * ONE `select` over the cleaned scan — a single Project node for Catalyst
  * instead of ~40 stacked withColumns (analyzer-cheaper, same plan after
  * CollapseProject; SURVEY §4).
  *
  * Scale: stateless row-local work — no shuffle anywhere. At 100 TB this
  * runs at scan speed; parallelism is file-split driven, and the JSON parse
  * dominates.
  */
object Normalize {

  import CanonicalSchema.CorruptCol

  /** The canonical projection for one source, as columns over the raw DF. */
  def canonicalColumns(spec: SourceSpec, rawColumns: Seq[String],
      ingestTs: Column): Seq[Column] = {
    val dataCols = rawColumns.filterNot(_ == CorruptCol)
    // Original record re-serialized "for audit and evolution" (reference
    // README:12): struct of every non-corrupt raw column.
    val rawJson = to_json(struct(dataCols.map(col): _*))
    val generated: Map[String, Column] = Map(
      "source_system" -> lit(spec.name),
      "ingest_ts" -> ingestTs,
      "raw_json" -> rawJson)
    val mapped = spec.mapping ++ generated
    // uid parts reference canonical expressions, not raw columns: hostname
    // and ip-ish parts are case/whitespace-canonicalized, the id is not.
    // concat_ws SKIPS nulls (does not stringify them) — a record with a
    // null ip still gets a stable uid from the remaining parts.
    def canonical(name: String): Column =
      mapped.getOrElse(name,
        lit(null).cast(spec.canonical(name).dataType))
    val uid = sha2(concat_ws("|",
      lower(trim(canonical(spec.uid.hostnameCol))),
      lower(trim(canonical(spec.uid.ipishCol))),
      canonical(spec.uid.idCol)), 256)
    // the spec's own canonical model, not the global constant: a
    // widened canonical (governed-evolution rollout) projects the
    // extra columns; the default IS the global model
    spec.canonical.fields.toSeq.map { f =>
      (if (f.name == "asset_uid") uid else canonical(f.name)).as(f.name)
    }
  }

  /** Normalize a raw (bronze) frame: drop corrupt records, project to the
    * canonical model. Works identically on batch and streaming frames.
    *
    * @param ingestTs audit timestamp, one value for every row of the
    *                 frame. By default the query's `current_timestamp()`,
    *                 which a streaming query replaces with its micro-batch
    *                 timestamp, so each micro-batch carries one `ingest_ts`:
    *                 the batch timestamp. The default is a codegen
    *                 [[graft.functions.Param]], so the next trigger reuses
    *                 this one's compiled stage. Oracle-facing and
    *                 deterministic runs pass a fixed literal.
    * @param observeAs when set, attach observed metrics (`rows_in`,
    *                  `corrupt_dropped`) under this name — computed inline
    *                  by the running plan (zero extra actions or scans) and
    *                  surfaced per micro-batch in streaming
    *                  `QueryProgress.observedMetrics`. The engine-side
    *                  analog of the reference's state accounting
    *                  (`schema_inferer.py:223,240-241`): data-quality
    *                  drift is INSPECTABLE, per batch, for free.
    */
  def apply(raw: DataFrame, spec: SourceSpec,
      ingestTs: Column = Param.of(current_timestamp()),
      observeAs: Option[String] = None): DataFrame = {
    val observed = observeAs.fold(raw)(name => raw.observe(name,
      count(lit(1)).as("rows_in"),
      count(col(CorruptCol)).as("corrupt_dropped")))
    val clean = observed.filter(col(CorruptCol).isNull)
    clean.select(canonicalColumns(spec, raw.columns.toSeq, ingestTs): _*)
  }

  /** Batch variant of the observed pipeline: metrics land on the
    * [[org.apache.spark.sql.Observation]] handle after the first action
    * (`obs.get("rows_in")`), with the same zero-extra-pass guarantee.
    */
  def observed(raw: DataFrame, spec: SourceSpec,
      obs: org.apache.spark.sql.Observation,
      ingestTs: Column = Param.of(current_timestamp())): DataFrame = {
    val o = raw.observe(obs,
      count(lit(1)).as("rows_in"),
      count(col(CorruptCol)).as("corrupt_dropped"))
    val clean = o.filter(col(CorruptCol).isNull)
    clean.select(canonicalColumns(spec, raw.columns.toSeq, ingestTs): _*)
  }

  /** Batch read of a bronze JSON directory with the spec's hardened options
    * (PERMISSIVE + corrupt capture + multiLine).
    */
  def readBatch(spark: SparkSession, spec: SourceSpec, path: String): DataFrame =
    spark.read.schema(spec.schema).options(spec.jsonOptions).json(path)

  /** Streaming read of the same directory (micro-batch file source). */
  def readStream(spark: SparkSession, spec: SourceSpec, path: String): DataFrame =
    spark.readStream.format("json").schema(spec.schema)
      .options(spec.jsonOptions).load(path)

  /** Batch read of a CSV bronze directory under the same hardening
    * contract as JSON (PERMISSIVE + corrupt-record capture): widens the
    * engine's bronze surface beyond the reference's JSON-only sources.
    * The spec's schema must be flat for CSV; nested specs should stay on
    * JSON.
    *
    * Caveat (Spark limitation, enforced for CSV after column pruning): an
    * action that references ONLY the corrupt column — e.g. a bare
    * `count()` immediately after the corrupt filter — is rejected
    * ([UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN]). Any real
    * consumer (write, aggregate, select of data columns) is fine.
    */
  def readBatchCsv(spark: SparkSession, spec: SourceSpec, path: String,
      header: Boolean = true): DataFrame =
    spark.read.schema(spec.schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  /** In-memory read for fixtures/smoke: one JSON document per string.
    * (multiLine does not apply to in-memory datasets — line-based parse.)
    */
  def readRecords(spark: SparkSession, spec: SourceSpec,
      records: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(spec.schema)
      .options(spec.jsonOptions - "multiLine")
      .json(records.toDS())
  }
}
