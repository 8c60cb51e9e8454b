package graft.engine

import java.security.MessageDigest
import java.time.Instant

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Schema discovery & governance (SURVEY §2.11, reference
  * `scripts/schema_inferer.py:182-271`): per-topic schema inference over
  * the newest-N bronze files, SHA-256 drift detection, and persisted
  * state with an mtime high-watermark and a failure path that preserves
  * prior progress.
  *
  * Artifacts are folders of text (`<root>/<topic>/schema/`,
  * `<root>/<topic>/_state/`), written `coalesce(1) + overwrite` — the
  * folder-as-artifact convention avoids object-store rename issues
  * (reference `:141`) and keeps read-back a plain directory scan.
  */
object SchemaRegistry {

  final case class Config(
      maxFilesForInference: Int = 50, // <= 0 ⇒ all files
      samplingRatio: Double = 0.2,
      countSampleRecords: Boolean = false,
      dropAllNullFields: Boolean = false,
      corruptCol: String = CanonicalSchema.CorruptCol,
      multiLine: Boolean = true,
      /** When set, every schema CHANGE also emits an [[AutoMapper]]
        * `mapping_proposal` sidecar beside the topic's schema artifact
        * — the reference's stated flow (README.md:40 "Auto-mapping
        * suggests a canonical (silver) schema") wired into the
        * governance pass itself: drift triggers a fresh reviewable
        * proposal; nothing auto-applies (approval stays a human act
        * via [[AutoMapper.approve]]).
        */
      autoMapCanonical: Option[StructType] = None,
      /** Source-system name for a topic (the `source_system` literal
        * and the namespace-stripping key the matcher uses); default
        * strips the common `_assets`/`_events` suffixes.
        */
      autoMapSourceName: String => String =
        t => t.stripSuffix("_assets").stripSuffix("_events"))

  /** Per-topic persisted state (reference `:236-250`). Serialized with
    * sorted keys so the artifact is byte-stable for identical content.
    */
  final case class TopicState(
      topic: String,
      lastProcessedMtime: Long = 0L,
      sampleFiles: Seq[String] = Seq.empty,
      sampleFileCount: Option[Int] = None,
      sampleBytes: Option[Long] = None,
      schemaHash: Option[String] = None,
      previousSchemaHash: Option[String] = None,
      schemaChanged: Option[Boolean] = None,
      sampleRecordCount: Option[Long] = None,
      sampleColumnCount: Option[Int] = None,
      lastSuccessTs: Option[String] = None,
      lastAttemptTs: Option[String] = None,
      failureReason: Option[String] = None)

  sealed trait Outcome { def topic: String }
  final case class Skipped(topic: String, reason: String) extends Outcome
  final case class Updated(topic: String, schemaHash: String) extends Outcome
  final case class Unchanged(topic: String, schemaHash: String) extends Outcome
  final case class Failed(topic: String, reason: String) extends Outcome

  /** sha256 hex of the raw `StructType.json` string — hashing Spark's own
    * serialization verbatim (NOT key-sorted) replicates the reference's
    * drift signal exactly (`:107-108`, `:229`; SURVEY §7.4).
    */
  def hashSchema(schemaJson: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(schemaJson.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // --- state (de)serialization: sorted-key JSON via Jackson (on the Spark
  // classpath), mirroring json.dumps(sort_keys=True) (`:131`).
  private val mapper = new ObjectMapper()
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def stateToJson(s: TopicState): String = {
    val m = new java.util.TreeMap[String, Any]()
    m.put("topic", s.topic)
    m.put("last_processed_mtime", s.lastProcessedMtime)
    m.put("sample_files", s.sampleFiles.asJava)
    s.sampleFileCount.foreach(v => m.put("sample_file_count", v))
    s.sampleBytes.foreach(v => m.put("sample_bytes", v))
    m.put("schema_hash", s.schemaHash.orNull)
    s.previousSchemaHash.foreach(v => m.put("previous_schema_hash", v))
    s.schemaChanged.foreach(v => m.put("schema_changed", v))
    s.sampleRecordCount.foreach(v => m.put("sample_record_count", v))
    s.sampleColumnCount.foreach(v => m.put("sample_column_count", v))
    m.put("last_success_ts", s.lastSuccessTs.orNull)
    m.put("last_attempt_ts", s.lastAttemptTs.orNull)
    m.put("failure_reason", s.failureReason.orNull)
    mapper.writeValueAsString(m)
  }

  def stateFromJson(json: String): TopicState = {
    val n: JsonNode = mapper.readTree(json)
    def optS(f: String): Option[String] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText)
    def optB(f: String): Option[Boolean] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean)
    def optL(f: String): Option[Long] =
      Option(n.get(f)).filterNot(_.isNull).map(_.asLong)
    TopicState(
      topic = optS("topic").getOrElse(""),
      lastProcessedMtime = optL("last_processed_mtime").getOrElse(0L),
      sampleFiles = Option(n.get("sample_files")).filterNot(_.isNull)
        .map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Seq.empty),
      sampleFileCount = optL("sample_file_count").map(_.toInt),
      sampleBytes = optL("sample_bytes"),
      schemaHash = optS("schema_hash"),
      previousSchemaHash = optS("previous_schema_hash"),
      schemaChanged = optB("schema_changed"),
      sampleRecordCount = optL("sample_record_count"),
      sampleColumnCount = optL("sample_column_count").map(_.toInt),
      lastSuccessTs = optS("last_success_ts"),
      lastAttemptTs = optS("last_attempt_ts"),
      failureReason = optS("failure_reason"))
  }
}

/** One registry instance per (bronze root, schema root) pair. `now` is
  * injectable for deterministic tests.
  */
final class SchemaRegistry(
    spark: SparkSession,
    bronzeRoot: String,
    schemaRoot: String,
    config: SchemaRegistry.Config = SchemaRegistry.Config(),
    now: () => Instant = () => Instant.now()) {

  import SchemaRegistry._

  private def slash(p: String) = if (p.endsWith("/")) p else p + "/"
  private val bronze = slash(bronzeRoot)
  private val root = slash(schemaRoot)
  private def hconf = spark.sparkContext.hadoopConfiguration

  private def stateDir(topic: String) = s"$root$topic/_state/"
  private def schemaDir(topic: String) = s"$root$topic/schema/"

  private def jsonReadOpts: Map[String, String] = {
    val base = Map(
      "multiLine" -> config.multiLine.toString,
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> config.corruptCol)
    if (config.dropAllNullFields) base + ("dropFieldIfAllNull" -> "true")
    else base
  }

  /** The text lines of a folder artifact's part files, read
    * driver-side through the Hadoop FileSystem: the artifact is one
    * small part file, and a Spark text scan would run a job per read.
    */
  private def artifactLines(dir: String): Seq[String] =
    FsCatalog.listFilesRecursive(dir, hconf).map(_.path).sorted
      .flatMap { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        AtomicCreate.readString(hp.getFileSystem(hconf), hp)
      }.flatMap(_.linesIterator)

  /** First parseable JSON line wins (reference `:117-126`). */
  def readState(topic: String): TopicState = {
    if (!FsCatalog.exists(stateDir(topic), hconf)) return TopicState(topic)
    artifactLines(stateDir(topic)).view
      .filter(_.trim.nonEmpty)
      .flatMap(v => Try(stateFromJson(v)).toOption)
      .headOption
      .getOrElse(TopicState(topic))
  }

  /** Single-file folder overwrite (atomic-enough on object stores). */
  def writeState(topic: String, state: TopicState): Unit = {
    import spark.implicits._
    Seq(stateToJson(state)).toDF("value")
      .coalesce(1).write.mode("overwrite").text(stateDir(topic))
  }

  def writeSchema(topic: String, schemaJson: String): Unit = {
    import spark.implicits._
    Seq(schemaJson).toDF("value")
      .coalesce(1).write.mode("overwrite").text(schemaDir(topic))
  }

  /** Persisted schema for a topic, if any. */
  def readSchema(topic: String): Option[StructType] = {
    if (!FsCatalog.exists(schemaDir(topic), hconf)) return None
    artifactLines(schemaDir(topic)).view.filter(_.trim.nonEmpty)
      .flatMap(v => Try(
        org.apache.spark.sql.types.DataType.fromJson(v)
          .asInstanceOf[StructType]).toOption)
      .headOption
  }

  /** Infer a schema from sample files (reference `:154-176`): permissive
    * multiLine JSON read with optional record sampling; the corrupt column
    * is dropped before serialization so it never leaks into governance
    * artifacts.
    */
  def inferSchema(sampleFiles: Seq[String]): Option[(String, Option[Long], Int)] = {
    var reader = spark.read.options(jsonReadOpts)
    if (config.samplingRatio < 1.0)
      reader = reader.option("samplingRatio", config.samplingRatio.toString)
    val raw = reader.json(sampleFiles: _*)
    val df = if (raw.columns.contains(config.corruptCol))
      raw.drop(config.corruptCol) else raw
    if (df.schema.fields.isEmpty) None
    else {
      val count = if (config.countSampleRecords) Some(df.count()) else None
      Some((df.schema.json, count, df.schema.fields.length))
    }
  }

  /** One governance pass over every topic directory. */
  def runOnce(): Seq[Outcome] = {
    if (!FsCatalog.exists(bronze, hconf)) return Seq.empty
    FsCatalog.listDirs(bronze, hconf).map { topicPath =>
      val topic = topicPath.stripSuffix("/").split('/').last
      processTopic(topic, topicPath)
    }
  }

  def processTopic(topic: String, topicPath: String): Outcome = {
    var state = TopicState(topic)
    try {
      state = readState(topic)
      val files = FsCatalog.listFilesRecursive(topicPath, hconf)
      if (files.isEmpty) return Skipped(topic, "no files")
      val newestMtime = files.map(_.mtime).max
      // mtime high-watermark: nothing new since last run → skip
      if (newestMtime <= state.lastProcessedMtime)
        return Skipped(topic, "no new files since last run")
      val sorted = files.sortBy(-_.mtime)
      val sample = if (config.maxFilesForInference <= 0) sorted
        else sorted.take(config.maxFilesForInference)
      val sampleBytes = sample.map(_.size).sum

      val (schemaJson, recordCount, columnCount) =
        inferSchema(sample.map(_.path)).getOrElse(
          throw new RuntimeException("empty schema (no readable records)"))

      val schemaHash = hashSchema(schemaJson)
      val prevHash = state.schemaHash
      val changed = !prevHash.contains(schemaHash)
      if (changed) {
        writeSchema(topic, schemaJson)
        // drift ⇒ a fresh reviewable mapping proposal beside the
        // schema artifact (replaces any stale one — its confidences
        // described the OLD shape). Best-effort governance output:
        // a proposal failure must not fail the inference pass.
        config.autoMapCanonical.foreach { canonical =>
          Try(AutoMapper.persistProposal(spark, s"$root$topic",
            AutoMapper.suggest(config.autoMapSourceName(topic),
              org.apache.spark.sql.types.DataType.fromJson(schemaJson)
                .asInstanceOf[StructType],
              canonical)))
        }
      }

      val ts = now().toString
      writeState(topic, TopicState(
        topic = topic,
        lastProcessedMtime = newestMtime,
        sampleFiles = sample.map(_.path),
        sampleFileCount = Some(sample.size),
        sampleBytes = Some(sampleBytes),
        schemaHash = Some(schemaHash),
        previousSchemaHash = prevHash,
        schemaChanged = Some(changed),
        sampleRecordCount = recordCount,
        sampleColumnCount = Some(columnCount),
        lastSuccessTs = Some(ts),
        lastAttemptTs = Some(ts),
        failureReason = None))
      if (changed) Updated(topic, schemaHash) else Unchanged(topic, schemaHash)
    } catch {
      case e: Exception =>
        // Failure path preserves prior progress (watermark, schema hash,
        // last success) and records the reason; write is best-effort.
        Try(writeState(topic, state.copy(
          lastAttemptTs = Some(now().toString),
          failureReason = Some(e.toString))))
        Failed(topic, e.toString)
    }
  }
}
