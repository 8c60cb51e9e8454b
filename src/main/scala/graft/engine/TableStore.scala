package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.Pin.Pinnable

/** Silver-table sink. The reference appends micro-batches to an Iceberg
  * table (`bronze_assets_to_silver_assets.py:275-277`); Iceberg/Delta jars
  * are unavailable offline, so there are two stand-ins:
  * [[ManifestTableStore]] commits versioned manifests (snapshot
  * isolation, replayed batches are no-ops), and [[ParquetTableStore]] is
  * a bare parquet directory append without snapshot isolation.
  *
  * Exactly-once caveat (SURVEY §7.4) for the bare append: the streaming
  * checkpoint prevents re-reads, but a crash between the parquet write
  * and checkpoint commit can duplicate a batch. `batch_id` is stamped on
  * every row so a later dedup (max batch_id per key, or drop repeated
  * batch ids) can restore exactly-once — the same recovery contract
  * Iceberg gives via snapshot rollback.
  */
trait TableStore {
  def append(df: DataFrame, batchId: Long): Unit
  def read(spark: SparkSession): DataFrame

  /** Exactly-once read-back over a store that may contain a replayed
    * micro-batch (crash between parquet write and checkpoint commit → the
    * restarted query re-runs the same batch id with recomputed rows, e.g.
    * a fresh `ingest_ts`). One row survives per (batch_id, key): replays
    * collapse because they share the batch id, while identical content
    * legitimately arriving in different batches keeps distinct batch ids.
    * This is the recovery contract `batch_id` is stamped for — the
    * parquet-dir analogue of an Iceberg snapshot rollback.
    */
  def readExactlyOnce(spark: SparkSession,
      keys: Seq[String] = Seq("asset_uid")): DataFrame = {
    val df = read(spark)
    df.dropDuplicates("batch_id" +: keys)
  }

  /** Base offset of `writerId`'s batch-id namespace — Delta's
    * transactional-writer (`txn` appId/version) idea. Streaming
    * micro-batch ids restart at 0 per checkpoint, so two queries — or
    * one query over a table seeded by direct appends — sharing one flat
    * id space would replay-drop each other's batches. A writer commits
    * batch b as `writerBase + b`. Default 0: a store without replay
    * detection needs no namespacing.
    */
  def writerBase(spark: SparkSession, writerId: String): Long = 0L
}

object TableStore {
  import graft.functions.Param
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.InSet
  import org.apache.spark.sql.functions.col
  import org.apache.spark.sql.graftshim.PlanShim

  /** `df` stamped with `batch_id` = `batchId`. The id is a codegen
    * [[Param]], so the next commit of a same-shaped frame reuses the
    * stage this one compiled.
    */
  private[engine] def withBatchId(df: DataFrame, batchId: Long): DataFrame =
    df.withColumn("batch_id", Param.of(batchId))

  /** `batch_id IN ids` as an `InSet`, whose generated code reads the
    * set from the plan's references: a plain `IN` of up to ten ids
    * writes them into the source, so each window would compile anew.
    * An `InSet` skips type coercion; `batch_id` is a LongType column
    * in every dir (stamped by [[withBatchId]] or a schema marker).
    */
  private[engine] def batchIdIn(ids: Iterable[Long],
      batchId: Column = col("batch_id")): Column =
    PlanShim.column(InSet(PlanShim.expression(batchId),
      ids.map(id => id: Any).toSet))
}

/** Manifest-committed parquet table — the closest offline analogue of an
  * Iceberg snapshot commit (reference sink
  * `bronze_assets_to_silver_assets.py:275-277`), built from nothing but
  * Hadoop FS primitives:
  *
  *   - data files land under `data/<name>-<uuid>/` — INVISIBLE to
  *     readers until published (a crash mid-write leaves an orphan dir,
  *     never a partial table);
  *   - table state is a VERSIONED manifest (`manifest/v<N>`, highest
  *     version wins — Iceberg's metadata-versioning shape): each
  *     version lists every (batchId, dataDir) pair, and EVERY state
  *     change — append or compaction — is one SINGLE-STEP atomic
  *     publish of the next version file (full content staged to a
  *     hidden temp file first, then made visible by one atomic
  *     create-if-absent: a hard link on local FS, `FileContext.rename`
  *     with `Rename.NONE` on HDFS), so existence == completeness and a
  *     visible version is never half-written;
  *   - CONCURRENT WRITERS are safe without any lock: the version number
  *     is the optimistic-concurrency token. A writer that loses the
  *     atomic-publish race hands the winner's state to its op's rebase
  *     policy in the one commit core ([[commit]]: appends re-apply,
  *     replaces throw, maintenance rewrites carry fresh appends forward
  *     and abort against competing rewrites, DML throws) and retries at
  *     a higher version — the Iceberg/Delta commit protocol.
  *     (Needs atomic create-if-absent from the store — hard link /
  *     namenode rename here; bare S3 needs an external coordinator,
  *     Delta's documented caveat too.) An [[append]] holds no lock
  *     within the process either: its write runs outside the handle's
  *     monitor and only its publish races, so two sources appending
  *     through one handle write in parallel. Every other state change
  *     keeps the monitor;
  *   - a replayed micro-batch (crash between write and checkpoint
  *     commit, then restart) finds its batch id in the current version
  *     and becomes a NO-OP: exactly-once lands at WRITE time, with no
  *     read-side dedup needed — and because versions carry batch ids
  *     forward, that guarantee SURVIVES compaction;
  *   - [[compact]] rewrites all committed data as one dir (the
  *     small-files maintenance every streaming parquet table needs — a
  *     30 s trigger writes ~3k dirs/day) and commits it as the next
  *     version. Superseded dirs stay on disk for in-flight readers;
  *     vacuuming them after a grace period is a trivial dir diff;
  *   - every data rewrite (compactions, DML, partition overwrite, the
  *     REFRESH fold) picks dirs and builds frames, and hands its outputs
  *     (replaced dirs, frame, added batch id; or a bucket layout) to
  *     ONE write-and-commit, [[rewriteCommit]]. Its kind names its dirs
  *     and picks its rebase policy: maintenance `compact-`, `cluster-`,
  *     `zorder-`; DML `delete-`, `update-`, `merge-`, `overwrite-`,
  *     `delfold-`;
  *   - optional `partitionBy` lays data out hive-style so reader
  *     predicates on partition columns prune directories — the same scan
  *     reduction a table format's partition spec gives (asserted against
  *     the executed plan's PartitionFilters in the spec);
  *   - readers see exactly the current version's dirs, read with their
  *     cached schemas ([[ManifestTableStore.DirSchemas]]) as one file
  *     scan per schema version and unioned by name, so governed
  *     evolution null-pads missing columns.
  *
  * Time travel ([[readVersion]]) and garbage collection ([[vacuum]])
  * fall out of the versioned design, and `statsColumns` adds the third
  * leg of a table format's scan-reduction stack: per-data-dir min/max
  * column statistics recorded in the manifest at commit time, consulted
  * by [[readWhere]] to skip whole dirs a predicate provably cannot match
  * (Iceberg's manifest-level file pruning / parquet's zone maps, lifted
  * to the commit layer — at 100 TB this is the difference between
  * scanning a day and scanning the table); `bloomColumns` adds the
  * fourth: per-dir membership filters so EQUALITY lookups on
  * high-cardinality keys prune dirs whose min/max ranges always overlap
  * (see [[collectBloomInto]]). The commit/visibility/
  * idempotence/concurrency semantics — the parts the reference pipeline
  * actually relies on from Iceberg — are faithful.
  */
final class ManifestTableStore(path: String,
    partitionBy: Seq[String] = Nil,
    statsColumns: Seq[String] = Nil,
    bloomColumns: Seq[String] = Nil,
    bloomBits: Int = 1 << 19,
    /** Iceberg's `write.delete.mode` as a table property: a
      * [[graft.engine.StoreSql]] `DELETE FROM` routes to [[deleteMoR]]
      * on `Some(keyCol)` (merge-on-read equality deletes keyed by that
      * column) and to the copy-on-write [[delete]] on None. The Scala
      * API is unaffected — both methods stay directly callable.
      */
    val morDeleteKey: Option[String] = None,
    /** Manifest chain this handle commits to: "manifest" = the main
      * ref; a branch handle (from [[branch]]) points at
      * "branches/<name>" and shares the table's data-dir space, so a
      * branch commit is exactly as cheap as a main commit.
      */
    private val refDir: String = "manifest") extends TableStore {
  import org.apache.hadoop.fs.{FileSystem, Path => HPath}
  import org.apache.spark.sql.functions._
  import ManifestTableStore.{EndMarker, Entry, NumV, StagedStatsFile,
    StrV, SVal, TsV}
  import com.fasterxml.jackson.databind.JsonNode
  import com.fasterxml.jackson.databind.node.{JsonNodeFactory, TextNode}

  private def isMain: Boolean = refDir == "manifest"

  /** The table's root path — the `path` option a
    * `spark.read.format("graft-store")` read of this table takes.
    */
  private[graft] def tablePath: String = path

  /** Whether this handle commits to the main ref (vs a branch chain —
    * [[branch]] handles share the path, so a path-only format read of
    * a branch handle would serve MAIN state).
    */
  private[graft] def isMainRef: Boolean = isMain

  private def fs(spark: SparkSession): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Test-only failpoint, invoked by [[commit]] after an op has written
    * its data/delete files, immediately before the first commit
    * attempt — the window where a writer can die with orphan files on
    * disk, or a concurrent writer can win the version race. Specs
    * inject crashes and interleavings here; the default is a no-op and
    * production paths never assign it.
    */
  private[engine] var beforeDmlCommit: () => Unit = () => ()

  private def manifestDir = new HPath(s"$path/$refDir")

  /** The newest COMPLETE manifest — versions whose content lacks the
    * end marker are in-flight (or dead) writers and are skipped; version
    * 0 with no entries for a new table.
    */
  private def current(f: FileSystem): Snapshot = {
    if (!f.exists(manifestDir)) return new Snapshot(0L, Nil)
    val versions = f.listStatus(manifestDir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toLong }
      .sorted.reverse
    versions.iterator
      .map(v => v -> readManifest(f, v))
      .collectFirst { case (v, Some(entries)) => new Snapshot(v, entries) }
      .getOrElse(new Snapshot(0L, Nil))
  }

  /** COMPLETE version `version`, or the store's one refusal of a
    * missing (never committed, or vacuumed) or incomplete version.
    */
  private def snapshotAt(f: FileSystem, version: Long): Snapshot =
    new Snapshot(version, manifestAt(f, version).getOrElse(
      throw new ManifestTableStore.VersionUnavailableException(path, version)))

  /** A version's entries; None when it is missing (never committed, or
    * vacuumed) or incomplete.
    */
  private def manifestAt(f: FileSystem, version: Long): Option[Seq[Entry]] =
    try readManifest(f, version) catch {
      case _: java.io.FileNotFoundException => None
    }

  /** None ⇔ the version file exists but is incomplete (no end marker):
    * a concurrent writer mid-commit, or a writer that died — either way
    * not table state.
    */
  private def readManifest(f: FileSystem,
      version: Long): Option[Seq[Entry]] =
    readManifestAt(f, new HPath(manifestDir, s"v$version"))

  private def readManifestAt(f: FileSystem,
      p: HPath): Option[Seq[Entry]] = {
    val st = f.getFileStatus(p)
    val in = f.open(st.getPath)
    val text = try {
      val buf = new Array[Byte](st.getLen.toInt)
      in.readFully(buf); new String(buf, "UTF-8")
    } finally in.close()
    if (!text.endsWith(EndMarker)) return None
    Some(text.linesIterator.filter(l => l.nonEmpty && l != EndMarker).map {
      l =>
        l.split("\t", 3) match {
          case Array(id, dir) => Entry(id.toLong, dir, "")
          case Array(id, dir, stats) => Entry(id.toLong, dir, stats)
        }
    }.toSeq)
  }

  /** Whether ANY surviving manifest version — the main chain AND every
    * branch chain — references a data dir under `rootPrefix`
    * (URI-path-normalized). The vacuum clone-guard's liveness probe:
    * a clone's CURRENT state may be fully severed while an older
    * version, a tag, or a branch head still serves source dirs — time
    * travel to those would break if the source vacuumed. Cost: one
    * small read per surviving manifest file (version-count-bounded
    * metadata, no data I/O).
    */
  private[engine] def referencesDirsUnder(f: FileSystem,
      rootPrefix: String): Boolean = {
    def chain(dir: HPath): Boolean =
      f.exists(dir) && f.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        n.startsWith("v") && n.drop(1).toLongOption.isDefined &&
          readManifestAt(f, st.getPath).exists(_.exists(e =>
            new HPath(e.dir).toUri.getPath.startsWith(rootPrefix)))
      }
    chain(manifestDir) ||
      (f.exists(branchesRoot) && f.listStatus(branchesRoot).exists(b =>
        b.isDirectory && chain(b.getPath)))
  }

  /** One optimistic-concurrency commit attempt, SINGLE-STEP: the full
    * manifest content is written to a hidden temp file first, then
    * published to `v<next>` with one atomic create-if-absent operation —
    * so a version file either does not exist or is complete table state,
    * and the version number itself is the conflict token (Iceberg/
    * Delta's commit protocol). There is no window where a visible
    * version is still being written, hence no eviction and no way for a
    * writer to be evicted while believing its commit succeeded.
    *
    * The atomic publish primitive is [[AtomicCreate]] (hard link on
    * local FS, namenode rename(NONE) on HDFS; bare object stores need an
    * external coordinator — the same caveat Delta documents).
    *
    * Returns false on a lost race; [[commit]], its one caller, rebases.
    */
  private def tryCommit(f: FileSystem, next: Long,
      lines: Seq[Entry]): Boolean =
    AtomicCreate.publish(f, new HPath(manifestDir, s"v$next"),
      (lines.map { e =>
        if (e.statsJson.isEmpty) s"${e.batchId}\t${e.dir}"
        else s"${e.batchId}\t${e.dir}\t${e.statsJson}"
      } :+ EndMarker).mkString("\n").getBytes("UTF-8"))

  /** The commit core, every manifest publish: publish
    * `edit(base.entries)` as the version after `base`; on a lost race
    * hand the winner's state to `rebase`, one of the four [[Rebase]]
    * policies. The class's only retry loop and only [[beforeDmlCommit]]
    * call, made outside the cleanup: a crash there leaves what a dead
    * writer leaves. Returns whether the op published.
    *
    * Cleanup rule: when nothing is published — converged, aborted or
    * thrown — each dir in `wrote` (declared by the op: a restore or a
    * new branch re-references old dirs) that the CURRENT version does
    * not reference is deleted.
    */
  private def commit(f: FileSystem, base: Snapshot, wrote: Seq[String])(
      edit: Seq[Entry] => Seq[Entry], rebase: Rebase): Boolean = {
    beforeDmlCommit()
    var published = false
    try {
      var next = base.version + 1
      var lines = Option(edit(base.entries))
      while (!published && lines.isDefined) {
        published = tryCommit(f, next, lines.get)
        if (!published) {
          val won = current(f)
          lines = rebase(base, won, edit)
          next = math.max(won.version + 1, next + 1)
        }
      }
      published
    } finally if (!published && wrote.nonEmpty) {
      def norm(d: String) = new HPath(d).toUri.getPath
      val live = current(f).entries.map(e => norm(e.dir))
      wrote.filterNot { d =>
        val n = norm(d)
        live.exists(l => l == n || l.startsWith(n + "/"))
      }.foreach { d =>
        f.delete(new HPath(d), true)
        ManifestTableStore.DirSchemas.evictUnder(d)
      }
    }
  }

  /** (base, winner, edit) => the entries to publish at the next
    * version, or None to stop with nothing published; refusals throw.
    */
  private type Rebase =
    (Snapshot, Snapshot, Seq[Entry] => Seq[Entry]) => Option[Seq[Entry]]

  /** The four rebase policies. */
  private object Rebase {
    /** Idempotent append: re-apply the edit on the winner while
      * `reapply(winner)` holds; false stops (converged, or the caller
      * re-runs). Caller guards (schema markers, fast-forward)
      * re-validate here by throwing.
      */
    def append(reapply: Snapshot => Boolean): Rebase =
      (_, won, edit) => if (reapply(won)) Some(edit(won.entries)) else None

    /** Converged when the winner holds `batchId` (a replay). */
    def append(batchId: Long): Rebase = append(!_.has(batchId))

    /** Blind replace: throws on ANY concurrent write (Delta's
      * serializable rule) rather than clobbering it, unless
      * `converged` (the winner holds this very change).
      */
    def replace(op: String,
        converged: Snapshot => Boolean = _ => false): Rebase =
      (_, won, _) =>
        if (converged(won)) None
        else throw new java.util.ConcurrentModificationException(
          s"$op of $path aborted: a concurrent write committed after " +
            s"this ${op.toLowerCase}'s snapshot; nothing was applied — " +
            "re-read and retry")

    /** Maintenance rewrite (compactions, stats refresh): rebase
      * around appends committed since the base; abort (None) when a
      * competing rewrite moved a base batch — re-running is the
      * caller's choice.
      */
    val maintenance: Rebase = { (base, won, edit) =>
      // Snapshot identity is the FULL entry (batchId, dir, stats), not
      // batchId alone: delete entries all share the reserved sentinel
      // id, so id-keyed bookkeeping would conflate a concurrent second
      // delete with a moved batch.
      val snapshot = base.entries
      val snapSet = snapshot.toSet
      val snapDataIds =
        snapshot.filterNot(isDeleteEntry).map(_.batchId).toSet
      val (kept, fresh) = won.entries.partition(snapSet.contains)
      // a snapshot data batch re-committed under a new dir (or a
      // snapshot entry gone) = a CONCURRENT MAINTENANCE op landed:
      // abort — rebasing across two rewrites would double-count rows
      val movedByOther = fresh.exists(e =>
        !isDeleteEntry(e) && snapDataIds.contains(e.batchId))
      // an UNSCOPED delete entry in the snapshot masks every data
      // entry, including fresh appends the rewrite never anti-joined —
      // folding it in would silently resurrect those rows. Scoped
      // deletes (everything deleteMoR commits) never mask fresh
      // batches, so rebasing around fresh appends stays sound.
      val unscopedDelete = snapshot.exists(e => isDeleteEntry(e) &&
        ManifestTableStore.parseApplies(e.statsJson).isEmpty)
      if (movedByOther || kept.size != snapshot.size) None
      else if (unscopedDelete && fresh.exists(e => !isDeleteEntry(e))) None
      else Some(edit(snapshot) ++ fresh)
    }

    /** DML: the maintenance rule, but an abort throws — silence would
      * let a SQL DELETE report success while deleting nothing.
      */
    def dml(tag: String): Rebase = (base, won, edit) =>
      maintenance(base, won, edit).orElse(
        throw new java.util.ConcurrentModificationException(
          s"$tag on $path aborted: a concurrent maintenance rewrite " +
            "moved this snapshot's dirs; nothing was applied — re-read " +
            "and retry"))
  }

  /** A data rewrite's kind: its dir name `data/<prefix>-<uuid>` and
    * its rebase policy. Maintenance preserves content, so a branch
    * [[fastForward]] may publish over its dirs. `delfold` is DML:
    * folding a merge-on-read delete materializes a deletion.
    */
  private final class Kind(val prefix: String, val rebase: Rebase)

  private object Kind {
    val Compact = new Kind("compact", Rebase.maintenance)
    val Cluster = new Kind("cluster", Rebase.maintenance)
    val ZOrder = new Kind("zorder", Rebase.maintenance)
    val Delete = new Kind("delete", Rebase.dml("delete"))
    val Update = new Kind("update", Rebase.dml("update"))
    val Merge = new Kind("merge", Rebase.dml("merge"))
    val Overwrite = new Kind("overwrite", Rebase.dml("overwrite"))
    val DelFold = new Kind("delfold", Rebase.dml("compactDeletes"))
    val maintenancePrefixes: Seq[String] =
      Seq(Compact, Cluster, ZOrder).map(_.prefix + "-")
  }

  /** One output of a data rewrite: `frame`, written to a fresh dir
    * that takes over the entries of the `replaces` dirs, plus an entry
    * for the batch it `adds`. A `buckets` frame carries a `__cluster`
    * column and writes one dir per bucket.
    */
  private final case class Output(replaces: Set[String], frame: DataFrame,
      adds: Option[Long] = None, buckets: Boolean = false)

  /** Write a ZERO-ROW schema-marker dir `data/<kind>-<uuid>` holding
    * `cols` plus `batch_id`, and return its manifest entry under the
    * reserved [[ManifestTableStore.SchemaBatchId]]. A direct
    * unpartitioned write: a marker has no partition values and nothing
    * for checks to see. Its schema pre-fills
    * [[ManifestTableStore.DirSchemas]], and its stats are what
    * [[collectStatsOf]] emits over the empty frame — no min/max, all-zero
    * bloom bitsets, count 0 — computed with no Spark job (known by
    * construction); `payload` adds a drop/rename/widen marker's key.
    */
  private def writeMarker(spark: SparkSession, kind: String,
      cols: org.apache.spark.sql.types.StructType =
        org.apache.spark.sql.types.StructType(Nil),
      payload: Option[(String, JsonNode)] = None): Entry = {
    val schema =
      if (cols.fieldNames.contains("batch_id")) cols
      else cols.add("batch_id", org.apache.spark.sql.types.LongType)
    val dir = s"$path/data/$kind-${java.util.UUID.randomUUID()}"
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(dir)
    ManifestTableStore.DirSchemas.put(dir, schema)
    Entry(ManifestTableStore.SchemaBatchId, dir,
      statsJsonFrom(schema, Nil, Nil, 0L, None, payload))
  }

  /** Min/max per requested stats column over one freshly-written data
    * dir, as the manifest's JSON stats field ("" when none apply). One
    * columnar scan of JUST these columns per commit — footer-cheap, and
    * the read-back (rather than re-running the upstream batch plan)
    * guarantees stats describe exactly the bytes committed. Numeric and
    * string columns only; anything else (or an all-null dir) simply
    * yields no stats — pruning stays conservative. Serves staged
    * publishes without a stashed sidecar and the per-bucket dirs of
    * clustered rewrites; [[write]] folds these aggregates into the
    * write job itself.
    */
  private def collectStats(spark: SparkSession, dir: String): String =
    collectStatsOf(ManifestTableStore.DirSchemas.read(spark, dir))

  private def statsIsTs(dt: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    dt == TimestampType || dt == TimestampNTZType
  }

  /** Stats columns eligible in `schema` (numeric/string/timestamp). */
  private def statsEligibleIn(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    statsColumns.filter(c => schema.fields.exists(f =>
      f.name == c && (f.dataType.isInstanceOf[NumericType] ||
        f.dataType == StringType || statsIsTs(f.dataType))))
  }

  // timestamps travel as epoch micros so prune-time comparison is
  // representation-free (no lexical date-string edge cases). NTZ
  // columns (parquet timestamps without timezone — the common
  // pandas/arrow output) cast through TimestampType first: sessions
  // pin UTC, so the local value IS the UTC instant, matching how
  // prune-time literals are parsed.
  private def statsNorm(c: org.apache.spark.sql.Column,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column =
    if (statsIsTs(dt))
      unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))
        .cast("string")
    else c.cast("string")

  /** [[collectStats]] over an arbitrary frame — the shared core, also
    * used by [[refreshStats]] to recompute a dir's stats through the
    * snapshot's rename projection. The per-dir row count (Iceberg
    * records this in every manifest entry) is a parquet
    * footer-metadata count, so [[countRows]] and [[history]] answer
    * without touching data regardless of stats configuration.
    */
  private def collectStatsOf(df: DataFrame): String = {
    val present = statsEligibleIn(df.schema)
    val minMax =
      if (present.isEmpty) Nil
      else {
        val aggs = present.flatMap { c =>
          val dt = df.schema(c).dataType
          Seq(statsNorm(min(col(c)), dt), statsNorm(max(col(c)), dt))
        }
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        present.indices.map(i =>
          (row.getString(2 * i), row.getString(2 * i + 1)))
      }
    statsJsonFrom(df.schema, present, minMax, df.count(), Some(() => df))
  }

  /** Shared serializer behind the read-back, observe-based and
    * zero-row stats collectors. `minMax` aligns with `present`
    * (normalized strings, null when the column was all-null);
    * `bloomDf` is only forced when a bloom column is eligible in
    * `schema` — None means "provably empty", which serializes the
    * all-zero bitsets without a job. `marker` is a schema marker's
    * payload key ([[writeMarker]]).
    */
  private def statsJsonFrom(
      schema: org.apache.spark.sql.types.StructType,
      present: Seq[String], minMax: Seq[(String, String)], count: Long,
      bloomDf: Option[() => DataFrame],
      marker: Option[(String, JsonNode)] = None): String = {
    import org.apache.spark.sql.types.NumericType
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    marker.foreach { case (k, v) => root.set[JsonNode](k, v) }
    present.zip(minMax).foreach { case (c, (mn, mx)) =>
      if (mn != null && mx != null) {
        schema(c).dataType match {
          case dt if statsIsTs(dt) =>
            val node = root.putObject(c)
            node.put("t", "ts")
            node.put("min", mn.toLong); node.put("max", mx.toLong)
          case _: NumericType =>
            // NaN/Infinity in a float/double column stringify to values
            // BigDecimal rejects — record no stats for the column (it is
            // never pruned) rather than failing the whole commit
            try {
              val (lo, hi) =
                (new java.math.BigDecimal(mn), new java.math.BigDecimal(mx))
              val node = root.putObject(c)
              node.put("min", lo); node.put("max", hi)
            } catch { case _: NumberFormatException => () }
          case _ =>
            val node = root.putObject(c)
            node.put("min", mn); node.put("max", mx)
        }
      }
    }
    val eligible = bloomEligibleIn(schema)
    if (eligible.nonEmpty) {
      require(bloomBits >= 64 && bloomBits % 64 == 0,
        s"bloomBits must be a positive multiple of 64, got $bloomBits")
      bloomDf match {
        case Some(mk) => collectBloomInto(mk(), eligible, root)
        case None => // zero rows: the all-zero bitset, no job
          val node = root.putObject(ManifestTableStore.BloomKey)
          eligible.foreach { case (c, t) =>
            val buf = java.nio.ByteBuffer.allocate(bloomBits / 8)
            val cn = node.putObject(c)
            cn.put("t", t); cn.put("m", bloomBits)
            cn.put("b",
              java.util.Base64.getEncoder.encodeToString(buf.array()))
          }
      }
    }
    root.put(ManifestTableStore.CountKey, count)
    mapper.writeValueAsString(root)
  }

  /** Metadata-only COUNT(*): the per-dir row counts recorded at commit
    * time, summed over the current version's dirs — Iceberg's instant
    * count-from-manifests, the difference between a catalog query and a
    * 100 TB scan. None when any dir predates count recording (or the
    * store records no stats); callers then fall back to
    * `read(spark).count()`.
    */
  def countRows(spark: SparkSession): Option[Long] = {
    val snap = current(fs(spark))
    if (snap.isEmpty) return Some(0L)
    // pending merge-on-read delete files make the manifest count an
    // overcount — fall back to a real (delete-applied) count
    if (snap.deletes.nonEmpty) return None
    ManifestTableStore.countOf(snap.entries)
  }

  /** Per-dir MEMBERSHIP stats for `bloomColumns` (the Delta bloom-filter
    * index / Iceberg puffin idea at manifest granularity): a `bloomBits`-
    * bit bloom filter (k = [[ManifestTableStore.BloomK]] probes of
    * `xxhash64(i, cast(col as string))`) recorded per data dir, so an
    * EQUALITY predicate on a high-cardinality key prunes dirs that
    * min/max ranges — which interleaved streaming appends make useless —
    * never could. This is what turns a 100 TB point lookup from "scan
    * the table" into "open the one dir that has the key", with NO
    * clustering requirement; false positives only ever keep a dir
    * (conservative). Integral and string columns only: their cast-to-
    * string form is canonical, so the prune-time literal probe hashes
    * the same bytes the build did. Size `bloomBits` at ~10-20 bits per
    * distinct key per dir; a real table format would spill bitsets to
    * sidecar files (puffin) rather than inline JSON — at manifest sizes
    * this store commits, inline base64 is fine.
    */
  private def bloomEligibleIn(
      schema: org.apache.spark.sql.types.StructType)
      : Seq[(String, String)] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StringType}
    bloomColumns.flatMap(c =>
      schema.fields.collectFirst {
        case f if f.name == c && f.dataType == StringType => c -> "s"
        case f if f.name == c && Seq(ByteType, ShortType, IntegerType,
            LongType).contains(f.dataType) => c -> "i"
      })
  }

  private def collectBloomInto(df: DataFrame,
      eligible: Seq[(String, String)],
      root: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val m = bloomBits.toLong
    val k = ManifestTableStore.BloomK
    val node = root.putObject(ManifestTableStore.BloomKey)
    eligible.foreach { case (c, t) =>
      // k positions per row, OR-folded into a word-indexed bitset with
      // ONE partial-aggregating shuffle of <= m/64 rows — the collect is
      // bitset-sized metadata, never data-sized
      val words = df.filter(col(c).isNotNull)
        .selectExpr(s"explode(transform(sequence(0, ${k - 1}), " +
          s"i -> pmod(xxhash64(i, cast(`$c` as string)), " +
          s"cast($m as bigint)))) as p")
        .selectExpr("cast(p div 64 as int) as w",
          "shiftleft(1L, cast(p % 64 as int)) as b")
        .groupBy("w").agg(expr("bit_or(b)").as("bits"))
        .collect()
      val arr = new Array[Long](bloomBits / 64)
      words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
      val buf = java.nio.ByteBuffer.allocate(arr.length * 8)
      arr.foreach(buf.putLong)
      val cn = node.putObject(c)
      cn.put("t", t); cn.put("m", bloomBits)
      cn.put("b", java.util.Base64.getEncoder.encodeToString(buf.array()))
    }
  }

  private def parseStats(json: String): Map[String, (SVal, SVal)] = {
    if (json.isEmpty) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val b = Map.newBuilder[String, (SVal, SVal)]
    root.properties().forEach { e =>
      val (mn, mx) = (e.getValue.get("min"), e.getValue.get("max"))
      val isTs = e.getValue.has("t") && e.getValue.get("t").asText == "ts"
      if (mn == null || mx == null) () // bloom node / foreign shape
      else if (isTs && mn.isNumber && mx.isNumber)
        b += e.getKey -> (TsV(mn.asLong()), TsV(mx.asLong()))
      else if (mn.isNumber && mx.isNumber)
        b += e.getKey -> (NumV(mn.decimalValue()), NumV(mx.decimalValue()))
      else if (mn.isTextual && mx.isTextual)
        b += e.getKey -> (StrV(mn.asText()), StrV(mx.asText()))
    }
    b.result()
  }

  // ---- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT) ----------
  // Schema-on-write quality gates at the COMMIT layer: a registered
  // predicate every written row must satisfy, enforced at the single
  // choke point all write paths share (append, merge inserts, DML
  // rewrites, overwrites, staged batches) — a violating batch never
  // becomes table state, which is the entire point of putting the gate
  // at the store instead of in each pipeline. Constraints persist as
  // one file per name under checks/ (same atomic create-if-absent as
  // tags); enforcement is one pruned columnar scan of the
  // freshly-written dir per write — the bytes just written, read back
  // exactly as stats collection already does.

  private def checksDir = new HPath(s"$path/checks")

  private def checkPath(name: String): HPath = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '-' || c == '_' || c == '.'),
      s"check name must be [A-Za-z0-9._-]+, got '$name'")
    new HPath(checksDir, name)
  }

  /** Register a CHECK constraint. Like Delta, the CURRENT table must
    * already satisfy it (a constraint the data violates would make
    * every later maintenance rewrite fail); re-adding the same
    * predicate is an idempotent no-op, changing it requires dropCheck.
    * `validateExisting = false` skips the current-rows scan — ONLY for
    * callers that can prove the rows already passed this exact gate
    * (SHALLOW CLONE copying the source's checks: the cloned rows were
    * written through them; re-scanning 100 TB to re-prove it would
    * defeat the zero-copy contract).
    */
  def addCheck(spark: SparkSession, name: String,
      predicateSql: String, validateExisting: Boolean = true): Unit = {
    val f = fs(spark)
    val snap = current(f)
    if (!snap.isEmpty && validateExisting) {
      val bad = snap.read(spark).filter(!expr(predicateSql))
      require(bad.isEmpty,
        s"cannot add check '$name': existing rows violate " +
          s"($predicateSql)")
    }
    if (!AtomicCreate.publish(f, checkPath(name),
        predicateSql.getBytes("UTF-8"))) {
      val existing = listChecks(spark).toMap.apply(name)
      require(existing == predicateSql,
        s"check '$name' already holds '$existing' (dropCheck first)")
    }
  }

  @volatile private var inheritedIdsCache: Option[Set[Long]] = None

  /** Batch ids a SHALLOW CLONE inherited from its source (empty for
    * every non-clone; cached — the ledger is written once at clone
    * time and never changes): physically baked into the cloned parquet
    * files, so they are OCCUPIED in this table's id space, but they
    * must never satisfy a write's replay no-op — a NEW pipeline
    * reusing one would be silently swallowed as an "idempotent
    * replay" of data it never wrote.
    */
  private def inheritedIds(f: FileSystem): Set[Long] =
    inheritedIdsCache.getOrElse {
      val p = new HPath(s"$path/clone_inherited_ids")
      val ids: Set[Long] =
        if (!f.exists(p)) Set.empty
        else {
          val in = f.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
          finally in.close()
        }
      inheritedIdsCache = Some(ids)
      ids
    }

  private def guardInheritedId(f: FileSystem, batchId: Long): Unit =
    require(!inheritedIds(f).contains(batchId),
      s"batch id $batchId is INHERITED from this table's " +
        "shallow-clone source (the cloned files carry it; clone " +
        "application ids do not transfer — Delta's clone contract): " +
        "pick a fresh batch id for writes to the clone")

  /** Registered checks as (name, predicateSql), name-sorted. */
  def listChecks(spark: SparkSession): Seq[(String, String)] = {
    val f = fs(spark)
    if (!f.exists(checksDir)) return Nil
    f.listStatus(checksDir).map(_.getPath).sortBy(_.getName).toSeq
      .map { p =>
        val st = f.getFileStatus(p)
        val in = f.open(p)
        try {
          val buf = new Array[Byte](st.getLen.toInt)
          in.readFully(buf)
          p.getName -> new String(buf, "UTF-8")
        } finally in.close()
      }
  }

  /** Drop a constraint; later writes stop enforcing it. */
  def dropCheck(spark: SparkSession, name: String): Unit =
    require(fs(spark).delete(checkPath(name), false),
      s"unknown check '$name' on $path")

  // check enforcement lives inside [[write]]: violation counts ride
  // the write job's observation (one aggregate per check over the
  // rows being written), a violation deletes the dir and throws —
  // the batch never existed.

  /** Write one data dir and return its manifest stats JSON. The row
    * count and min/max aggregates ride the write job itself (`observe`,
    * guide §1.2/§6): commit stats describe exactly the rows the write
    * streamed out with no second read of the dir — at 100 TB ingest
    * this removes a full re-read of every committed stats column.
    * Bloom bitsets (a grouped aggregation observe cannot express)
    * still read the written dir, so only bloom-indexed tables pay any
    * post-write read at all. The dir reads back with the schema
    * written here ([[putSchema]]), partition columns included, so the
    * observed values are the values readers see.
    */
  private def write(df0: DataFrame, dir: String): String = {
    // a void column (a NULL-literal partition value, or a rewrite of a
    // dir whose null-only partition column inferred as void) refuses
    // to be a partition column — cast to string, which is type-neutral
    // on disk (partition values live in dir names)
    val df = partitionBy.foldLeft(df0) { (d, c) =>
      if (d.schema.fields.exists(fld => fld.name.equalsIgnoreCase(c) &&
          fld.dataType == org.apache.spark.sql.types.NullType))
        d.withColumn(c, col(c).cast("string"))
      else d
    }
    val spark = df.sparkSession
    // every check-constraint violation count rides the observation
    // too: the observed rows ARE the rows written, and a violation
    // deletes the dir and throws
    val checks = listChecks(spark)
    val present = statsEligibleIn(df.schema)
    val obs = org.apache.spark.sql.Observation()
    val aggs = (count(lit(1)).as("__cnt") +: present.flatMap { c =>
      val dt = df.schema(c).dataType
      Seq(statsNorm(min(col(c)), dt).as(s"__mn_$c"),
        statsNorm(max(col(c)), dt).as(s"__mx_$c"))
    }) ++ checks.zipWithIndex.map { case ((_, pred), i) =>
      count(when(!expr(pred), 1)).as(s"__chk_$i")
    }
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    if (partitionBy.isEmpty) observed.write.mode("overwrite").parquet(dir)
    else
      // cluster rows by their partition values before the hive write
      // (guide §6 small-files; Iceberg's hash distribution-mode): each
      // partition dir then receives files from few tasks instead of
      // one file per (input task × partition value). REBALANCE rather
      // than a plain hash repartition: AQE coalesces small values AND
      // splits one dominant value across tasks, so a skewed batch
      // does not funnel through a single writer.
      observed.hint("rebalance", partitionBy.map(col): _*)
        .write.mode("overwrite").partitionBy(partitionBy: _*)
        .parquet(dir)
    // before the footer count below: a zero-row partitioned write lays
    // down no part files, and only the recorded schema makes such a
    // dir readable (as empty)
    putSchema(spark, dir, df.schema)
    // bounded: the observation completes asynchronously once the write
    // action's listener event lands; a Spark change that never completes
    // it must fail this write loudly, not hang it
    try scala.concurrent.Await.ready(obs.future,
      ManifestTableStore.ObservationWait)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"write observation for $dir did not arrive within " +
            s"${ManifestTableStore.ObservationWait}")
    }
    val m = obs.get
    // a PROVABLY-empty partitioned write (a `filter(lit(false))`
    // batch, or a rewrite whose predicate constant-folds false over a
    // void-typed partition column) collapses to an empty local
    // relation and the CollectMetrics node under the clustering
    // exchange folds away with it — no metrics arrive. That is the
    // only way the node disappears; verify with one footer count
    // rather than trusting the inference, then serve the empty-write
    // metrics.
    val lost = !m.contains("__cnt")
    if (lost) {
      val n = ManifestTableStore.DirSchemas.read(spark, dir).count()
      require(n == 0L,
        s"write observation lost for a non-empty dir ($n rows): $dir")
    }
    def mLong(k: String): Long =
      if (lost) 0L else m(k).asInstanceOf[Long]
    def mStr(k: String): String =
      if (lost) null else m(k).asInstanceOf[String]
    checks.zipWithIndex.foreach { case ((cname, pred), i) =>
      val violations = mLong(s"__chk_$i")
      if (violations > 0) {
        fs(spark).delete(new HPath(dir), true)
        throw new IllegalArgumentException(
          s"check constraint '$cname' ($pred) violated by " +
            s"$violations row(s); the batch was not committed")
      }
    }
    val minMax = present.map(c => (mStr(s"__mn_$c"), mStr(s"__mx_$c")))
    statsJsonFrom(df.schema, present, minMax, mLong("__cnt"),
      Some(() => ManifestTableStore.DirSchemas.read(spark, dir)))
  }

  /** Make `schema` the read schema of the fresh dir `dir` (before it
    * is committed). A hive-partitioned dir also records it on disk
    * ([[ManifestTableStore.DirSchemas.record]]): its partition values
    * live in dir names, which inference would re-type ("007" → 7).
    * An unpartitioned dir's footer is exact, so the cache suffices.
    */
  private def putSchema(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    if (partitionBy.isEmpty) ManifestTableStore.DirSchemas.put(dir, schema)
    else ManifestTableStore.DirSchemas.record(fs(spark), dir, schema)

  /** Commit `df` as batch `batchId`, a no-op when the current version
    * already holds that id (a replayed micro-batch). Takes no monitor:
    * the parquet write runs unlocked, and only the publish races, on
    * the manifest version. Two appends on one handle (two streaming
    * sources into one silver table) overlap their writes exactly as two
    * writer processes do. A competitor that commits the same id first
    * (a replay racing its original) wins, and [[commit]] deletes this
    * write's dir.
    */
  override def append(df: DataFrame, batchId: Long): Unit = {
    require(batchId >= 0, // negative ids are reserved (delete entries)
      s"batchId must be >= 0, got $batchId")
    val f = fs(df.sparkSession)
    guardInheritedId(f, batchId)
    val snap = current(f)
    if (snap.has(batchId)) return // replay → idempotent no-op
    val dataDir = s"$path/data/batch-$batchId-${java.util.UUID.randomUUID()}"
    val entry = Entry(batchId, dataDir,
      write(TableStore.withBatchId(df, batchId), dataDir))
    commit(f, snap, Seq(dataDir))(_ :+ entry, Rebase.append(batchId))
  }

  /** Exposed partition layout (for SQL routing of
    * `INSERT OVERWRITE` / `PARTITION (...)` specs).
    */
  def partitionColumns: Seq[String] = partitionBy

  /** Exposed physical knobs (DESCRIBE TABLE EXTENDED / TBLPROPERTIES
    * round-trips).
    */
  def statsColumnNames: Seq[String] = statsColumns
  def bloomColumnNames: Seq[String] = bloomColumns

  /** FULL-TABLE `INSERT OVERWRITE`: one commit whose entry list is
    * exactly the new batch — the idempotent batch-write every
    * lakehouse job uses to republish a computed table. Replayed batch
    * ids no-op like [[append]]; the superseded state stays readable AS
    * OF its version (rollback via [[restore]]) until [[vacuum]].
    * Overwrite conflicts with ANY concurrent write ([[Rebase.replace]]).
    */
  def overwrite(df: DataFrame, batchId: Long): Unit = synchronized {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val spark = df.sparkSession
    val f = fs(spark)
    guardInheritedId(f, batchId)
    val snap = current(f)
    if (snap.has(batchId)) return // replay → no-op
    val dataDir = s"$path/data/batch-$batchId-${java.util.UUID.randomUUID()}"
    val entry = Entry(batchId, dataDir,
      write(TableStore.withBatchId(df, batchId), dataDir))
    commit(f, snap, Seq(dataDir))(_ => Seq(entry),
      Rebase.replace("overwrite", converged = _.has(batchId)))
  }

  /** `TRUNCATE TABLE` — one METADATA commit that empties the table
    * while keeping its schema: the new version's only entry is a
    * zero-row marker carrying the current (rename/widen-projected)
    * schema, so the truncated table stays readable, INSERT-able (the
    * positional mapping still has a target), and fully time-travelable
    * (the pre-truncate version serves every row until [[vacuum]]
    * reclaims it past the retention horizon — [[restore]] undoes a
    * mistaken truncate). No data file is read, rewritten, or deleted
    * at truncate time: at 100 TB this is one empty-footer write + one
    * manifest commit, vs DELETE WHERE true's full-table rewrite.
    * Conflicts like [[overwrite]] ([[Rebase.replace]]). No-op on an
    * empty (zero-version) table.
    */
  def truncate(spark: SparkSession): Unit = synchronized {
    val f = fs(spark)
    val snap = current(f)
    if (snap.isEmpty) return
    // the truncated table's schema anchor: the CURRENT logical schema
    // (renames/widens/drops applied)
    val marker = writeMarker(spark, "schema", snap.read(spark).schema)
    commit(f, snap, Seq(marker.dir))(_ => Seq(marker),
      Rebase.replace("TRUNCATE"))
  }

  /** `SHOW PARTITIONS` — the table's partition values as Spark's
    * `k=v[/k2=v2]` strings, derived from the CURRENT version's data
    * dirs by walking their hive layout: one listStatus per data dir
    * per partition level, zero data I/O (metadata-bounded like every
    * discovery verb). Physical listing, so a partition whose rows a
    * merge-on-read delete masked still lists until the delete folds —
    * the same contract as metastore-backed SHOW PARTITIONS, which
    * lists registered partitions, not non-empty ones.
    */
  def listPartitions(spark: SparkSession): Seq[String] = {
    require(partitionBy.nonEmpty,
      s"SHOW PARTITIONS is not allowed on the non-partitioned table " +
        s"at $path")
    val f = fs(spark)
    val dataDirs = current(f).dataDirs
    val depth = partitionBy.size
    if (dataDirs.size <= listingThreshold(spark)) {
      // few dirs: plain driver-side hive walk (no behavior change)
      def walk(dir: HPath, d: Int): Seq[String] =
        if (d == depth) Seq("")
        else f.listStatus(dir).toSeq
          .filter(st =>
            st.isDirectory && st.getPath.getName.contains("="))
          .flatMap { st =>
            walk(st.getPath, d + 1).map(rest =>
              if (rest.isEmpty) st.getPath.getName
              else s"${st.getPath.getName}/$rest")
          }
      dataDirs.flatMap(d => walk(new HPath(d), 0)).distinct.sorted
    } else {
      // many dirs: the recursive listing runs as a DISTRIBUTED job
      // (Spark's parallel file-index machinery), the driver sees only
      // the deduplicated partition strings. Partition dirs are always
      // the INNERMOST `depth` directory segments (clustered compaction
      // nests __cluster=k ABOVE them), so the extraction is root-free
      // — it works identically for a clone serving foreign dirs.
      import spark.implicits._
      val keys = partitionBy
      listFilesDistributed(spark, dataDirs).select("path").as[String]
        .flatMap { p =>
          val segs = p.split('/').dropRight(1).takeRight(depth)
          if (segs.length == depth &&
            segs.zip(keys).forall { case (s, k) =>
              s.startsWith(s"$k=") })
            Some(segs.mkString("/"))
          else None
        }
        .distinct().collect().toSeq.sorted
    }
  }

  /** Data-dir count above which the metadata verbs (SHOW PARTITIONS,
    * DESCRIBE DETAIL) switch from a driver-side recursive walk to a
    * distributed listing — at a million partitions the driver must see
    * only the aggregated answer, never a per-file FS storm.
    */
  private def listingThreshold(spark: SparkSession): Int =
    spark.conf
      .getOption(ManifestTableStore.DistributedListingThresholdConf)
      .flatMap(_.toIntOption).getOrElse(64)

  /** Distributed recursive parquet-file listing over many data dirs:
    * `binaryFile` with recursive lookup reads ONLY (path, length) —
    * the content column is pruned, so no data byte moves — and Spark's
    * file-index machinery parallelizes the listing across the cluster
    * once the path count crosses its own discovery threshold.
    */
  private def listFilesDistributed(spark: SparkSession,
      dirs: Seq[String]): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .load(dirs: _*)
      .select(col("path"), col("length"))

  /** `SHALLOW CLONE` — commit THIS table's current (or `versionAsOf`)
    * manifest entries as VERSION 1 of the empty table at `target`:
    * one manifest write, ZERO data copied or moved. The clone serves
    * the same physical files (its entries carry the source's absolute
    * dirs); every later write — insert, CoW delete, compact — lands
    * under the clone's OWN root, so source and clone diverge freely
    * from the clone point (Delta's shallow-clone contract: the
    * dev/test copy of a 100 TB table costs one footer write).
    * `compact()` on the clone materializes everything under its own
    * root — the "sever" operation. Unlike Delta's documented caveat,
    * VACUUM on the SOURCE is clone-aware here: this method publishes a
    * `clone_refs/` entry in the source's root BEFORE the commit, and
    * the source's vacuum refuses to delete history an un-severed clone
    * still serves (self-healing once the clone severs or drops; an
    * explicit override conf exists for operators who accept the
    * breakage). VACUUM on the CLONE is safe by construction: its
    * candidate set is a listing of the clone's own data/ directory,
    * which never contains source dirs.
    */
  def shallowCloneTo(spark: SparkSession, target: ManifestTableStore,
      versionAsOf: Option[Long] = None): Unit = {
    val f = fs(spark)
    val entries = versionAsOf match {
      case Some(v) => snapshotAt(f, v).entries
      case None =>
        val snap = current(f)
        require(snap.version > 0L, s"cannot clone $path: no committed versions")
        snap.entries
    }
    val tf = target.fs(spark)
    val tbase = target.current(tf)
    require(tbase.version == 0L,
      s"clone target ${target.tablePath} already has commits " +
        s"(version ${tbase.version})")
    // the INHERITED batch-id ledger, published BEFORE the commit (a
    // crash between them leaves an inert ledger beside a zero-version
    // table): the cloned entries carry the SOURCE's batch ids — they
    // are physically in the cloned parquet files, so they cannot be
    // remapped without copying data — and the exactly-once replay
    // no-op must NOT silently swallow a NEW pipeline's write that
    // happens to reuse one (Delta's clone contract: application
    // transaction ids do not carry over). Appends consult this ledger
    // and REFUSE loudly on an inherited id.
    val inherited = entries.map(_.batchId).distinct
      .filterNot(_ == ManifestTableStore.SchemaBatchId)
    AtomicCreate.publish(tf,
      new HPath(s"${target.tablePath}/clone_inherited_ids"),
      inherited.sorted.mkString("\n").getBytes("UTF-8"))
    // CLONE REFERENCE in the SOURCE's root, published BEFORE the
    // commit (fail-safe ordering: a crash between them leaves an inert
    // ref that vacuum self-heals, never a live clone without a ref):
    // the source's vacuum consults clone_refs/ and REFUSES to delete
    // history an un-severed clone still serves — closing the footgun
    // Delta documents as a caveat. The ref clears itself the first
    // time vacuum finds the clone severed (compact moved everything
    // under the clone's own root) or dropped.
    AtomicCreate.publish(f,
      new HPath(s"$path/clone_refs/ref-${java.util.UUID.randomUUID()}"),
      target.tablePath.getBytes("UTF-8"))
    target.commit(tf, tbase, Nil)(_ => entries,
      target.Rebase.replace("SHALLOW CLONE"))
  }

  /** Reserve `n` consecutive IDENTITY values for `col` and return the
    * range base: ids are `base, base+step, …, base+(n-1)*step`.
    *
    * The high-water mark is a LEDGER of immutable range files under
    * `identity/<col>/` — `r<k>` holds "base:count", and `r<k>`'s base
    * derives from `r<k-1>`'s end, so allocation is one
    * create-if-absent publish (the same atomic primitive as a manifest
    * commit): concurrent writers race on `r<k>`, the loser re-lists
    * and takes `r<k+1>` with a DISJOINT base — no locks, no
    * collisions. A writer that crashes (or replays into a no-op)
    * after reserving leaves a GAP, which is exactly Delta's identity
    * contract: monotonic and unique, never dense. Metadata-bounded:
    * one listing + one small read + one publish per allocation.
    */
  def allocateIdentity(spark: SparkSession, col: String, n: Long,
      start: Long, step: Long): Long = {
    require(n >= 0 && step != 0)
    val f = fs(spark)
    val dir = new HPath(s"$path/identity/$col")
    while (true) {
      val (k, base) = identityLedgerState(f, dir, start, step)
      if (AtomicCreate.publish(f, new HPath(dir, s"r$k"),
          s"$base:$n".getBytes("UTF-8")))
        return base
      // lost the race: re-list, derive from the winner's range
    }
    throw new IllegalStateException("unreachable")
  }

  /** The ledger's current frontier: (next range index `k`, the base
    * the next allocation starts at). One listing + one small read.
    */
  private def identityLedgerState(f: FileSystem, dir: HPath,
      start: Long, step: Long): (Long, Long) = {
    val ks =
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("r"))
        .flatMap(_.stripPrefix("r").toLongOption)
    val k = ks.maxOption.map(_ + 1L).getOrElse(0L)
    val base =
      if (k == 0L) start
      else {
        val prev = new HPath(dir, s"r${k - 1}")
        val in = f.open(prev)
        val txt =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString.trim
          finally in.close()
        val Array(b, c) = txt.split(":", 2)
        b.toLong + c.toLong * step
      }
    (k, base)
  }

  /** Advance `col`'s identity watermark STRICTLY PAST `value` — the
    * GENERATED BY DEFAULT write boundary (explicit ids landed in the
    * table; later generated ids must clear them) and the SYNC IDENTITY
    * repair verb. Publishes one range that covers through `value` in
    * the step's direction; a no-op when the watermark is already past.
    * Same create-if-absent race loop as [[allocateIdentity]], so a
    * concurrent allocation never interleaves INSIDE the bump — the
    * loser re-derives from the winner's range. Explicit ids need not
    * align to the START/INCREMENT grid; floorDiv rounds the covering
    * range so the next base lands past `value` on the grid.
    */
  def bumpIdentityPast(spark: SparkSession, col: String, value: Long,
      start: Long, step: Long): Unit = {
    require(step != 0)
    val f = fs(spark)
    val dir = new HPath(s"$path/identity/$col")
    while (true) {
      val (k, base) = identityLedgerState(f, dir, start, step)
      val n = Math.floorDiv(value - base, step) + 1L
      if (n <= 0L) return // watermark already strictly past value
      if (AtomicCreate.publish(f, new HPath(dir, s"r$k"),
          s"$base:$n".getBytes("UTF-8")))
        return
    }
  }

  /** The LAST committed range of `col`'s identity ledger as its raw
    * "base:count" text, or None if nothing was ever allocated.
    * [[allocateIdentity]]'s derivation consults only the newest range
    * (each `r<k>` chains off `r<k-1>`), so this single small file IS
    * the ledger's entire high-water state — the seed a SHALLOW CLONE
    * copies so the clone's first INSERT continues ABOVE every id the
    * cloned rows already physically hold. Metadata-bounded: one
    * listing + one small read.
    */
  def identityLedgerTip(spark: SparkSession,
      col: String): Option[String] = {
    val f = fs(spark)
    val dir = new HPath(s"$path/identity/$col")
    if (!f.exists(dir)) return None
    val ks = f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("r"))
      .flatMap(_.stripPrefix("r").toLongOption)
    ks.maxOption.map { k =>
      val in = f.open(new HPath(dir, s"r$k"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
  }

  /** Seed `col`'s identity ledger with `tip` as its `r0` range —
    * create-if-absent, so a concurrent first allocation can never be
    * overwritten (the seed loses the race and the clone keeps the
    * racer's DERIVED ranges, which are already disjoint). Returns
    * false on a lost race. Used at SHALLOW CLONE time, published
    * BEFORE the clone commit (fail-safe ordering: a crash between
    * them leaves an inert ledger beside a zero-version table, never a
    * committed clone whose first INSERT reissues inherited ids).
    */
  def seedIdentityLedger(spark: SparkSession, col: String,
      tip: String): Boolean =
    AtomicCreate.publish(fs(spark),
      new HPath(s"$path/identity/$col/r0"), tip.getBytes("UTF-8"))

  /** Delete `col`'s identity ledger (or every column's when `col` is
    * None) — the REPLACE TABLE reset: a replacing declaration's START
    * WITH must win over the retired table's high-water mark. Callers
    * order this AFTER the replace commit so a crash between them
    * leaves a stale ledger (ids continue past the old watermark — a
    * GAP, which the identity contract allows) rather than a cleared
    * ledger beside a still-live table (reissued ids — a collision).
    */
  def clearIdentityLedger(spark: SparkSession,
      col: Option[String] = None): Unit = {
    val f = fs(spark)
    val dir = col match {
      case Some(c) => new HPath(s"$path/identity/$c")
      case None => new HPath(s"$path/identity")
    }
    if (f.exists(dir)) f.delete(dir, true)
  }

  /** `DESCRIBE DETAIL` — ONE row of table-level physical metadata
    * (Delta's verb and column spirit): format, location, current
    * version, partition/stats/bloom columns and the merge-on-read key
    * as declared, the CURRENT version's live data file count and byte
    * size, registered check count, and created/last-modified instants
    * from the manifest chain's own mtimes. Metadata-bounded: one
    * recursive listing per live data dir, no data file is opened — at
    * 100 TB this answers "how big is this table, how is it laid out"
    * without a scan.
    */
  def describeDetail(spark: SparkSession): DataFrame = {
    val f = fs(spark)
    val snap = current(f)
    val dataDirs = snap.dataDirs
    // live file count + bytes: driver walk for small tables, a
    // distributed (path, length) aggregation beyond the threshold —
    // DESCRIBE DETAIL on a million-partition table must not be a
    // driver-side FS storm
    val (numFiles, sizeBytes) =
      if (dataDirs.size <= listingThreshold(spark)) {
        def walk(p: HPath): Seq[org.apache.hadoop.fs.FileStatus] =
          f.listStatus(p).toSeq.flatMap { st =>
            if (st.isDirectory) walk(st.getPath) else Seq(st) }
        val files = dataDirs.flatMap(d => walk(new HPath(d)))
          .filter(_.getPath.getName.endsWith(".parquet"))
        (files.size.toLong, files.map(_.getLen).sum)
      } else {
        val row = listFilesDistributed(spark, dataDirs)
          .agg(count(lit(1)),
            coalesce(sum(col("length")), lit(0L))).head()
        (row.getLong(0), row.getLong(1))
      }
    // ONE manifest-dir listing serves both instants (probing v1..v
    // one getFileStatus at a time would be a version-count-bounded FS
    // storm on a long-lived table): oldest SURVIVING manifest =
    // creation (or the vacuum horizon), the current one = last write
    val manifests = f.listStatus(manifestDir).toSeq
      .filter(_.getPath.getName.startsWith("v"))
    val createdAt = manifests
      .minByOption(_.getPath.getName.drop(1).toLong)
      .map(_.getModificationTime)
    def manifestMtime(version: Long): Option[Long] = manifests
      .find(_.getPath.getName == s"v$version")
      .map(_.getModificationTime)
    import spark.implicits._
    Seq((
      "graft-store", path, snap.version,
      partitionBy.mkString(","),
      numFiles, sizeBytes,
      statsColumns.mkString(","), bloomColumns.mkString(","),
      morDeleteKey.getOrElse(""),
      listChecks(spark).size.toLong,
      new java.sql.Timestamp(createdAt.getOrElse(0L)),
      new java.sql.Timestamp(manifestMtime(snap.version).getOrElse(0L))
    )).toDF("format", "location", "version", "partition_columns",
      "num_files", "size_in_bytes", "stats_columns", "bloom_columns",
      "mor_delete_key", "num_checks", "created_at", "last_modified")
  }

  /** DYNAMIC PARTITION OVERWRITE (Delta/Spark
    * `partitionOverwriteMode=dynamic`): replace ONLY the partitions the
    * new batch actually carries; every other partition's rows carry
    * forward. The bread-and-butter idempotent daily batch write — at
    * 100 TB, "recompute yesterday" must rewrite yesterday's partition,
    * not the table.
    *
    * Mechanics: the batch lands hive-partitioned in its own dir; the
    * touched partition TUPLES are read off that dir's subdir names
    * (metadata only — the write already laid them out), and only
    * committed dirs whose OWN hive layout shows an overlapping
    * partition are rewritten, with the touched partitions filtered out
    * (the filter is on partition columns, so each rewrite scan prunes
    * to exactly the overlapping subdirs). One commit through the same
    * [[rewriteCommit]] as DML: concurrent appends
    * rebase around it, concurrent maintenance aborts it cleanly.
    * Replayed batch ids no-op BEFORE any file is written.
    */
  def overwritePartitions(df: DataFrame, batchId: Long): Unit =
    synchronized {
      require(partitionBy.nonEmpty,
        "dynamic partition overwrite needs a partitioned table " +
          "(partitionBy); use overwrite() for full-table replacement")
      require(batchId >= 0, s"batchId must be >= 0, got $batchId")
      val spark = df.sparkSession
      val f = fs(spark)
      guardInheritedId(f, batchId)
      val snap = current(f)
      snap.requireNoDeletes("overwritePartitions")
      if (snap.has(batchId)) return // replay → no-op
      // the new batch is written first: the dirs it replaces are read
      // off the partitions it wrote
      rewriteCommit(f, snap, Kind.Overwrite)(Seq(Output(Set.empty,
          TableStore.withBatchId(df, batchId), Some(batchId))),
        more = { case Seq(dataDir) =>
          val touchedTuples = partitionTuples(f, dataDir)
          require(touchedTuples.nonEmpty,
            "dynamic partition overwrite with an EMPTY batch is refused " +
              "(it would replace nothing; a full truncate must be the " +
              "explicit full-table overwrite)")
          val touched = snap.entries.map(_.dir).distinct
            .filter(d => partitionTuples(f, d).exists(touchedTuples))
          // null-safe per column: hive encodes a NULL partition value as
          // the __HIVE_DEFAULT_PARTITION__ dir name, and a plain ===
          // against ANY literal evaluates to NULL for null-valued rows —
          // the negated filter would then silently DROP null-partition
          // rows from every rewritten dir (and never replace existing
          // null-partition rows). <=> against the decoded value (null
          // for the hive sentinel) keeps the predicate two-valued for
          // every row.
          val keep = !touchedTuples.toSeq.map(t =>
            partitionBy.zip(t).map { case (c, value) =>
              val decoded =
                if (value == ManifestTableStore.HiveNullPartition)
                  lit(null).cast("string")
                else lit(value)
              col(c).cast("string") <=> decoded
            }.reduce(_ && _)).reduce(_ || _)
          perDir(spark, snap, touched)(_.filter(keep))
        })
    }

  /** The hive partition tuples a data dir holds, read off its directory
    * names — zero files opened. Decodes hive's %XX escaping.
    */
  private def partitionTuples(f: FileSystem,
      dir: String): Set[Seq[String]] = {
    def decode(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16)
            .toChar)
          i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }
    def walk(p: HPath, depth: Int): Seq[Seq[String]] =
      if (depth == partitionBy.size) Seq(Nil)
      else f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(partitionBy(depth) + "="))
          walk(st.getPath, depth + 1)
            .map(decode(n.substring(partitionBy(depth).length + 1)) +: _)
        else Nil
      }
    walk(new HPath(dir), 0).toSet
  }

  /** Governed `ALTER TABLE ... ADD COLUMNS`: schema evolution as an
    * EXPLICIT commit, not a side effect of whichever batch happens to
    * carry a new field first. The mechanics cost nothing the store
    * doesn't already have: the new columns commit as a ZERO-ROW schema
    * marker dir (reserved batch id, outside the caller id space), and
    * the union-by-name read exposes them null-padded on every existing
    * row — exactly how a new column reads after Delta's metadata-only
    * ADD COLUMNS. Idempotent when
    * ALL requested columns already exist with the same types (safe
    * re-runs); refuses partial overlap or a type change. Refused on an
    * empty table (the first batch defines the schema) — and the marker
    * is a real commit, so a branch fast-forward over a post-base ALTER
    * correctly refuses.
    */
  def addColumns(spark: SparkSession,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Unit =
    synchronized {
      require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
      val f = fs(spark)
      val snap = current(f)
      require(!snap.isEmpty,
        "ALTER ... ADD COLUMNS on an empty table is refused: the " +
          "first appended batch defines the schema")
      val existing = snap.read(spark).schema
      val (present, fresh) = cols.partition(c =>
        existing.fieldNames.exists(_.equalsIgnoreCase(c._1)))
      present.foreach { case (n, t) =>
        val have = existing.fields
          .find(_.name.equalsIgnoreCase(n)).get.dataType
        require(have == t,
          s"column '$n' already exists as $have (requested $t); type " +
            "changes are not supported")
      }
      if (fresh.isEmpty) return // all present with matching types
      val retired = snap.retired
      fresh.foreach { case (n, _) =>
        require(!retired.exists(_.equalsIgnoreCase(n)),
          s"column name '$n' was DROPPED or RENAMED AWAY and is " +
            "retired: old data files still hold its values, and " +
            "without field-id column mapping a re-add would resurrect " +
            "them (compact() first to materialize the schema, then " +
            "re-add)")
      }
      val entry = writeMarker(spark, "schema",
        org.apache.spark.sql.types.StructType(fresh.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n, t, nullable = true)
        }))
      commit(f, snap, Seq(entry.dir))(_ :+ entry, Rebase.append { won =>
        // rebase = new table state: a concurrent append may have
        // introduced one of the fresh names, a concurrent drop/rename
        // may have retired it — re-run the guards before retrying
        val sch = won.read(spark).schema
        fresh.foreach { case (n, _) =>
          require(!sch.fieldNames.exists(_.equalsIgnoreCase(n)),
            s"column '$n' was introduced concurrently; ADD COLUMNS " +
              "rebase refused")
          require(!won.retired.exists(_.equalsIgnoreCase(n)),
            s"column name '$n' was retired concurrently; ADD COLUMNS " +
              "rebase refused (compact() first)")
        }
        true
      })
    }

  /** Governed `ALTER TABLE ... DROP COLUMN` — metadata-only, like
    * Iceberg's column drop: no data file is rewritten; a zero-row DROP
    * MARKER entry records the retired name in the manifest, and every
    * read of a version that carries the marker projects the column
    * away. Because the marker is a manifest entry, the drop is
    * VERSIONED: time travel to a pre-drop version still shows the
    * column with its data — exactly what an auditor expects. A later
    * [[compact]] materializes the drop physically (the rewrite reads
    * the projected state). Re-ADDING a dropped name is refused — the
    * old parquet files still hold the old values, and without
    * field-id column mapping (Iceberg's mechanism) a re-add would
    * resurrect them into the new column. Partition columns, the
    * merge-on-read key, and `batch_id` cannot drop.
    */
  def dropColumn(spark: SparkSession, name: String): Unit =
    synchronized {
      val f = fs(spark)
      val snap = current(f)
      require(!snap.isEmpty, s"no committed batches under $path")
      val schema = snap.read(spark).schema
      require(schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"unknown column '$name'")
      require(!name.equalsIgnoreCase("batch_id"),
        "batch_id is the store's replay-attribution column")
      require(!partitionBy.exists(_.equalsIgnoreCase(name)),
        s"'$name' is a partition column")
      require(!morDeleteKey.exists(_.equalsIgnoreCase(name)),
        s"'$name' is the merge-on-read delete key")
      // same guard as renameColumn: a check referencing the dropped
      // column (declared, NOT NULL, or a generated-column invariant —
      // all stored as named checks) would survive the drop and make
      // every later write fail at the gate with an unresolvable column
      listChecks(spark).foreach { case (cname, pred) =>
        require(!("(?is).*\\b" +
          java.util.regex.Pattern.quote(name) + "\\b.*").r
          .matches(pred),
          s"column '$name' is referenced by check constraint " +
            s"'$cname' ($pred); dropCheck first, then drop the column")
      }
      val canonical = schema.fieldNames
        .find(_.equalsIgnoreCase(name)).get
      val entry = writeMarker(spark, "dropcol", payload = Some(
        ManifestTableStore.DropColKey -> TextNode.valueOf(canonical)))
      commit(f, snap, Seq(entry.dir))(_ :+ entry, Rebase.append { won =>
        // rebase: a concurrent rename may have moved the column away —
        // re-check it still exists under this name before retrying
        require(won.read(spark).schema.fieldNames
          .exists(_.equalsIgnoreCase(canonical)),
          s"column '$canonical' changed concurrently; DROP COLUMN " +
            "rebase refused")
        true
      })
    }

  /** `CREATE TABLE (cols)` — commit the DECLARED schema as version 1,
    * a zero-row typed marker (same mechanics as [[addColumns]], carrying
    * the whole schema): the table is immediately readable (empty, typed)
    * and INSERT's positional column mapping has a target before any
    * data lands — the first statement of every SQL-only onboarding
    * flow. The marker commits as a blind replace of version 0
    * ([[Rebase.replace]]), so two concurrent CREATEs resolve to one
    * winner and the loser throws. Refused on a table with any
    * committed version (CREATE of an existing table is the caller's
    * IF NOT EXISTS decision).
    */
  def createEmpty(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): Unit =
    synchronized {
      val f = fs(spark)
      val snap = current(f)
      require(snap.version == 0L && snap.isEmpty,
        s"table at $path already has commits (version ${snap.version})")
      require(schema.nonEmpty, "CREATE TABLE needs at least one column")
      partitionBy.foreach { c =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"PARTITIONED BY column '$c' is not among the declared columns")
      }
      require(!schema.fieldNames.exists(_.equalsIgnoreCase("batch_id")),
        "batch_id is the store's replay-attribution column")
      val marker = writeMarker(spark, "schema", schema)
      commit(f, snap, Seq(marker.dir))(_ => Seq(marker),
        Rebase.replace("CREATE TABLE"))
    }

  /** `CREATE OR REPLACE TABLE` — ONE metadata commit that retires
    * every current row AND redeclares the schema: the new version's
    * only entry is a zero-row marker carrying the DECLARED schema
    * (where [[truncate]] carries the current one), so the replaced
    * table is immediately readable (empty, typed) and INSERT-able
    * under the new declaration while every pre-replace version stays
    * fully time-travelable until [[vacuum]] reclaims it (Delta's
    * REPLACE rule: a replace is a new table state, not a new table —
    * the history survives). No resurrection hazard from reusing old
    * column names: the new version's manifest references NO old data
    * dir, so nothing can leak through a name collision. No data file
    * is read, rewritten, or deleted at replace time. `newPartitionBy`
    * is the REPLACING declaration's partitioning — validated here
    * against the declared columns; the caller re-instantiates its
    * handle with it (this instance's layout config is creation-time).
    */
  def replaceSchema(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      newPartitionBy: Seq[String]): Unit = synchronized {
    val f = fs(spark)
    val snap = current(f)
    require(snap.version > 0L && !snap.isEmpty,
      s"table at $path has no commits; REPLACE needs an existing " +
        "table (CREATE OR REPLACE falls back to CREATE)")
    require(schema.nonEmpty, "REPLACE TABLE needs at least one column")
    newPartitionBy.foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"PARTITIONED BY column '$c' is not among the declared columns")
    }
    require(!schema.fieldNames.exists(_.equalsIgnoreCase("batch_id")),
      "batch_id is the store's replay-attribution column")
    val marker = writeMarker(spark, "schema", schema)
    commit(f, snap, Seq(marker.dir))(_ => Seq(marker),
      Rebase.replace("REPLACE"))
  }

  /** Governed `ALTER TABLE ... RENAME COLUMN` — metadata-only, the
    * third leg of schema evolution after ADD ([[addColumns]]) and DROP
    * ([[dropColumn]]): no data file is rewritten; a zero-row RENAME
    * MARKER records (old, new) in the manifest and every read of a
    * version carrying it serves the column under the NEW name (old
    * physical files project through [[Snapshot.project]]'s coalesce). The
    * rename is VERSIONED: time travel before the marker still shows the
    * old name with its data. DML rewrites materialize the new name
    * incrementally; [[compact]] materializes it table-wide.
    *
    * Resurrection guards, both directions (the field-id-free analogue
    * of Iceberg's rename): the old name joins the RETIRED set — old
    * parquet files still hold its values, so re-ADDing (or renaming
    * another column onto) it before a compact would resurrect them —
    * and the new name must be fresh: not present, not itself retired.
    * Partition columns, the merge-on-read key, `batch_id`, and columns
    * referenced by a registered CHECK constraint cannot rename (the
    * check's predicate text would silently stop matching writes).
    * Stats/bloom skipping on dirs written before the rename keys off
    * the old physical name, so a predicate on the new name reads those
    * dirs conservatively until maintenance rewrites them — correctness
    * is unaffected (unprunable dirs are scanned, not skipped).
    */
  def renameColumn(spark: SparkSession, from: String, to: String): Unit =
    synchronized {
      val f = fs(spark)
      val snap = current(f)
      // The full precondition set, re-runnable against a REBASED
      // snapshot: a lost commit race means a competitor changed table
      // state between our validation and our commit — a concurrent
      // append may have introduced `to`, a concurrent rename/drop may
      // have retired it — so the guards must re-run on the winner's
      // entries before every retry, not just once up front.
      def validate(state: Snapshot)
          : org.apache.spark.sql.types.StructType = {
        require(!state.isEmpty, s"no committed batches under $path")
        val schema = state.read(spark).schema
        require(schema.fieldNames.exists(_.equalsIgnoreCase(from)),
          s"unknown column '$from'")
        require(!from.equalsIgnoreCase(to),
          s"RENAME COLUMN to the same name '$from' is a no-op; refused")
        require(!from.equalsIgnoreCase("batch_id") &&
          !to.equalsIgnoreCase("batch_id"),
          "batch_id is the store's replay-attribution column")
        require(!partitionBy.exists(_.equalsIgnoreCase(from)),
          s"'$from' is a partition column")
        require(!morDeleteKey.exists(_.equalsIgnoreCase(from)),
          s"'$from' is the merge-on-read delete key")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column '$to' already exists")
        require(!state.retired.exists(_.equalsIgnoreCase(to)),
          s"column name '$to' was dropped or renamed away and is " +
            "retired: old data files still hold its values, and without " +
            "field-id column mapping reusing the name would resurrect " +
            "them (compact() first to materialize the schema, then " +
            "rename)")
        listChecks(spark).foreach { case (name, pred) =>
          require(!("(?is).*\\b" +
            java.util.regex.Pattern.quote(from) + "\\b.*").r
            .matches(pred),
            s"column '$from' is referenced by check constraint '$name' " +
              s"($pred); dropCheck first, rename, then re-add the check " +
              "against the new name")
        }
        schema
      }
      val canonical = validate(snap).fieldNames
        .find(_.equalsIgnoreCase(from)).get
      val entry = writeMarker(spark, "renamecol", payload = Some(
        ManifestTableStore.RenameColKey -> JsonNodeFactory.instance
          .objectNode().put("f", canonical).put("t", to)))
      // rebase = new table state: re-run the guards
      commit(f, snap, Seq(entry.dir))(_ :+ entry,
        Rebase.append { won => validate(won); true })
    }

  /** Governed `ALTER TABLE ... ALTER COLUMN ... TYPE` — metadata-only
    * LOSSLESS type widening, the FOURTH evolution leg after ADD / DROP /
    * RENAME (Iceberg's type-promotion matrix: int→long, float→double,
    * decimal growth; plus the sub-long→double and integral→decimal
    * promotions Delta's type-widening feature adds): no data file is
    * rewritten; a zero-row WIDEN MARKER records (column, new type) in
    * the manifest and every read of a version carrying it serves the
    * column CAST to the new type. Old dirs keep the narrow physical
    * type — the per-dir union-by-name read coerces mixed generations to
    * the widest present type and the marker cast pins the DECLARED
    * type even before any wide file lands. The widen is VERSIONED:
    * time travel before the marker shows the old type. DML rewrites
    * materialize the wide type incrementally; [[compact]] table-wide.
    *
    * Manifest min/max stats survive: they compare as numbers
    * ([[ManifestTableStore.NumV]] is a BigDecimal), and integral bloom
    * probes canonicalize to plain digits — so dirs written before the
    * widen keep pruning afterwards with NO stats refresh.
    *
    * Guards: NARROWING (or any lossy/lateral change) is refused —
    * that's a rewrite, not metadata; partition columns are refused
    * (their values are directory names — hive layout and partition
    * pruning key off the creation-time type); the merge-on-read delete
    * key is refused (committed equality-delete files hold the narrow
    * type); `batch_id` is refused. Widening to the CURRENT type is an
    * idempotent no-op (safe re-runs). A retired (dropped/renamed-away)
    * name is inherently refused — it is not in the current schema.
    */
  def widenColumn(spark: SparkSession, name: String,
      to: org.apache.spark.sql.types.DataType): Unit = synchronized {
    val f = fs(spark)
    val snap = current(f)
    // Re-runnable against a rebased snapshot — same contract as
    // renameColumn: a lost commit race means table state changed, so
    // the guards re-run on the winner's entries before every retry.
    // Returns the column's canonical current name, or None for the
    // idempotent already-wide case.
    def validate(state: Snapshot): Option[String] = {
      require(!state.isEmpty, s"no committed batches under $path")
      val schema = state.read(spark).schema
      val fld = schema.fields.find(_.name.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown column '$name'"))
      require(!name.equalsIgnoreCase("batch_id"),
        "batch_id is the store's replay-attribution column")
      require(!partitionBy.exists(_.equalsIgnoreCase(name)),
        s"'$name' is a partition column: its values are directory " +
          "names, and hive layout + partition pruning key off the " +
          "creation-time type")
      require(!morDeleteKey.exists(_.equalsIgnoreCase(name)),
        s"'$name' is the merge-on-read delete key: committed " +
          "equality-delete files hold the narrow type")
      if (fld.dataType == to) return None // already wide: no-op
      require(ManifestTableStore.isWidening(fld.dataType, to),
        s"ALTER COLUMN '$name' TYPE $to is not a lossless widening of " +
          s"${fld.dataType} (allowed: the integral up-chain, " +
          "float→double, sub-long integrals→double, integrals→decimal " +
          "with enough integer digits, decimal growth); a narrowing " +
          "or lateral change rewrites data — refused")
      Some(fld.name)
    }
    val canonical = validate(snap) match {
      case None => return
      case Some(c) => c
    }
    val entry = writeMarker(spark, "widencol", payload = Some(
      ManifestTableStore.WidenColKey -> JsonNodeFactory.instance
        .objectNode().put("c", canonical).put("t", to.sql)))
    // None from validate: an identical widen won, converged
    commit(f, snap, Seq(entry.dir))(_ :+ entry,
      Rebase.append(validate(_).isDefined))
  }

  /** `ANALYZE TABLE ... COMPUTE STATISTICS` — refresh every data dir's
    * manifest stats/bloom against the CURRENT schema without rewriting
    * a byte of data: each dir re-scans (stats columns only) through
    * the snapshot's rename projection and its statsJson is replaced in
    * ONE optimistic commit (dirs and batch ids unchanged, so the
    * refresh is ancestry-neutral for branch fast-forward and invisible
    * to CDF). This is the operational verb that RESTORES data skipping
    * on a renamed column for dirs written before the rename — their
    * recorded stats are keyed to the old physical name and prune
    * nothing until refreshed or rewritten. Stats columns come from
    * THIS handle's `statsColumns`, which must name the current
    * (post-rename) schema. No-op on an empty table; a lost race
    * against concurrent maintenance is shrugged off (re-running a
    * stats refresh is free).
    */
  def refreshStats(spark: SparkSession): Unit = synchronized {
    val f = fs(spark)
    val snap = current(f)
    if (snap.isEmpty) return
    val fresh: Map[String, String] = snap.dataDirs.map { d =>
      d -> collectStatsOf(
        snap.project(ManifestTableStore.DirSchemas.read(spark, d)))
    }.toMap
    commit(f, snap, Nil)(_.map { e =>
      if (isDeleteEntry(e) || isSchemaMarker(e)) e
      else fresh.get(e.dir).fold(e)(Entry(e.batchId, e.dir, _))
    }, Rebase.maintenance)
  }

  // ---- Write-audit-publish (Iceberg's WAP pattern) -------------------
  // The single-step manifest protocol makes WAP free: data files are
  // only table state once a manifest references them, so "stage" is an
  // append WITHOUT the commit, auditing reads the staged dir directly,
  // and "publish" is an ordinary optimistic commit that references the
  // already-written dir — the audited bytes, not a re-run of the
  // upstream job. An aborted batch is deleted without the table ever
  // having known it existed. This is the ingest-quality gate a curation
  // pipeline runs: land the batch, run the checks, only then make it
  // visible to consumers.

  /** Write a batch's data files WITHOUT committing them — invisible to
    * every reader until [[publishStaged]]. Returns the staged dir
    * (the audit + publish/abort handle).
    */
  def stage(df: DataFrame, batchId: Long): String = {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val dataDir =
      s"$path/staged/batch-$batchId-${java.util.UUID.randomUUID()}"
    val stats = write(TableStore.withBatchId(df, batchId), dataDir)
    // stash the stats the write job already computed beside the staged
    // files (underscore name: invisible to parquet readers, so the
    // audit sees exactly the bytes publish would commit) — publish then
    // commits without re-reading the audited dir
    val f = fs(df.sparkSession)
    val out = f.create(new HPath(dataDir, StagedStatsFile), true)
    try out.write(stats.getBytes("UTF-8")) finally out.close()
    dataDir
  }

  /** Read a staged batch for auditing — exactly the bytes publish would
    * make visible.
    */
  def readStaged(spark: SparkSession, stagedDir: String): DataFrame =
    ManifestTableStore.DirSchemas.read(spark, stagedDir)

  /** Commit a staged dir as the next version (idempotent per batch id
    * like [[append]]). The staged files themselves become table state —
    * no rewrite between audit and publish.
    */
  def publishStaged(spark: SparkSession, stagedDir: String,
      batchId: Long): Unit = synchronized {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val f = fs(spark)
    guardInheritedId(f, batchId)
    val snap = current(f)
    if (snap.has(batchId)) return
    val stats = AtomicCreate.readString(f,
      new HPath(stagedDir, StagedStatsFile))
      .getOrElse(collectStats(spark, stagedDir))
    commit(f, snap, Seq(stagedDir))(_ :+ Entry(batchId, stagedDir, stats),
      Rebase.append(batchId))
  }

  /** Drop a staged batch that failed its audit — the table never
    * referenced it, so this is pure file deletion, no manifest change.
    */
  def abortStaged(spark: SparkSession, stagedDir: String): Unit = {
    fs(spark).delete(new HPath(stagedDir), true)
    ManifestTableStore.DirSchemas.evictUnder(stagedDir)
  }

  /** Rewrite every committed row into ONE data dir and commit it as the
    * next version, carrying all batch ids forward (replay detection and
    * `readExactlyOnce` survive: batch_id is a data column). No-op on a
    * table that is already one dir. Returns whether it published.
    */
  def compact(spark: SparkSession): Boolean = synchronized {
    val f = fs(spark)
    val snap = current(f)
    if (snap.entries.map(_.dir).distinct.size <= 1 &&
      snap.deletes.isEmpty) return false
    // rewrite the SNAPSHOT's dirs (not a re-listed current) so a
    // conflict rebase knows exactly which batches the new dir holds.
    // Merge-on-read delete files fold in here: the rewrite materializes
    // the delete-applied state and the delete entries drop out of the
    // committed manifest (Iceberg's rewrite_data_files + rewrite of
    // delete files in one step).
    rewriteCommit(f, snap, Kind.Compact)(
      Seq(Output(snap.entries.map(_.dir).toSet, snap.read(spark))))
  }

  /** Incremental small-file compaction — Delta's OPTIMIZE with a
    * file-size target: only data dirs whose on-disk bytes fall below
    * `smallBytes` are rewritten (merged into ONE new dir); every dir at
    * or above the threshold carries forward byte-identical, never read.
    * The maintenance cost scales with the small-file BACKLOG, not the
    * table — at 100 TB the only affordable form: a 30 s streaming
    * trigger writes ~3k tiny dirs/day, and [[compact]]'s whole-table
    * rewrite would read petabytes to fix megabytes. Batch ids carry
    * forward (replay refusal and time travel survive); the merged
    * dir's stats are recomputed. Refuses pending merge-on-read delete
    * files (fold them with [[compact]] first); no-op below two small
    * dirs.
    *
    * A `where` predicate scopes it (Delta's `OPTIMIZE t WHERE pred`):
    * only small dirs whose manifest stats ADMIT a match merge; every
    * dir the predicate provably cannot touch carries forward
    * byte-identical — at 100 TB "optimize today's ingest" reads
    * today's small dirs, not every small dir in the table. Dirs with
    * no stats for a referenced column are conservatively in scope
    * (same rule as [[readWhere]]). Returns whether it published.
    */
  def compactSmall(spark: SparkSession, smallBytes: Long,
      where: Option[String] = None): Boolean =
    synchronized {
      val f = fs(spark)
      val snap = current(f)
      snap.requireNoDeletes("compactSmall")
      // schema markers (add/drop/rename/widen/create) carry verbatim:
      // merging one into a data dir would lose the change while
      // untouched dirs still hold the old physical column
      val smallAll = snap.dataDirs.filter(d =>
        f.getContentSummary(new HPath(d)).getLength < smallBytes)
      val small = where.fold(smallAll)(p => pruneEntries(spark, p,
        snap.data.filter(e => smallAll.contains(e.dir)))._1.distinct)
      small.size >= 2 && rewriteCommit(f, snap, Kind.Compact)(
        Seq(Output(small.toSet, readDirs(spark, small))))
    }

  /** Cluster-compact: rewrite the whole table as up to `buckets`
    * range-disjoint data dirs ordered by `clusterBy`, each committed
    * with its own stats. Streaming appends interleave key ranges, so
    * per-batch stats degrade toward "every dir overlaps every
    * predicate"; range-clustering restores them — after this,
    * [[readWhere]] on a `clusterBy` range touches ~1/buckets of the
    * data (Delta's OPTIMIZE ZORDER / Iceberg's sort-order rewrite, in
    * one dimension). One shuffle (range repartition by the sampled key
    * distribution) + one write. Returns whether it published.
    */
  def compactClustered(spark: SparkSession, clusterBy: String,
      buckets: Int): Boolean =
    rewriteBuckets(spark, Kind.Cluster, "compactClustered")(
      _.repartitionByRange(buckets, col(clusterBy)))

  /** [[compactClustered]] and [[compactZOrder]]: the whole table, read
    * once (drops materialize here), rewritten as one dir per partition
    * of `layout`'s range repartition. Each is an independent manifest
    * dir, so pruning works per dir exactly as on fresh appends, and
    * every batch id carries forward. No-op when the manifest counts no
    * row: a zero-row write lays out no bucket to carry the ids.
    */
  private def rewriteBuckets(spark: SparkSession, kind: Kind, op: String)(
      layout: DataFrame => DataFrame): Boolean = synchronized {
    val f = fs(spark)
    val snap = current(f)
    snap.requireNoDeletes(op)
    !ManifestTableStore.countOf(snap.data).contains(0L) &&
      rewriteCommit(f, snap, kind)(Seq(Output(snap.entries.map(_.dir).toSet,
        layout(snap.read(spark)).withColumn("__cluster", spark_partition_id()),
        buckets = true)))
  }

  /** Write a bucket layout as hive `__cluster=k` dirs under `base`
    * (table partitions nested inside) and return each dir with its
    * stats, read back one job per dir: per-bucket aggregates in the
    * write's `observe` measured slower at OPTIMIZE ZORDER's bucket
    * count (`spark.sql.shuffle.partitions`).
    */
  private def writeBuckets(spark: SparkSession, f: FileSystem,
      clustered: DataFrame, base: String): Seq[(String, String)] = {
    clustered.write.mode("overwrite")
      .partitionBy("__cluster" +: partitionBy: _*).parquet(base)
    val dirs = f.listStatus(new HPath(base)).map(_.getPath)
      .collect { case p if p.getName.startsWith("__cluster=") => p.toString }
      .sorted.toSeq
    val schema = clustered.drop("__cluster").schema
    dirs.foreach(putSchema(spark, _, schema))
    dirs.map(d => d -> collectStats(spark, d))
  }

  /** Z-order clustered compaction — multi-dimensional data skipping
    * (Delta `OPTIMIZE ZORDER BY`, Iceberg's multi-column sort order).
    * [[compactClustered]] restores skippability in ONE dimension; a
    * table queried by several independent predicates (time ranges AND
    * key ranges) needs dirs compact in EVERY queried dimension at once.
    * Each `zorderBy` column maps to its 12-bit quantile rank
    * (`percent_rank` — distribution-free, so skewed columns still
    * spread evenly), ranks bit-interleave into the Z-value, and the
    * table range-repartitions on Z into `buckets` dirs, each committed
    * with fresh min/max stats on every `zorderBy` column. Points close
    * in Z are close in every dimension, so each dir covers a narrow
    * range of EACH column and [[readWhere]] prunes on any of them —
    * the property one-dimensional clustering cannot give. The exact
    * quantile ranks are the one-time maintenance cost, exactly as in
    * Delta's OPTIMIZE — computed DISTRIBUTED: each column's
    * value→rank map comes from [[ExactRank]] (range-partitioned sort,
    * min position per value = SQL `rank()`, so the codes are
    * bit-identical to what `percent_rank` over a global window
    * produced) and joins back on the value — table/n rows per task
    * instead of the whole table through one window task. Returns
    * whether it published.
    */
  def compactZOrder(spark: SparkSession, zorderBy: Seq[String],
      buckets: Int): Boolean = {
    require(zorderBy.nonEmpty, "compactZOrder needs at least one column")
    val bitsPer = 12
    val n = zorderBy.size
    rewriteBuckets(spark, Kind.ZOrder, "compactZOrder") { base0 =>
      val total = base0.count()
      val denom = math.max(total - 1L, 1L).toDouble
      val ranked = zorderBy.zipWithIndex.foldLeft(base0) {
        case (d, (c, i)) =>
          // rank() = min ExactRank position among a value's ties;
          // percent_rank = (rank-1)/(n-1). NULLs order first under a
          // window, so a left-join miss codes to rank 0 — identical.
          val rmap = ExactRank.ranked(base0.select(col(c)), c)
            .groupBy("v").agg(min("pos").as(s"__minpos$i"))
            .withColumnRenamed("v", c)
          d.join(rmap, Seq(c), "left")
            .withColumn(s"__r$i",
              ((coalesce(col(s"__minpos$i"), lit(1L)) - 1L) / denom *
                ((1 << bitsPer) - 1)).cast("int"))
            .drop(s"__minpos$i")
      }
      // interleave: bit b of column i lands at position b*n + i
      val zExpr = (0 until bitsPer).flatMap(b => (0 until n).map(i =>
        s"(cast((__r$i >> $b) & 1 as bigint) << ${b * n + i})"))
        .mkString(" + ")
      ranked.withColumn("__z", expr(zExpr))
        .repartitionByRange(buckets, col("__z"))
        .drop(("__z" +: (0 until n).map(i => s"__r$i")): _*)
    }
  }

  /** Copy-on-write row-level DELETE (Iceberg CoW delete / Delta DELETE,
    * reference's governed-mutation surface): rows matching `predicateSql`
    * are removed by REWRITING only the data dirs whose manifest stats
    * admit a match — every dir the predicate provably cannot touch
    * carries forward into the new version byte-identical, never read and
    * never rewritten. At 100 TB this is the difference between "delete
    * one day = rewrite one day's dirs" and "delete one day = rewrite the
    * table": the rewrite scope is bounded by the same stats pruning
    * [[readWhere]] uses for scans. Commits as ONE new version under
    * the DML policy ([[Rebase.dml]]: concurrent appends rebase around
    * it; a competing maintenance rewrite makes it throw, and its
    * rewritten dirs are deleted).
    * Batch ids carry forward, so replay refusal and time travel survive:
    * [[readVersion]] on the pre-delete version still sees the deleted
    * rows (their dirs stay on disk until [[vacuum]]).
    */
  def delete(spark: SparkSession, predicateSql: String): Unit =
    // SQL DELETE removes rows where the predicate is TRUE; a NULL
    // predicate (NULL-valued column in `WHERE c = 3`) KEEPS the row
    // — a bare `!pred` filter would silently delete it
    rewriteMatching(spark, predicateSql, Kind.Delete)(
      _.filter(!(expr(predicateSql) <=> lit(true))))

  /** Copy-on-write row-level UPDATE: rows matching `predicateSql` get
    * each column in `set` re-assigned; all other rows (and every data
    * dir the predicate provably cannot touch) pass through unchanged.
    * Same stats-bounded rewrite scope and one-version commit protocol
    * as [[delete]]. NOTE: rewritten dirs recompute their manifest
    * stats, so a predicate on an updated column stays prunable after
    * the update.
    */
  def update(spark: SparkSession, predicateSql: String,
      set: Map[String, org.apache.spark.sql.Column]): Unit = {
    val hit = expr(predicateSql)
    rewriteMatching(spark, predicateSql, Kind.Update)(df =>
      set.foldLeft(df) { case (d, (c, value)) =>
        d.withColumn(c, when(hit, value).otherwise(col(c)))
      })
  }

  /** [[delete]] and [[update]]: `xform` of each data dir whose stats
    * admit `predicateSql`, once a short-circuiting row probe (Delta's
    * find-files phase) found an ACTUAL match among them. A no-match
    * re-run (orchestrator retry, replayed script) must not pay a CoW
    * pass or push every MV into a spurious refresh window. The probe
    * reads through pending renames/widens like [[perDir]]: the
    * predicate speaks CURRENT names and types.
    */
  private def rewriteMatching(spark: SparkSession, predicateSql: String,
      kind: Kind)(xform: DataFrame => DataFrame): Unit = synchronized {
    val f = fs(spark)
    val snap = current(f)
    snap.requireNoDeletes(kind.prefix)
    if (snap.isEmpty) return
    val touched = pruneEntries(spark, predicateSql, snap.data)._1.distinct
    if (touched.isEmpty || snap.project(readDirs(spark, touched))
        .filter(expr(predicateSql) <=> lit(true)).isEmpty) return
    rewriteCommit(f, snap, kind)(perDir(spark, snap, touched)(xform))
  }

  /** Keyed MERGE (Delta `MERGE INTO` with whenMatched=replace,
    * whenNotMatched=insert): every table row whose `key` appears in
    * `source` is replaced by the source row; source rows with no match
    * are inserted. Executed copy-on-write in ONE commit: dirs whose
    * recorded `key` min/max cannot intersect the source's key range
    * carry forward untouched. This is the upsert shape of a streaming
    * CDC apply, where `source` is a micro-batch and the table is
    * 100 TB: rewrite cost scales with the dirs the delta actually
    * lands in, not table size. The touched dirs' layout follows their
    * key stats:
    *   - when a touched dir, or the table's stats columns, carry
    *     min/max on a key, each touched dir is rewritten on its own
    *     with a broadcast LEFT ANTI join against the (small) source
    *     key set, and the source rows commit under `batchId` as their
    *     own dir — every dir keeps a narrow key range, so a later
    *     merge or lookup prunes to the dirs it lands in;
    *   - when none does, every merge touches every dir anyway, so the
    *     touched dirs' anti-joined rows and the source rows go to ONE
    *     new dir that every touched entry and `batchId` point at (the
    *     representation [[compact]] uses for a dir holding several
    *     batch ids): a merge whose keys span the table leaves one dir
    *     behind instead of growing it by one dir per merge.
    * A replayed `batchId` is refused exactly like [[append]].
    */
  def merge(spark: SparkSession, source: DataFrame, key: String,
      batchId: Long): Unit = merge(spark, source, Seq(key), batchId)

  /** Composite-key MERGE — the same one-commit copy-on-write upsert
    * over a MULTI-column key (the shape a gold materialized view with
    * `GROUP BY source_system, day` folds through): a dir carries
    * forward untouched when its stats prove it disjoint from the
    * source's range on ANY key column; touched dirs anti-join on the
    * full key tuple.
    */
  def merge(spark: SparkSession, source: DataFrame, keys: Seq[String],
      batchId: Long): Unit = synchronized {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    require(keys.nonEmpty, "merge needs at least one key column")
    val f = fs(spark)
    guardInheritedId(f, batchId)
    val snap = current(f)
    snap.requireNoDeletes("merge")
    if (snap.has(batchId)) return // replay → no-op
    // PIN before anything reads it (same reason as [[mergeClauses]]):
    // the bounds aggregate, the anti-join key set, and the write are
    // separate evaluations — a non-deterministic source would
    // anti-join one set of keys and write another
    val src = source.pinned
    // a dir without min/max on a key is touched anyway: when no dir
    // carries any, every dir is, and the bounds aggregate is skipped
    def hasKeyStats(e: Entry) =
      parseStats(e.statsJson).keySet.exists(keys.contains)
    val touched =
      if (snap.data.exists(hasKeyStats)) mergeTouchedDirs(src, keys, snap.data)
      else snap.dataDirs.toSet
    val srcKeys = broadcast(src.select(keys.map(col): _*).distinct())
    val inserted = TableStore.withBatchId(src, batchId)
    val keyStats = statsEligibleIn(src.schema).exists(keys.contains) ||
      snap.data.exists(e => touched(e.dir) && hasKeyStats(e))
    val outputs =
      if (keyStats)
        Output(Set.empty, inserted, Some(batchId)) +:
          perDir(spark, snap, touched.toSeq)(
            _.join(srcKeys, keys, "left_anti"))
      else {
        // pending renames and widens project onto the touched dirs
        // first, as in [[perDir]]; the read pads columns a dir
        // predates exactly as the read path does
        val kept =
          if (touched.isEmpty) Nil
          else Seq(snap.project(readDirs(spark, touched.toSeq.sorted))
            .join(srcKeys, keys, "left_anti"))
        // one dir that every touched entry and `batchId` point at
        Seq(Output(touched, (kept :+ inserted)
          .reduce(_.unionByName(_, allowMissingColumns = true)),
          Some(batchId)))
      }
    rewriteCommit(f, snap, Kind.Merge)(outputs)
  }

  /** Rewrite the whole table as ONE dir holding `rebuild` of its
    * current rows (batch ids included) in one write job, committed
    * like the one-dir keyed [[merge]]: every data entry and `batchId`
    * point at the new dir. A committed `batchId` is a replay: no-op.
    * `rebuild` reads the rows once, so nothing is pinned — the
    * caller's frame must be deterministic.
    */
  private[engine] def rewrite(spark: SparkSession, batchId: Long)(
      rebuild: DataFrame => DataFrame): Unit = synchronized {
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    val f = fs(spark)
    guardInheritedId(f, batchId)
    val snap = current(f)
    snap.requireNoDeletes("merge")
    require(!snap.isEmpty, s"no committed batches under $path")
    if (snap.has(batchId)) return
    rewriteCommit(f, snap, Kind.Merge)(Seq(Output(snap.dataDirs.toSet,
      rebuild(snap.read(spark)), Some(batchId))))
  }

  /** Data dirs a keyed merge must rewrite, among the data entries
    * `lines` (schema markers are structure: a key join cannot run
    * against their batch_id-only files): those whose recorded key
    * min/max cannot be proven disjoint from `source`'s key range on
    * any key column (no stats → conservatively touched). `source`'s
    * key range is one aggregate, min and max of each key normalized
    * like the dir stats, so the comparison is representation-free.
    */
  private def mergeTouchedDirs(source: DataFrame, keys: Seq[String],
      lines: Seq[Entry]): Set[String] = {
    import org.apache.spark.sql.types.{NumericType, StringType}
    val bc = keys.flatMap { k =>
      val dt = source.schema(k).dataType
      Seq(statsNorm(min(col(k)), dt), statsNorm(max(col(k)), dt))
    }
    val bounds = source.agg(bc.head, bc.tail: _*).head()
    val srcRanges: Seq[(String, Option[(SVal, SVal)])] =
      keys.zipWithIndex.map { case (k, i) =>
        val (lo, hi) = (2 * i, 2 * i + 1)
        val r: Option[(SVal, SVal)] =
          if (bounds.isNullAt(lo) || bounds.isNullAt(hi)) None
          else if (statsIsTs(source.schema(k).dataType))
            Some((TsV(bounds.getString(lo).toLong),
              TsV(bounds.getString(hi).toLong)))
          else source.schema(k).dataType match {
            case _: NumericType =>
              Some((NumV(new java.math.BigDecimal(bounds.getString(lo))),
                NumV(new java.math.BigDecimal(bounds.getString(hi)))))
            case StringType =>
              Some((StrV(bounds.getString(lo)),
                StrV(bounds.getString(hi))))
            case _ => None
          }
        k -> r
      }
    lines.map(_.dir).distinct.filter { d =>
      val stats = parseStats(
        lines.find(_.dir == d).map(_.statsJson).getOrElse(""))
      val provablyDisjoint = srcRanges.exists { case (k, srcRange) =>
        (srcRange, stats.get(k)) match {
          case (Some((sMn, sMx)), Some((dMn, dMx))) =>
            ManifestTableStore.disjoint(">=", sMn, dMn, dMx) ||
              ManifestTableStore.disjoint("<=", sMx, dMn, dMx)
          case _ => false
        }
      }
      !provablyDisjoint
    }.toSet
  }

  /** General MERGE — the FULL clause surface every Delta/Iceberg SQL
    * user writes for CDC apply (conditional `WHEN MATCHED AND`,
    * column-level `UPDATE SET col = expr`, `WHEN MATCHED THEN DELETE`,
    * `WHEN NOT MATCHED BY SOURCE`): per target row the FIRST matched
    * clause whose condition holds applies; target rows with no source
    * match run the `bySource` clauses the same way; source rows with no
    * target match run the `notMatched` insert clauses. One commit.
    * Clause conditions and SET expressions see target columns by bare
    * name and source columns as `__src_<name>`; insert conditions and
    * VALUES run over bare source rows. All SET expressions see
    * PRE-update values (SQL UPDATE semantics): every output column is
    * computed in one SELECT over the joined row. A replayed `batchId`
    * is a no-op, exactly like [[append]] — callers choose the id
    * explicitly ([[StoreSql]] refuses a MERGE without one).
    *
    * Scale shape, copy-on-write: with no `bySource` clauses the rewrite
    * scope is stats-bounded exactly like [[merge]] (dirs whose recorded
    * key range cannot intersect the source's carry forward untouched,
    * never read); `bySource` clauses inspect every target row by
    * definition, so they rewrite all dirs — the cost Delta documents
    * for whenNotMatchedBySource. The insert anti-join reads ONE column
    * (the key) of the table, and each touched dir joins against the
    * broadcast (small, CDC-batch-sized) source.
    */
  def mergeClauses(spark: SparkSession, source: DataFrame, key: String,
      matched: Seq[ManifestTableStore.MergeClause],
      notMatched: Seq[ManifestTableStore.InsertClause],
      bySource: Seq[ManifestTableStore.MergeClause],
      batchId: Long): Unit =
    mergeClauses(spark, source, Seq(key), matched, notMatched,
      bySource, batchId)

  /** Composite-key general MERGE — the same clause surface over an
    * AND-of-equalities key tuple (the CDC shape for tables whose
    * business key spans columns). Dir pruning stays stats-bounded: a
    * dir carries forward when provably disjoint on ANY key column.
    */
  def mergeClauses(spark: SparkSession, source: DataFrame,
      keys: Seq[String],
      matched: Seq[ManifestTableStore.MergeClause],
      notMatched: Seq[ManifestTableStore.InsertClause],
      bySource: Seq[ManifestTableStore.MergeClause],
      batchId: Long): Unit = synchronized {
    import ManifestTableStore.{DeleteClause, UpdateClause}
    require(batchId >= 0, s"batchId must be >= 0, got $batchId")
    require(keys.nonEmpty, "MERGE needs at least one key column")
    val f = fs(spark)
    guardInheritedId(f, batchId)
    val snap = current(f)
    snap.requireNoDeletes("merge")
    if (snap.has(batchId)) return // replay → no-op
    if (snap.isEmpty && notMatched.isEmpty) return
    // PIN the source before anything reads it: the clauses evaluate it
    // several times (duplicate-key check, per-touched-dir broadcast
    // joins, insert anti-join, the insert write), and a
    // non-deterministic source (rand/uuid, a re-read view) would apply
    // DIFFERENT rows per evaluation — inconsistent dirs inside one
    // commit. Delta materializes the merge source for the same reason.
    val src = source.pinned
    // SQL MERGE refuses a target row matching more than one source row
    // (nondeterministic update) — enforced on the small side
    require(src.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).isEmpty,
      s"MERGE source has duplicate values of '${keys.mkString(", ")}'")
    val srcPrefixed = src.columns.foldLeft(src)((d, c) =>
      d.withColumnRenamed(c, s"__src_$c"))
    val touched: Set[String] =
      if (matched.isEmpty && bySource.isEmpty) Set.empty // insert-only
      else if (bySource.nonEmpty) snap.dataDirs.toSet
      else mergeTouchedDirs(src, keys, snap.data)
    // index of the first clause (declaration order) whose condition
    // holds, -1 when none does — SQL MERGE's first-match-wins
    def firstClause(clauses: Seq[ManifestTableStore.MergeClause],
        applicable: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      clauses.zipWithIndex
        .foldRight(lit(-1): org.apache.spark.sql.Column) {
          case ((cl, i), els) =>
            when(applicable && cl.cond.map(expr).getOrElse(lit(true)),
              lit(i)).otherwise(els)
        }
    // the target (renames/widens/adds projected; drops NOT applied) —
    // its schema is computed BEFORE the per-dir rewrites because each
    // rewrite must emit the FULL current schema, not the dir's own
    // physical one: a governed ADD that landed just before this merge
    // (schema evolution) means old dirs lack the new column, and a SET *
    // of it would otherwise be silently dropped from the rewritten dir.
    // Schema-only (parquet footers), no data read.
    val target = if (snap.isEmpty) src else snap.project(snap.scan(spark))
    val tSchema = target.schema
    def xform(df: DataFrame): DataFrame = {
      val joined = df.join(broadcast(srcPrefixed),
        keys.map(k => df(k) === col(s"__src_$k")).reduce(_ && _),
        "left")
      val isM = keys.map(k => col(s"__src_$k").isNotNull)
        .reduce(_ && _)
      val staged = joined
        .withColumn("__m", firstClause(matched, isM))
        .withColumn("__b", firstClause(bySource, !isM))
      val delM = matched.zipWithIndex.collect {
        case (DeleteClause(_), i) => i }
      val delB = bySource.zipWithIndex.collect {
        case (DeleteClause(_), i) => i }
      val kept = staged
        .filter(if (delM.isEmpty) lit(true)
          else !col("__m").isInCollection(delM))
        .filter(if (delB.isEmpty) lit(true)
          else !col("__b").isInCollection(delB))
      val outCols = tSchema.fields.map { fld =>
        val c = fld.name
        // a column this DIR does not physically hold yet (added by a
        // marker after the dir was written) reads NULL, exactly as the
        // scan path fills it
        val base: org.apache.spark.sql.Column =
          if (df.columns.contains(c)) col(c)
          else lit(null).cast(fld.dataType)
        def chain(clauses: Seq[ManifestTableStore.MergeClause],
            idx: org.apache.spark.sql.Column,
            acc: org.apache.spark.sql.Column) =
          clauses.zipWithIndex.foldRight(acc) { case ((cl, i), els) =>
            cl match {
              case UpdateClause(_, set) =>
                val assigned = set match {
                  case Some(s) =>
                    s.collectFirst { case (tc, e) if tc == c => expr(e) }
                  case None => // SET *: same-named source column.
                    // batch_id NEVER assigns from the source: it is
                    // the store's replay-attribution column — a store
                    // frame used as a MERGE source carries one, and
                    // adopting it would desynchronize row attribution
                    // from the manifest entry (CDF/replay corruption).
                    // The insert path already excludes it.
                    if (c != "batch_id" && src.columns.contains(c))
                      Some(col(s"__src_$c"))
                    else None
                }
                assigned match {
                  case Some(e2) => when(idx === i, e2).otherwise(els)
                  case None => els
                }
              case _ => els
            }
          }
        chain(bySource, col("__b"),
          chain(matched, col("__m"), base)).as(c)
      }
      kept.select(outCols.toSeq: _*)
    }
    // The insert batch is written UNCONDITIONALLY — even when no insert
    // clause exists or no source row qualifies, a ZERO-ROW entry
    // carrying `batchId` commits. Without it an update/delete-only
    // merge's commit holds only rewritten entries under OLD batch ids,
    // the replay check above can never fire, and a crashed-and-replayed
    // CDC micro-batch re-applies: non-idempotent SETs (cnt = cnt +
    // src.delta) double-apply, and a MATCHED-DELETE batch whose keys
    // all matched first time resurrects them as inserts on replay. The
    // marker costs one empty parquet footer; compact folds it away.
    val insRows: DataFrame =
      if (notMatched.isEmpty)
        TableStore.withBatchId(spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], tSchema)
          .drop("batch_id"), batchId)
      else {
        val unmatched =
          if (snap.isEmpty) src
          else src.join(target.select(keys.map(col): _*).distinct(), keys,
            "left_anti")
        val iIdx = notMatched.zipWithIndex
          .foldRight(lit(-1): org.apache.spark.sql.Column) {
            case ((cl, i), els) =>
              when(cl.cond.map(expr).getOrElse(lit(true)), lit(i))
                .otherwise(els)
          }
        val picked = unmatched.withColumn("__i", iIdx)
          .filter(col("__i") >= 0)
        val insCols = tSchema.fields.filterNot(_.name == "batch_id")
          .map { fld =>
            notMatched.zipWithIndex.foldRight(
                lit(null).cast(fld.dataType)
                  : org.apache.spark.sql.Column) { case ((cl, i), els) =>
              val e2 = cl.values match {
                case Some(vs) => vs.collectFirst {
                  case (tc, e) if tc == fld.name => expr(e) }
                case None => // INSERT *: same-named source column
                  if (src.columns.contains(fld.name))
                    Some(col(fld.name))
                  else None
              }
              e2 match {
                case Some(x) =>
                  when(col("__i") === i, x.cast(fld.dataType))
                    .otherwise(els)
                case None => els
              }
            }.as(fld.name)
          }
        TableStore.withBatchId(picked.select(insCols.toSeq: _*), batchId)
      }
    rewriteCommit(f, snap, Kind.Merge)(
      Output(Set.empty, insRows, Some(batchId)) +:
        perDir(spark, snap, touched.toSeq)(xform))
  }

  /** Copy-on-write outputs: `xform` of each dir in `dirs`, each to its
    * own fresh dir. Pending renames AND widens project onto each dir
    * first: `xform` speaks current names and types while old dirs hold
    * the old physical column, and the rewrite materializes the new
    * ones, so DML incrementally completes a metadata-only rename/widen.
    */
  private def perDir(spark: SparkSession, snap: Snapshot,
      dirs: Seq[String])(xform: DataFrame => DataFrame): Seq[Output] =
    dirs.map(d => Output(Set(d),
      xform(snap.project(ManifestTableStore.DirSchemas.read(spark, d)))))

  /** The one data rewrite behind every compaction, DML op, partition
    * overwrite and REFRESH fold: write each [[Output]] once ([[write]],
    * or [[writeBuckets]] for a bucket layout) and publish them in ONE
    * [[commit]] under the [[Kind]]'s policy. Each replaced entry keeps
    * its batch id on its output's dir (a bucket layout spreads the ids
    * over its dirs), so replay refusal and time travel survive; an
    * output adding a batch appends its entry; delete entries drop (only
    * [[compact]] and [[compactDeletes]] run over them, and fold them).
    * Dirs are `data/<kind prefix>-<uuid>`, or `data/batch-<b>-<uuid>`
    * for an output that replaces nothing and adds batch b. `more` maps
    * the dirs `outputs` wrote to further outputs: a partition overwrite
    * reads the partitions its new batch wrote. Returns whether it
    * published.
    */
  private def rewriteCommit(f: FileSystem, snap: Snapshot, kind: Kind)(
      outputs: Seq[Output],
      more: Seq[String] => Seq[Output] = _ => Nil): Boolean = {
    // `dir` is what the output wrote; `dirs` its committed dirs + stats
    final case class Written(out: Output, dir: String,
        dirs: Seq[(String, String)]) {
      def entry(batchId: Long, i: Int = 0): Entry =
        Entry(batchId, dirs(i)._1, dirs(i)._2)
    }
    def writeAll(os: Seq[Output]): Seq[Written] = os.map { o =>
      val name = o.adds.filter(_ => o.replaces.isEmpty)
        .fold(kind.prefix)(b => s"batch-$b")
      val dir = s"$path/data/$name-${java.util.UUID.randomUUID()}"
      Written(o, dir,
        if (o.buckets) writeBuckets(o.frame.sparkSession, f, o.frame, dir)
        else Seq(dir -> write(o.frame, dir)))
    }
    val first = writeAll(outputs)
    val written = first ++ writeAll(more(first.map(_.dir)))
    val owner = written.flatMap(w => w.out.replaces.map(_ -> w)).toMap
    val edit: Seq[Entry] => Seq[Entry] = { es =>
      val live = es.filterNot(isDeleteEntry)
      // a bucket layout re-spreads the ids it replaces, below
      live.flatMap(e => owner.get(e.dir).fold(Seq(e)) { w =>
        if (w.out.buckets) Nil else Seq(w.entry(e.batchId))
      }) ++ written.flatMap { w =>
        if (w.out.buckets) {
          val ids = live.filter(e => w.out.replaces(e.dir))
            .map(_.batchId).distinct
          w.dirs.indices.map(i => w.entry(ids(i % ids.size), i)) ++
            ids.drop(w.dirs.size).map(w.entry(_))
        } else w.out.adds.map(w.entry(_))
      }
    }
    commit(f, snap, written.map(_.dir))(edit, kind.rebase)
  }

  /** The table's commit history as a DataFrame — Delta's DESCRIBE
    * HISTORY / Iceberg's snapshots metadata table: one row per COMPLETE
    * manifest version with its distinct batch and dir counts and the
    * version's metadata row count (-1 when any dir predates count
    * recording). Manifest-only: no data file is opened. In-flight or
    * dead-writer version files are skipped, exactly as readers skip
    * them.
    */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val f = fs(spark)
    // vacuumed (deleted) manifests are skipped like in-flight ones —
    // the ledger lists the versions that still exist, it never throws
    (1L to current(f).version).flatMap { v =>
      manifestAt(f, v).map { es =>
        (v, es.map(_.batchId).distinct.size.toLong,
          es.map(_.dir).distinct.size.toLong,
          ManifestTableStore.countOf(es).filter(_ => es.nonEmpty)
            .getOrElse(-1L))
      }
    }.toDF("version", "n_batches", "n_dirs", "n_rows")
  }

  /** Read the table AS OF a specific manifest version — time travel,
    * which the versioned manifest gives for free (version files are
    * immutable once renamed in; superseded data dirs remain until
    * [[vacuum]]).
    */
  def readVersion(spark: SparkSession, version: Long): DataFrame =
    readable(spark, version).read(spark)

  /** A COMPLETE, non-empty historical version — the refusals every
    * time-travel read shares.
    */
  private def readable(spark: SparkSession, version: Long): Snapshot = {
    val snap = snapshotAt(fs(spark), version)
    require(!snap.isEmpty, s"version $version of $path is empty")
    snap
  }

  /** Current manifest version (0 = no commits yet). */
  def currentVersion(spark: SparkSession): Long = current(fs(spark)).version

  /** Batch ids committed in the CURRENT version — metadata-bounded
    * (one manifest read). The MV refresh derives its last-applied CDF
    * window from the reserved refresh-id namespace here, so a crash
    * between a refresh's data commit and its sidecar publish is
    * recoverable from the backing table itself (the sidecar alone
    * would re-fold the already-applied window under a fresh id).
    */
  private[engine] def committedBatchIds(spark: SparkSession): Set[Long] =
    current(fs(spark)).entries.filterNot(isSchemaMarker).map(_.batchId)
      .toSet

  /** Commit wall-clock of a version, epoch millis — the version file's
    * modification time (the atomic publish stamps it at commit). The
    * anchor for `TIMESTAMP AS OF`, Delta's timestamp-resolution rule.
    * Refuses missing or incomplete versions.
    */
  def versionTimestampMs(spark: SparkSession, version: Long): Long = {
    val f = fs(spark)
    snapshotAt(f, version)
    f.getFileStatus(new HPath(manifestDir, s"v$version"))
      .getModificationTime
  }

  /** Read the table AS OF a wall-clock instant — Delta/Iceberg's
    * `TIMESTAMP AS OF`: the LATEST complete version whose commit time
    * is at or before `tsMillis`. Metadata-only resolution (one
    * manifest-dir listing); refuses an instant before the first
    * commit, exactly like Delta.
    */
  def readAsOfTimestamp(spark: SparkSession, tsMillis: Long): DataFrame =
    readVersion(spark, versionAsOfTimestamp(spark, tsMillis))

  /** The version `TIMESTAMP AS OF` resolves to at an instant — the
    * LATEST complete version committed at or before `tsMillis`
    * (Delta's rule). Metadata-only; exposed so a pruned time-travel
    * read can resolve once and route through [[readVersionWhere]].
    */
  def versionAsOfTimestamp(spark: SparkSession, tsMillis: Long): Long = {
    val f = fs(spark)
    val eligible =
      if (!f.exists(manifestDir)) None
      else f.listStatus(manifestDir).toSeq.collect {
        case st if st.getPath.getName.startsWith("v") &&
            st.getModificationTime <= tsMillis =>
          st.getPath.getName.drop(1).toLong
      }.sorted.reverse.iterator
        .find(v => manifestAt(f, v).isDefined)
    require(eligible.nonEmpty,
      s"no version of $path was committed at or before epoch-ms " +
        s"$tsMillis (the table's history starts later)")
    eligible.get
  }

  // ---- Named refs (Iceberg TAGS) -------------------------------------
  // Raw version numbers are an implementation detail; what operators
  // actually pin audits, releases, and rollback points to is a NAME
  // ("2024-audit", "pre-migration") — Iceberg's snapshot refs. A tag is
  // one immutable file under tags/ holding the version number,
  // published with the SAME atomic create-if-absent primitive as
  // manifest versions: a tag either does not exist or names exactly one
  // complete version. [[vacuum]] RETAINS tagged versions — their
  // manifest and data dirs survive any retention horizon until the tag
  // is dropped (Iceberg's ref-retention contract) — so a reproducibility
  // pin like "the corpus the model trained on" outlives aggressive
  // cleanup of every untagged intermediate version.

  private def tagsDir = new HPath(s"$path/tags")

  private def tagPath(name: String): HPath = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '-' || c == '_' || c == '.'),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    new HPath(tagsDir, name)
  }

  /** Tag `version` as `name`. Tags are immutable: re-tagging the SAME
    * version is an idempotent no-op (crash-retry safe); naming a
    * DIFFERENT version is refused — [[dropTag]] first, as in Iceberg,
    * where moving a ref is an explicit operation.
    */
  def tag(spark: SparkSession, name: String, version: Long): Unit = {
    require(isMain, "tags name MAIN versions; tag from the main ref")
    val f = fs(spark)
    snapshotAt(f, version)
    if (!AtomicCreate.publish(f, tagPath(name),
        version.toString.getBytes("UTF-8"))) {
      val existing = resolveTag(spark, name)
      require(existing == version,
        s"tag '$name' already names version $existing (tags are " +
          s"immutable; dropTag first to move it to $version)")
    }
  }

  /** Whether a tag with this name exists — one metadata probe. */
  def hasTag(spark: SparkSession, name: String): Boolean =
    fs(spark).exists(tagPath(name))

  /** The version a tag names. */
  def resolveTag(spark: SparkSession, name: String): Long = {
    val f = fs(spark)
    val p = tagPath(name)
    require(f.exists(p), s"unknown tag '$name' on $path")
    val st = f.getFileStatus(p)
    val in = f.open(p)
    try {
      val buf = new Array[Byte](st.getLen.toInt)
      in.readFully(buf); new String(buf, "UTF-8").trim.toLong
    } finally in.close()
  }

  /** [[readVersion]] through a named ref. */
  def readTag(spark: SparkSession, name: String): DataFrame = {
    require(isMain, "tags name MAIN versions; read them from the main ref")
    readVersion(spark, resolveTag(spark, name))
  }

  /** Read through a NAMED REF — a tag, or a BRANCH head (Iceberg's
    * unified ref namespace: `VERSION AS OF 'audit'` and
    * `VERSION AS OF 'etl-run'` both work). Tags win on a name
    * collision (they are immutable pins; a branch head moves).
    */
  def readRef(spark: SparkSession, name: String): DataFrame = {
    require(isMain, "refs resolve from the main handle")
    if (fs(spark).exists(tagPath(name))) readTag(spark, name)
    else if (listBranches(spark).contains(name))
      branch(name).read(spark)
    else throw new IllegalArgumentException(
      s"unknown ref '$name' on $path (no such tag or branch)")
  }

  /** Every tag as (name, version), name-sorted — metadata only. */
  def listTags(spark: SparkSession): Seq[(String, Long)] = {
    val f = fs(spark)
    if (!f.exists(tagsDir)) return Nil
    f.listStatus(tagsDir).map(_.getPath.getName).sorted.toSeq
      .map(n => n -> resolveTag(spark, n))
  }

  /** Drop a tag; the version it named becomes ordinary retention fodder
    * for the next [[vacuum]].
    */
  def dropTag(spark: SparkSession, name: String): Unit =
    require(fs(spark).delete(tagPath(name), false),
      s"unknown tag '$name' on $path")

  // ---- Shallow clone (Delta CLONE) -----------------------------------

  /** Zero-copy SHALLOW CLONE: a new independent table at `targetPath`
    * whose v1 manifest references THIS table's current data dirs — no
    * byte of data moves (Delta's `CREATE TABLE ... SHALLOW CLONE`).
    * The clone then evolves independently: its appends/DML/compactions
    * write under its own path and never touch the source; source
    * commits after the clone are invisible to it (snapshot semantics).
    * The dev/test workflow at 100 TB: experiment against production
    * data for the cost of one manifest write.
    *
    * Delta's documented shallow-clone caveat applies verbatim: the
    * SOURCE's vacuum does not know about clones, so source dirs the
    * clone still references can be reclaimed once the source's
    * retention drops them — pin the cloned version with a [[tag]] on
    * the source (ref-retention) for a durable clone.
    */
  def shallowClone(spark: SparkSession,
      targetPath: String): ManifestTableStore = {
    require(isMain, "clone from the main ref")
    val f = fs(spark)
    val snap = current(f)
    require(!snap.isEmpty,
      s"nothing to clone under $path (version ${snap.version})")
    // delete entries are classified by a path prefix the clone does not
    // share — a clone would misread them as data dirs. Fold first.
    snap.requireNoDeletes("shallowClone")
    val clone = new ManifestTableStore(targetPath, partitionBy,
      statsColumns, bloomColumns, bloomBits, morDeleteKey)
    val empty = clone.current(f)
    require(empty.version == 0L, s"target $targetPath already holds a table")
    clone.commit(f, empty, Nil)(_ => snap.entries,
      clone.Rebase.replace("SHALLOW CLONE"))
    clone
  }

  // ---- Writer id namespaces (Delta's transactional writer) -----------

  /** Claim (or look up) `writerId`'s batch-id namespace: slot n ↦ base
    * n·2^40, allocated once per name through atomic create-if-absent
    * slot files under writers/ (slot-k's single file holds the claiming
    * writer's name, so allocation serializes on the same primitive as
    * manifest commits and two names can never share a slot). Slot 0 is
    * the implicit space of direct `append` callers; 2^40 batches per
    * writer and 2^22 writers fit the positive Long range. With this,
    * [[StreamRunner]]'s per-query micro-batch ids (restarting at 0 per
    * checkpoint) stay exactly-once per QUERY instead of colliding
    * across queries into one flat space — the multi-source deployment
    * shape of the reference (two sources, one silver table) would
    * otherwise replay-drop every source after the first.
    */
  override def writerBase(spark: SparkSession, writerId: String): Long = {
    require(writerId.nonEmpty && writerId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"writer id must be [A-Za-z0-9._-]+, got '$writerId'")
    val f = fs(spark)
    val dir = new HPath(s"$path/writers")
    def readName(p: HPath): String = {
      val st = f.getFileStatus(p)
      val in = f.open(p)
      try {
        val buf = new Array[Byte](st.getLen.toInt)
        in.readFully(buf); new String(buf, "UTF-8")
      } finally in.close()
    }
    // Resolution takes the MINIMUM matching slot, not listStatus order:
    // a double-claim is possible (two processes of one writerId race,
    // the loser's find() ran before the winner's publish, so it
    // publishes a SECOND slot for the same name), and listing order is
    // not guaranteed across filesystems — first-match resolution could
    // hand the same writer different bases across restarts, silently
    // breaking the replay-refusal namespace. The min slot is stable
    // under any later claims; a duplicate slot only wastes an id range.
    def find(): Option[Long] =
      if (!f.exists(dir)) None
      else {
        val mine = f.listStatus(dir).toSeq.collect {
          case st if st.getPath.getName.startsWith("slot-") &&
              readName(st.getPath) == writerId =>
            st.getPath.getName.stripPrefix("slot-").toLong
        }
        if (mine.isEmpty) None else Some(mine.min)
      }
    var slot = find()
    while (slot.isEmpty) {
      val n = (if (f.exists(dir)) f.listStatus(dir)
        .count(_.getPath.getName.startsWith("slot-")) else 0) + 1
      AtomicCreate.publish(f, new HPath(dir, s"slot-$n"),
        writerId.getBytes("UTF-8"))
      slot = find() // lost races re-list and retry at a higher slot
    }
    slot.get << 40
  }

  // ---- Branches (Iceberg writable refs) ------------------------------
  // WAP stages ONE batch; a branch stages a WHOLE PIPELINE RUN — any
  // number of appends, DML rewrites, compactions — invisible to main
  // readers until one atomic fast-forward publishes the lot (Iceberg's
  // branch workflow; audit-branch pattern). A branch is simply a second
  // manifest chain under branches/<name>/ seeded from a main version;
  // entries carry absolute data-dir paths, so branch commits share the
  // table's data space and cost exactly what main commits cost — the
  // fast-forward itself is one manifest write, no data moves. Main's
  // [[vacuum]] treats every branch head as referenced (ref-retention),
  // so branch-only data survives cleanup until the branch is dropped.

  private def branchesRoot = new HPath(s"$path/branches")

  /** Create `name` from main `fromVersion` (its chain starts as v1 =
    * that version's entries, the recorded BASE for fast-forward).
    * Refused on a branch handle, for an existing name, or for a
    * missing/incomplete version.
    */
  def createBranch(spark: SparkSession, name: String,
      fromVersion: Long): Unit = {
    require(isMain, "createBranch runs on the main ref")
    tagPath(name) // reuse the name validation
    val f = fs(spark)
    val entries = snapshotAt(f, fromVersion).entries
    val b = branch(name)
    val empty = b.current(f)
    require(empty.version == 0L, s"branch '$name' already exists on $path")
    b.commit(f, empty, Nil)(_ => entries, b.Rebase.replace("CREATE BRANCH"))
  }

  /** A handle committing to branch `name`'s chain: every store
    * operation (append, DML, merge, compact, time travel) works
    * against the branch, invisible to main readers. Reads on a branch
    * that was never created fail like reads on an empty table.
    */
  def branch(name: String): ManifestTableStore = {
    require(isMain, "branch handles come from the main ref")
    tagPath(name)
    new ManifestTableStore(path, partitionBy, statsColumns,
      bloomColumns, bloomBits, morDeleteKey,
      refDir = s"branches/$name")
  }

  /** Branch names, sorted — metadata only. */
  def listBranches(spark: SparkSession): Seq[String] = {
    val f = fs(spark)
    if (!f.exists(branchesRoot)) return Nil
    f.listStatus(branchesRoot).map(_.getPath.getName).sorted.toSeq
  }

  /** FAST-FORWARD main to `name`'s head: one atomic commit of the
    * branch's current entries as main's next version. Requires main to
    * still be LOGICALLY at the branch's recorded base (v1 of the branch
    * chain) — Iceberg's ancestry condition. "Logically" means byte
    * equality OR a pure maintenance transform of it: compaction /
    * clustering / z-order carry every data batch id forward and
    * preserve row content, so a fast-forward over them drops no commit
    * — refusing there (as byte-equality did) would block every publish
    * after routine table maintenance. The check is (a) the DATA
    * batch-id sets match the base, (b) every main entry not in the
    * base is a maintenance-rewrite dir (named by a maintenance [[Kind]]:
    * compact-/cluster-/zorder-), and (c) the manifest-recorded
    * TOTAL ROW COUNTS match (both sides' counts must be recorded;
    * pre-stats manifests refuse conservatively). (c) closes the one
    * content-changing path that passes (a)+(b): a `compact` that FOLDS
    * a merge-on-read delete writes compact- dirs with every id carried
    * but fewer rows — publishing over it would resurrect the deleted
    * rows. Anything else that moved main — an append (new id),
    * row-level DML (delete-/update-/merge-/delfold- dirs), a pending
    * merge-on-read delete entry, an overwrite — refuses, because
    * publishing would silently undo it. (A content-preserving UPDATE
    * that sets columns to identical values is indistinguishable from a
    * no-op and still refuses via (b) — conservative.) Batch ids travel
    * with the entries, so replay refusal and CDF attribution survive
    * the publish. The branch chain is left intact (drop it
    * separately).
    */
  def fastForward(spark: SparkSession, name: String): Unit =
    synchronized {
      require(isMain, "fastForward runs on the main ref")
      val f = fs(spark)
      val b = branch(name)
      val base = b.manifestAt(f, 1L).getOrElse(
        throw new IllegalArgumentException(s"unknown branch '$name' on $path"))
      val head = b.current(f)
      require(head.version >= 1L, s"branch '$name' on $path has no commits")
      val baseDataIds = base.filterNot(isDeleteEntry).map(_.batchId).toSet
      val baseDirs = base.map(_.dir).toSet
      def totalCount(es: Seq[Entry]): Option[Long] = {
        val data = es.filterNot(isDeleteEntry)
        ManifestTableStore.countOf(data).filter(_ => data.nonEmpty)
      }
      val baseCount = totalCount(base)
      // the ancestry check, re-run on the winner of every lost race
      def guard(main: Snapshot): Boolean = {
        val mLines = main.entries
        val mDataIds = mLines.filterNot(isDeleteEntry)
          .map(_.batchId).toSet
        val byteEqual = mLines.toSet == base.toSet
        val mCount = totalCount(mLines)
        val maintenanceOnly = byteEqual || (mDataIds == baseDataIds &&
          mLines.filterNot(e => baseDirs.contains(e.dir)).forall { e =>
            !isDeleteEntry(e) && {
              val seg = e.dir.split("/data/").last.split('/').head
              Kind.maintenancePrefixes.exists(seg.startsWith)
            }
          } &&
          baseCount.isDefined && mCount.isDefined && baseCount == mCount)
        require(maintenanceOnly,
          s"cannot fast-forward '$name': main advanced past the " +
            "branch point (a non-maintenance commit landed) — " +
            "recreate the branch from the new head")
        true
      }
      val main = current(f)
      guard(main)
      commit(f, main, Nil)(_ => head.entries, Rebase.append(guard(_)))
    }

  /** Drop a branch chain; data dirs only it referenced become vacuum
    * fodder.
    */
  def dropBranch(spark: SparkSession, name: String): Unit = {
    require(isMain, "dropBranch runs on the main ref")
    require(fs(spark).delete(new HPath(branchesRoot, name), true),
      s"unknown branch '$name' on $path")
  }

  /** METADATA-ONLY restore (Delta `RESTORE TABLE ... TO VERSION AS OF` /
    * Iceberg rollback): commit a NEW version whose entry list is exactly
    * `version`'s. No data moves and nothing is rewritten — superseded
    * dirs are re-referenced (they persist until [[vacuum]] retention
    * drops them, which is what makes rollback O(manifest) at any table
    * size). The restore is itself one more history row, and the
    * pre-restore state stays readable AS OF its version — undo without
    * destroying the audit trail. Refuses a version whose data dirs were
    * already vacuumed (the same limit Delta documents).
    */
  def restore(spark: SparkSession, version: Long): Unit = synchronized {
    val f = fs(spark)
    // vacuum prunes manifest files below the retention horizon as well
    // as data dirs: either one gone refuses the restore
    val target = snapshotAt(f, version).entries
    target.map(_.dir).distinct.foreach { d =>
      require(f.exists(new HPath(d)),
        s"cannot restore $path to version $version: data dir $d was vacuumed")
    }
    commit(f, current(f), Nil)(_ => target, Rebase.append(_ => true))
  }

  /** Rows ADDED between two manifest versions — change-data-feed lite
    * (Delta CDF's insert stream / Iceberg's incremental read): the
    * batches whose ids appear in `toVersion` but not `fromVersion`
    * (`fromVersion = 0` = since table creation). Because maintenance
    * rewrites (compact / cluster / DML) carry batch ids forward, a pure
    * rewrite step reports NO changes — additions are attributed to the
    * version that first committed their batch id, which is exactly what
    * an incremental downstream consumer wants: process each batch once,
    * regardless of how the table is later reorganized. Scans only the
    * dirs that hold new batch ids (post-compaction dirs may mix old and
    * new batches — the batch_id filter re-separates them).
    */
  def readChanges(spark: SparkSession, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val f = fs(spark)
    // CDF here is the INSERT stream only: the delete files are not
    // applied. Zero-row schema markers (add/drop/rename/widen) are
    // structure, never data: a metadata-only evolution commit
    // contributes NO new batch ids — otherwise its marker dir (schema:
    // batch_id only) masquerades as an insert batch and the "new rows"
    // come out with the data columns missing. The FULL entry set still
    // drives the projection (the feed speaks the end schema), and the
    // scan takes the pure marker dirs along with zero rows.
    val fromIds =
      if (fromVersion == 0L) Set.empty[Long]
      else snapshotAt(f, fromVersion).data.map(_.batchId).toSet
    val to = snapshotAt(f, toVersion)
    val newIds = to.data.map(_.batchId).toSet -- fromIds
    if (newIds.isEmpty) // zero rows, but in the END version's schema
      return to.dropped(to.project(to.scan(spark))).filter(lit(false))
    val dirs = to.data.filter(e => newIds.contains(e.batchId)).map(_.dir)
    to.dropped(to.project(to.scan(spark, dirs)
      .filter(TableStore.batchIdIn(newIds))))
  }

  /** FULL change-data-feed between two versions — Delta CDF shaped:
    * every row carries `_change_type` (`insert` / `delete`), and unlike
    * [[readChanges]] (the insert stream) this also emits RETIREMENTS,
    * which is the actual point of CDC — a downstream sync that only
    * sees inserts silently keeps rows the upstream deleted. An update
    * travels as its delete(preimage) + insert(postimage) pair.
    *
    * Attribution rules (spec'd in StoreCdfSpec):
    *   - a new APPEND/MERGE batch id → its rows as `insert`;
    *   - a pure maintenance rewrite (compact / cluster / z-order)
    *     carries batch ids and row content → EMPTY feed;
    *   - a CoW DELETE → the removed rows as `delete`;
    *   - a merge-on-read DELETE (equality-delete entry) → the masked
    *     rows as `delete` (reconstructed from the from-version's
    *     visible state — the store has everything needed because
    *     delete entries are sequence-scoped manifest rows);
    *   - a CoW UPDATE / general merge SET → `delete` + `insert` pair.
    *
    * Scale shape: the diff is computed ONLY over the batch ids whose
    * representation or visibility changed between the versions — dirs
    * added/removed by the window's commits plus the scopes of its
    * delete entries — via two scoped scans and one exceptAll
    * (hash-based multiset difference); a window with one side empty
    * (pure appends) is a single scan, no diff. Untouched dirs are
    * never read, so cost is proportional to the window's rewritten
    * data, which is what ANY read-time CDF reconstruction costs
    * (Delta avoids it by writing CDC files at commit time; the
    * manifest analogue records nothing extra and pays at read).
    */
  def readChangeFeed(spark: SparkSession, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val (from, to) = feedEnds(fs(spark), fromVersion, toVersion)
    require(!from.isEmpty || !to.isEmpty,
      s"no data in either version $fromVersion or $toVersion of $path")
    val affected = changedIds(from, to)
    val end = if (to.isEmpty) from else to
    // the visible state of one version, restricted to the affected ids
    // (post-compaction dirs can mix ids — the row filter re-separates).
    // Both sides serve the END version's rename AND widen chain (Delta's
    // CDF rule: the feed speaks the end schema) — a metadata-only rename
    // or widen between the versions then diffs to ZERO change rows
    def scoped(side: Snapshot): Option[DataFrame] = {
      val dirs = side.data.filter(e => affected.contains(e.batchId))
        .map(_.dir).distinct
      if (dirs.isEmpty) None
      else Some(end.project(side.masked(spark, side.scan(spark, dirs)))
        .filter(TableStore.batchIdIn(affected)))
    }
    val oldS = scoped(from)
    val newS = scoped(to)
    // nothing changed between the versions (e.g. fromVersion ==
    // toVersion, or only metadata markers moved): an EMPTY feed in the
    // end-version's schema, not a NoSuchElementException from the
    // alignment fallback below
    if (oldS.isEmpty && newS.isEmpty)
      return end.read(spark)
        .filter(lit(false)).withColumn("_change_type", lit("insert"))
    // align schemas across evolution (columns added between versions)
    // the feed serves the END version's schema (Delta's CDF rule):
    // columns its drop markers retired are projected off both sides
    val toDrops = to.drops.map(_.toLowerCase).toSet
    val allFields = (oldS.toSeq ++ newS.toSeq).flatMap(_.schema.fields)
      .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
        (acc, fld) =>
          if (acc.exists(_.name == fld.name)) acc else acc :+ fld
      }.filterNot(f => toDrops.contains(f.name.toLowerCase))
    def aligned(dfo: Option[DataFrame]): DataFrame = {
      val base = dfo.getOrElse(
        (oldS.orElse(newS)).get.filter(lit(false)))
      base.select(allFields.map(fld =>
        if (base.columns.contains(fld.name)) col(fld.name)
        else lit(null).cast(fld.dataType).as(fld.name)): _*)
    }
    val o = aligned(oldS)
    val n = aligned(newS)
    // a multiset difference against nothing is the other side itself:
    // a pure-append window (no old side) serves its rows as inserts
    // without the diff's shuffle
    if (oldS.isEmpty) n.withColumn("_change_type", lit("insert"))
    else if (newS.isEmpty) o.withColumn("_change_type", lit("delete"))
    else n.exceptAll(o).withColumn("_change_type", lit("insert"))
      .unionByName(
        o.exceptAll(n).withColumn("_change_type", lit("delete")))
  }

  /** The rows a [[readChangeFeed]] window inserts, from the manifest
    * alone: Some(n) when the window is a pure append — the feed has no
    * old side and no delete entry applies — and every new dir records
    * its row count; None otherwise. Each new dir holds only changed
    * batch ids then (an id's rows live in the dirs its entries name),
    * so the counts are the feed's rows.
    */
  private[engine] def appendedRows(spark: SparkSession, fromVersion: Long,
      toVersion: Long): Option[Long] = {
    val (from, to) = feedEnds(fs(spark), fromVersion, toVersion)
    val affected = changedIds(from, to)
    if (to.deletes.nonEmpty || from.data.exists(e => affected(e.batchId)))
      None
    else ManifestTableStore.countOf(to.data.filter(e => affected(e.batchId)))
  }

  /** A change feed's two end versions; version 0 is the empty table. */
  private def feedEnds(f: FileSystem, fromVersion: Long,
      toVersion: Long): (Snapshot, Snapshot) = {
    def at(v: Long) = if (v == 0L) new Snapshot(0L, Nil) else snapshotAt(f, v)
    (at(fromVersion), at(toVersion))
  }

  /** The batch ids whose rows a change feed from `from` to `to` diffs:
    * those of dirs present on exactly one side, plus the scopes of
    * delete entries present on exactly one side (an unscoped legacy
    * delete entry masks everything → all ids conservatively). Zero-row
    * schema markers (add/drop/rename/widen) are structure, never data:
    * a metadata-only evolution commit must not mark its reserved batch
    * id — its marker dir (schema: batch_id only) would masquerade as
    * changed rows' home and the empty feed would lose the data columns.
    */
  private def changedIds(from: Snapshot, to: Snapshot): Set[Long] = {
    val (fromDel, fromData) = (from.deletes, from.data)
    val (toDel, toData) = (to.deletes, to.data)
    val fromDirs = fromData.map(_.dir).toSet
    val toDirs = toData.map(_.dir).toSet
    val delDiff = (toDel.toSet -- fromDel.toSet) ++
      (fromDel.toSet -- toDel.toSet)
    if (delDiff.exists(e =>
        ManifestTableStore.parseApplies(e.statsJson).isEmpty))
      (fromData ++ toData).map(_.batchId).toSet
    else fromData.filterNot(e => toDirs(e.dir)).map(_.batchId).toSet ++
      toData.filterNot(e => fromDirs(e.dir)).map(_.batchId).toSet ++
      delDiff.toSeq.flatMap(e =>
        ManifestTableStore.parseApplies(e.statsJson).get)
  }

  /** Delete data dirs referenced by NO manifest version up to and
    * including `retainLast` versions back from current, plus all
    * superseded manifest versions older than that horizon. Keeping a
    * horizon > 0 protects in-flight readers of recent versions; 0
    * retains only the current version's dirs. Returns deleted paths.
    *
    * `minAgeMs` is the modification-time retention horizon (Delta-style):
    * an append writes its data dir BEFORE committing the manifest, so an
    * unreferenced-but-recent dir may be an IN-FLIGHT writer's batch —
    * deleting it would lose the batch while its commit succeeds. Only
    * dirs untouched for at least `minAgeMs` are eligible; a writer whose
    * data write outlives the horizon should use a larger one (the same
    * contract as `delta.deletedFileRetentionDuration`).
    *
    * `dryRun` (Delta's `VACUUM ... DRY RUN`): report exactly what a
    * real run would delete — data dirs and delete files — touching
    * nothing; superseded manifests are likewise left in place.
    */
  def vacuum(spark: SparkSession, retainLast: Int = 1,
      minAgeMs: Long = 600000L, dryRun: Boolean = false): Seq[String] =
    synchronized {
      val f = fs(spark)
      val v = current(f).version
      if (v == 0) return Nil
      require(isMain,
        "vacuum runs on the main ref (branch heads are retained from " +
          "there; dropBranch releases a branch's data)")
      // CLONE-AWARE GUARD: a shallow clone's manifest references THIS
      // table's data dirs — a source vacuum that deletes them breaks
      // the clone silently. Each clone_refs/ entry is checked against
      // the clone's CURRENT manifest: severed (compact moved all dirs
      // under the clone's root) or dropped refs self-heal away; a LIVE
      // dependency refuses the vacuum unless the operator explicitly
      // overrides. DRY RUN stays read-only: it neither refuses nor
      // self-heals. Metadata-bounded: one manifest read per ref.
      val refsDir = new HPath(s"$path/clone_refs")
      val ignoreClones = spark.conf
        .getOption(ManifestTableStore.VacuumIgnoreClonesConf)
        .exists(_.toBoolean)
      if (!dryRun && !ignoreClones && f.exists(refsDir)) {
        val myRoot = new HPath(path).toUri.getPath + "/"
        f.listStatus(refsDir).filter(_.isFile).foreach { st =>
          val in = f.open(st.getPath)
          val clonePath =
            try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString.trim
            finally in.close()
          val cp = new HPath(clonePath)
          val live =
            try {
              val cfs = cp.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              // EVERY surviving clone version counts, not just the
              // current one: a compacted ("severed") clone's older
              // versions, tags, and branch heads still serve source
              // dirs until the CLONE's own vacuum retires them — time
              // travel there would break if this vacuum proceeded
              cfs.exists(cp) && new ManifestTableStore(clonePath)
                .referencesDirsUnder(cfs, myRoot)
            } catch {
              case scala.util.control.NonFatal(_) => true
              // unreachable clone root: FAIL SAFE — treat as live and
              // refuse (the override conf is the escape hatch)
            }
          if (!live) f.delete(st.getPath, false) // self-heal
          else throw new IllegalStateException(
            s"VACUUM on $path refused: shallow clone at $clonePath " +
              "still serves this table's data dirs (its current " +
              "state, an older version, a tag, or a branch) — sever " +
              "it fully first (compact() on the clone, THEN vacuum " +
              "the clone so its older source-serving versions " +
              "retire), drop it, or set " +
              s"${ManifestTableStore.VacuumIgnoreClonesConf}=true to " +
              "accept breaking the clone (Delta's documented caveat " +
              "behavior)")
        }
      }
      val cutoff = System.currentTimeMillis() - minAgeMs
      // tagged versions are retention-exempt (Iceberg ref-retention):
      // their manifests and dirs survive until the tag is dropped
      val tagged = listTags(spark).map(_._2).toSet
      val horizon = math.max(1L, v - retainLast)
      val keepVersions = ((horizon to v) ++ tagged).distinct
      // every branch HEAD is referenced (ref-retention): branch-only
      // dirs survive until dropBranch; branch time travel BEHIND a
      // head shares main's retention like any superseded version
      val branchEntries = listBranches(spark)
        .flatMap(n => branch(n).current(f).entries)
      // the deletable unit is the dir DIRECTLY under data/ (clustered
      // compaction nests __cluster=k dirs one level deeper); top-level
      // names are unique (uuid-suffixed), so retention compares the
      // first segment after "/data/" — robust to qualified-URI vs
      // raw-path forms
      // versions inside the keep window that an EARLIER, more
      // aggressive vacuum already deleted simply contribute nothing —
      // a retention horizon must never crash on its own history
      val kept = keepVersions.flatMap(manifestAt(f, _)).flatten
      val referenced = (kept ++ branchEntries.filterNot(isDeleteEntry))
        .map(_.dir.split("/data/").last.split('/').head).toSet
      val dataRoot = new HPath(s"$path/data")
      val deleted = Seq.newBuilder[String]
      if (f.exists(dataRoot)) f.listStatus(dataRoot).foreach { st =>
        if (!referenced.contains(st.getPath.getName) &&
            st.getModificationTime < cutoff) {
          if (!dryRun) {
            f.delete(st.getPath, true)
            ManifestTableStore.DirSchemas.evictUnder(
              st.getPath.toString)
          }
          deleted += st.getPath.toString
        }
      }
      // equality-delete files retire by the same retention rule: once no
      // retained version references one (compact folded it in), it is
      // garbage like any superseded data dir
      val referencedDel = (kept ++ branchEntries).filter(isDeleteEntry)
        .map(_.dir.split("/deletes/").last.split('/').head).toSet
      val delRoot = new HPath(s"$path/deletes")
      if (f.exists(delRoot)) f.listStatus(delRoot).foreach { st =>
        if (!referencedDel.contains(st.getPath.getName) &&
            st.getModificationTime < cutoff) {
          if (!dryRun) {
            f.delete(st.getPath, true)
            ManifestTableStore.DirSchemas.evictUnder(
              st.getPath.toString)
          }
          deleted += st.getPath.toString
        }
      }
      if (!dryRun) f.listStatus(manifestDir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.drop(1).toLong < horizon &&
            !tagged.contains(n.drop(1).toLong))
          f.delete(st.getPath, false)
      }
      deleted.result()
    }

  /** Exactly the current version's data dirs, unioned by name with
    * missing-column padding (governed evolution across batches). The
    * dirs that share a schema are read as ONE file scan over all of
    * them ([[readDirs]]), so the plan holds one scan per schema
    * version however many commits the table has; partitioned dirs
    * carry an explicit partition spec, and predicate and partition
    * pruning push into every scan. Many tiny batch dirs still mean
    * many small files per scan; that is the pressure [[compact]]
    * relieves.
    */
  override def read(spark: SparkSession): DataFrame = {
    val snap = current(fs(spark))
    require(!snap.isEmpty, s"no committed batches under $path")
    snap.read(spark)
  }

  // ---- Merge-on-read equality deletes (Iceberg v2 delete files) ------
  // A DELETE that rewrites data dirs (copy-on-write, [[delete]]) costs
  // O(touched dirs); at 100 TB a daily GDPR-style key purge cannot
  // afford that. Merge-on-read inverts the cost: the delete commits ONE
  // small file of matching keys under deletes/, every reader anti-joins
  // it (broadcast — delete files are small by design), and [[compact]]
  // later folds the deletes into a clean rewrite. Delete files are
  // manifest entries like any other (versioned, time-travelable,
  // restorable, vacuumable); the key column's name travels as the
  // delete file's single-column schema, exactly Iceberg's equality-
  // delete contract.

  // Table-relative PREFIX, not a substring: a table rooted under a path
  // that itself contains "/deletes/" must not classify its data dirs as
  // delete files. Entries are always committed with this instance's
  // `path` verbatim, so the prefix comparison is exact.
  private def isDeleteEntry(e: Entry): Boolean =
    e.dir.startsWith(s"$path/deletes/")

  /** Any zero-row schema marker: structural, never data — the set
    * rewrite scopes, key joins, and CDF batch attribution must exclude.
    * EVERY entry committed under [[ManifestTableStore.SchemaBatchId]]
    * is such a marker: drop/rename/widen (payload-keyed), ADD COLUMNS,
    * and [[createEmpty]]'s declared-schema anchor — the last two carry
    * no payload key, so matching on the batch id (rather than the
    * payload parses) is what keeps a metadata-only ADD COLUMNS commit
    * from masquerading as an insert batch in [[readChanges]] (its
    * marker dir holds only the new columns + batch_id; attributing it
    * as "new rows" would serve a feed with every pre-existing data
    * column missing). The schema PROJECTION is unaffected: the read
    * path unions all dirs unfiltered.
    */
  private def isSchemaMarker(e: Entry): Boolean =
    e.batchId == ManifestTableStore.SchemaBatchId

  /** One immutable manifest state — a version and its entries — and the
    * ONE derivation of the logical table from its dirs, in layered steps;
    * a caller that needs less than the full [[read]] stops at the step
    * it needs:
    *
    *   1. [[scan]] — the chosen dirs plus every PURE schema-marker dir,
    *      one file scan per schema version, unioned by name in commit
    *      order;
    *   2. [[masked]] — the scoped merge-on-read deletes anti-joined;
    *   3. [[project]] — renames, then widens;
    *   4. [[dropped]] — drop markers' columns removed.
    */
  private final class Snapshot(val version: Long, val entries: Seq[Entry]) {
    def isEmpty: Boolean = entries.isEmpty
    def has(batchId: Long): Boolean = entries.exists(_.batchId == batchId)
    def deletes: Seq[Entry] = entries.filter(isDeleteEntry)
    /** Data entries proper: no delete files, no schema markers. */
    def data: Seq[Entry] =
      entries.filterNot(e => isDeleteEntry(e) || isSchemaMarker(e))
    def dataDirs: Seq[String] = data.map(_.dir).distinct

    /** Rewrite ops and row-level DML assume entries are data dirs; with
      * pending delete files their rewrite scope would be wrong. The
      * contract (as in Iceberg) is: fold deletes in first.
      */
    def requireNoDeletes(op: String): Unit =
      require(deletes.isEmpty,
        s"$op with pending merge-on-read delete files: run " +
          "compactDeletes() (targeted) or compact() (whole-table) " +
          "first to fold them into data")

    /** The column names the drop markers retire. */
    def drops: Seq[String] =
      entries.flatMap(e => ManifestTableStore.parseDropCol(e.statsJson))
        .distinct

    /** (from, to) renames IN COMMIT ORDER — chained renames (a→b then
      * b→c) must fold in sequence.
      */
    def renames: Seq[(String, String)] =
      entries.flatMap(e => ManifestTableStore.parseRenameCol(e.statsJson))

    /** Names old data files may still physically hold although the
      * current schema no longer shows them: dropped columns and the
      * SOURCE side of every rename. Without field-id column mapping
      * (Iceberg's mechanism), re-introducing such a name would resurrect
      * the old values through the union-by-name read — refused until a
      * [[compact]] materializes the schema physically.
      */
    def retired: Seq[String] = (drops ++ renames.map(_._1)).distinct

    /** Effective (column, widened type) pairs — each widen marker's
      * recorded name projected through every rename committed AFTER it
      * (the cast must land on the column's CURRENT name), then
      * deduplicated keeping the LAST widen per column: a widening chain
      * guarantees the final type contains every earlier one, and casting
      * through an intermediate type would narrow data already written
      * wide.
      */
    def widens: Seq[(String, org.apache.spark.sql.types.DataType)] = {
      val acc = scala.collection.mutable.ArrayBuffer
        .empty[(String, org.apache.spark.sql.types.DataType)]
      entries.foreach { e =>
        ManifestTableStore.parseWidenCol(e.statsJson).foreach(acc += _)
        ManifestTableStore.parseRenameCol(e.statsJson).foreach {
          case (from, to) => acc.indices.foreach { i =>
            if (acc(i)._1.equalsIgnoreCase(from)) acc(i) = (to, acc(i)._2)
          }
        }
      }
      acc.zipWithIndex.filter { case ((c, _), i) =>
        !acc.drop(i + 1).exists(_._1.equalsIgnoreCase(c))
      }.map(_._1).toSeq
    }

    /** Step 1: `dirs` plus the pure (zero-row) schema-marker dirs, in
      * commit order. Markers join the scan but never the pruning or
      * attribution: an ADD COLUMNS marker is the only physical holder of
      * a column no data dir carries yet, and every read must serve the
      * full snapshot schema. Zero rows — its columns join, no scan
      * does. Only PURE marker dirs: after a compact, marker entries
      * point at the shared materialized data dir, and adding it would
      * defeat the pruning.
      */
    def scan(spark: SparkSession, dirs: Seq[String] = dataDirs)
        : DataFrame = {
      val dataSet = data.map(_.dir).toSet
      val markers = entries.filter(isSchemaMarker).map(_.dir)
        .filterNot(dataSet).toSet
      val want = dirs.toSet ++ markers
      readDirs(spark,
        entries.filterNot(isDeleteEntry).map(_.dir).distinct.filter(want),
        markers)
    }

    /** Step 2: the equality deletes anti-joined (broadcast — delete
      * files are small by design). Each delete entry is SCOPED to the
      * data batch ids present when it committed (Iceberg's
      * equality-delete sequence-number contract): rows appended AFTER
      * the delete are never masked, so a later compact that folds the
      * delete in cannot resurrect them. An entry without a scope
      * (foreign manifest) masks everything — the conservative legacy
      * reading.
      */
    def masked(spark: SparkSession, base: DataFrame): DataFrame =
      deletes.distinctBy(_.dir).foldLeft(base) { (df, d) =>
        val keys = ManifestTableStore.DirSchemas.read(spark, d.dir)
        val kc = keys.schema.fields.head.name
        val cond = ManifestTableStore.parseApplies(d.statsJson) match {
          case Some(ids) =>
            df(kc) === keys(kc) &&
              TableStore.batchIdIn(ids, df("batch_id"))
          case None => df(kc) === keys(kc)
        }
        df.join(broadcast(keys), cond, "left_anti")
      }

    /** Step 3: the rename markers, then the widen markers, projected onto
      * a raw (physical-name) frame.
      *
      * Renames are metadata-only, so physical files on BOTH sides of a
      * rename coexist: dirs written before the marker hold the old name,
      * dirs after hold the new one, and the union-by-name read pads each
      * side's missing column with null — each row carries its value
      * under exactly one of the two names, so `coalesce(new, old)` is
      * the row's value and the old column projects away. Widens cast
      * each widened column to its declared type: old dirs stay narrow,
      * post-widen dirs are wide (the union already coerced them to the
      * widest PRESENT type), and the cast pins the DECLARED type even
      * when no wide file exists yet. DML rewrites materialize both
      * incrementally; once maintenance has, both folds are no-ops.
      */
    def project(df: DataFrame): DataFrame = {
      val renamed = renames.foldLeft(df) { case (d, (from, to)) =>
        val fromC = d.columns.find(_.equalsIgnoreCase(from))
        val toC = d.columns.find(_.equalsIgnoreCase(to))
        (fromC, toC) match {
          case (None, _) => d // fully materialized already
          case (Some(fc), None) => d.withColumnRenamed(fc, to)
          case (Some(fc), Some(tc)) =>
            d.withColumn(tc, coalesce(col(tc), col(fc))).drop(fc)
        }
      }
      widens.foldLeft(renamed) { case (d, (name, t)) =>
        d.columns.find(_.equalsIgnoreCase(name)) match {
          case Some(c) if d.schema(c).dataType != t =>
            d.withColumn(c, col(c).cast(t))
          case _ => d
        }
      }
    }

    /** Step 4: the dropped columns projected away. */
    def dropped(df: DataFrame): DataFrame = drops.foldLeft(df)(_.drop(_))

    /** The logical table over `dirs`: all four steps. */
    def read(spark: SparkSession, dirs: Seq[String] = dataDirs)
        : DataFrame =
      dropped(project(masked(spark, scan(spark, dirs))))
  }

  /** MERGE-ON-READ delete: commit the predicate's matching `keyCol`
    * values as an equality-delete file — no data dir is opened for
    * write, no row is rewritten. Repeated deletes compose (keys are
    * computed against the current merge-on-read state). A no-match
    * delete commits nothing. The delete entry records the data batch
    * ids it applies to, and on a lost commit race the key set is
    * RECOMPUTED against the winner's state — rows committed between
    * snapshot and commit cannot escape the predicate (serializable,
    * not write-skew: single-step version files mean a successful
    * publish proves nothing changed since the snapshot read): a lost
    * attempt publishes nothing and the op re-runs.
    */
  def deleteMoR(spark: SparkSession, predicateSql: String,
      keyCol: String): Unit = synchronized {
    val f = fs(spark)
    var done = false
    while (!done) {
      val snap = current(f)
      if (snap.isEmpty) return
      val keys = snap.read(spark)
        .filter(expr(predicateSql)).select(keyCol).distinct()
      val delDir = s"$path/deletes/del-${java.util.UUID.randomUUID()}"
      keys.write.mode("overwrite").parquet(delDir)
      if (ManifestTableStore.DirSchemas.read(spark, delDir).isEmpty) {
        f.delete(new HPath(delDir), true); return
      }
      val applies = snap.entries.filterNot(isDeleteEntry)
        .map(_.batchId).distinct.sorted
      val entry = Entry(ManifestTableStore.DeleteBatchId, delDir,
        applies.mkString("{\"" + ManifestTableStore.AppliesKey +
          "\":[", ",", "]}"))
      done = commit(f, snap, Seq(delDir))(_ :+ entry,
        Rebase.append(_ => false))
    }
  }

  /** Fold pending merge-on-read delete files into data — TARGETED
    * (Iceberg's rewrite-delete-files maintenance at equality-delete
    * granularity): only data dirs a delete can actually touch are
    * rewritten — the dir must hold a batch id inside the delete's
    * sequence scope AND its recorded key-range stats must admit one of
    * the delete's keys (the same pruning a keyed merge uses; no-stats
    * dirs conservatively touched). Everything else carries forward
    * byte-identical and the delete entries drop out, in ONE commit.
    * Where [[compact]] answers "fold the deletes" by rewriting the
    * WHOLE table, this costs O(dirs the purge touched) — at 100 TB the
    * difference between folding a key purge and rewriting petabytes.
    *
    * Folded dirs are named `delfold-`, NOT a maintenance prefix:
    * folding materializes a deletion, so a branch fast-forward over it
    * must refuse (the fold is content-neutral only relative to the
    * post-delete state). Commits under the DML policy
    * ([[Rebase.dml]]): concurrent appends rebase around it (scoped
    * deletes never mask them), a competing maintenance rewrite makes
    * it throw. Returns whether it published.
    */
  def compactDeletes(spark: SparkSession): Boolean = synchronized {
    val f = fs(spark)
    val snap = current(f)
    if (snap.deletes.isEmpty) return false
    val touched = snap.deletes.distinctBy(_.dir).flatMap { d =>
      val keys = ManifestTableStore.DirSchemas.read(spark, d.dir)
      val kc = keys.schema.fields.head.name
      val candidates = ManifestTableStore.parseApplies(d.statsJson) match {
        case Some(ids) => snap.data.filter(e => ids.contains(e.batchId))
        case None => snap.data
      }
      mergeTouchedDirs(keys, Seq(kc), candidates)
    }.distinct
    rewriteCommit(f, snap, Kind.DelFold)(touched.map(d => Output(Set(d),
      snap.masked(spark, ManifestTableStore.DirSchemas.read(spark, d)))))
  }

  /** ONE-CALL maintenance (the scheduled OPTIMIZE habit): fold any
    * pending merge-on-read delete files (targeted, [[compactDeletes]])
    * then merge data dirs below `smallBytes` ([[compactSmall]]).
    * Returns the actions that actually published — both steps no-op on
    * a clean table, so a cron-driven `maintain()` costs two manifest
    * reads at steady state. Deliberately NOT clustering/z-ordering:
    * layout choices depend on the query workload and stay explicit.
    */
  def maintain(spark: SparkSession,
      smallBytes: Long = 32L << 20,
      predicateSql: Option[String] = None): Seq[String] =
    Seq("compactDeletes" -> compactDeletes(spark),
      predicateSql.fold("compactSmall")(p => s"compactSmall(where $p)") ->
        compactSmall(spark, smallBytes, predicateSql))
      .collect { case (action, true) => action }

  /** `dirs`, in commit order, as one frame: ONE file scan per schema
    * version ([[ManifestTableStore.DirSchemas.scan]]), the versions
    * unioned by name with missing-column padding in first-commit order.
    * Column order and type widening are those of a union of the dirs
    * one by one: a version's later dirs add no column and no type its
    * first dir has not. `schemaOnly` dirs (zero-row schema markers)
    * contribute their columns and no scan.
    */
  private def readDirs(spark: SparkSession, dirs: Seq[String],
      schemaOnly: Set[String] = Set.empty): DataFrame = {
    val versions = scala.collection.mutable.LinkedHashMap.empty[
      (org.apache.spark.sql.types.StructType, Boolean), Vector[String]]
    dirs.zip(ManifestTableStore.DirSchemas.schemas(spark, dirs)).foreach {
      case (d, schema) =>
        val v = (schema, schemaOnly(d))
        versions(v) = versions.getOrElse(v, Vector.empty) :+ d
    }
    versions.toSeq.map { case ((schema, only), ds) =>
      ManifestTableStore.DirSchemas.scan(spark, schema,
        if (only) Nil else ds)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read with manifest-stats data skipping: data dirs whose recorded
    * min/max prove `predicateSql` cannot match are never opened — their
    * files don't even reach the scan's file listing (assert via
    * `inputFiles` in the spec). The predicate is then still applied in
    * full, so results are EXACTLY `read(spark).filter(predicateSql)`;
    * stats only ever remove provably-empty work. Dirs with no stats for
    * a referenced column (all-null, unsupported type, column added later
    * by evolution, or pre-stats manifest lines) are conservatively kept.
    */
  def readWhere(spark: SparkSession, predicateSql: String): DataFrame = {
    // ONE manifest snapshot for both the prune and the delete set — two
    // current() reads could straddle a concurrent commit and pair a new
    // version's data dirs with an old version's delete files
    readWhereOf(spark, current(fs(spark)), predicateSql)
  }

  /** [[readWhere]] against an explicit snapshot — the shared core of the
    * current-state and time-travel pruned-read paths. With no dir kept
    * the whole snapshot is read for its schema (the filter leaves no
    * row).
    */
  private def readWhereOf(spark: SparkSession, snap: Snapshot,
      predicateSql: String): DataFrame = {
    val (kept, _) = pruneEntries(spark, predicateSql, snap.data)
    snap.read(spark, if (kept.isEmpty) snap.dataDirs else kept)
      .filter(expr(predicateSql))
  }

  /** [[readWhere]] of a HISTORICAL version: the same manifest-stats
    * pruning the current-state path has, against the versioned
    * snapshot's own entries — a `versionAsOf` audit of a large
    * historical state keeps data skipping instead of falling back to a
    * full scan. Results are exactly `readVersion(v).filter(pred)`.
    */
  def readVersionWhere(spark: SparkSession, version: Long,
      predicateSql: String): DataFrame =
    readWhereOf(spark, readable(spark, version), predicateSql)

  /** (kept, skipped) data dirs for a predicate — the pruning decision
    * [[readWhere]] acts on, exposed for tests/inspection. Only top-level
    * AND-ed comparisons of a bare column to a literal participate; any
    * other conjunct shape is ignored (conservative).
    */
  private[engine] def pruneDirs(spark: SparkSession,
      predicateSql: String): (Seq[String], Seq[String]) =
    pruneEntries(spark, predicateSql,
      current(fs(spark)).entries.filterNot(isDeleteEntry))

  /** [[pruneDirs]] against an explicit manifest snapshot, so a DML
    * rewrite prunes against exactly the entries it will commit against.
    */
  private def pruneEntries(spark: SparkSession, predicateSql: String,
      lines: Seq[Entry]): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo,
      Expression, GreaterThan, GreaterThanOrEqual, In, LessThan,
      LessThanOrEqual, Literal, Or}

    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def sval(l: Literal): Option[SVal] = l match {
      case _ if l.dataType ==
          org.apache.spark.sql.types.TimestampType ||
          l.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        Some(TsV(l.value.asInstanceOf[Long]))
      case _ => l.value match {
        case s: org.apache.spark.unsafe.types.UTF8String =>
          Some(StrV(s.toString))
        case n @ (_: java.lang.Number |
            _: org.apache.spark.sql.types.Decimal) =>
          Some(NumV(new java.math.BigDecimal(n.toString)))
        case _ => None
      }
    }
    // a same-column OR of equalities is an IN in disguise — normalize it
    // so `k = 1 OR k = 2` prunes like `k IN (1, 2)`; any other OR shape
    // can't prune (conservative)
    def orEqs(e: Expression): Option[(String, Seq[SVal])] = {
      def leaves(x: Expression): Seq[Expression] = x match {
        case Or(l, r) => leaves(l) ++ leaves(r)
        case other => Seq(other)
      }
      val pairs = leaves(e).map {
        case EqualTo(a: UnresolvedAttribute, l: Literal) =>
          sval(l).map((a.name, _))
        case EqualTo(l: Literal, a: UnresolvedAttribute) =>
          sval(l).map((a.name, _))
        case _ => None
      }
      if (pairs.nonEmpty && pairs.forall(_.isDefined)) {
        val ps = pairs.flatten
        if (ps.map(_._1).distinct.size == 1)
          Some((ps.head._1, ps.map(_._2))) else None
      } else None
    }

    // (column, op, values) with reversed literal-first forms normalized;
    // "in" carries the whole list (a dir is disjoint from an IN only if
    // EVERY member is impossible), every other op exactly one value
    val bounds: Seq[(String, String, Seq[SVal])] =
      conjuncts(spark.sessionState.sqlParser.parseExpression(predicateSql))
        .flatMap {
          case o: Or => orEqs(o).map { case (c, vs) => (c, "in", vs) }
          case In(a: UnresolvedAttribute, vs)
              if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
            val svs = vs.map(v => sval(v.asInstanceOf[Literal]))
            // any non-liftable member → the conjunct can't prune
            if (svs.forall(_.isDefined)) Some((a.name, "in", svs.flatten))
            else None
          case EqualTo(a: UnresolvedAttribute, l: Literal) =>
            sval(l).map(v => (a.name, "=", Seq(v)))
          case EqualTo(l: Literal, a: UnresolvedAttribute) =>
            sval(l).map(v => (a.name, "=", Seq(v)))
          case GreaterThan(a: UnresolvedAttribute, l: Literal) =>
            sval(l).map(v => (a.name, ">", Seq(v)))
          case LessThan(l: Literal, a: UnresolvedAttribute) =>
            sval(l).map(v => (a.name, ">", Seq(v)))
          case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
            sval(l).map(v => (a.name, ">=", Seq(v)))
          case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
            sval(l).map(v => (a.name, ">=", Seq(v)))
          case LessThan(a: UnresolvedAttribute, l: Literal) =>
            sval(l).map(v => (a.name, "<", Seq(v)))
          case GreaterThan(l: Literal, a: UnresolvedAttribute) =>
            sval(l).map(v => (a.name, "<", Seq(v)))
          case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) =>
            sval(l).map(v => (a.name, "<=", Seq(v)))
          case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) =>
            sval(l).map(v => (a.name, "<=", Seq(v)))
          case _ => None
        }

    val perDir = lines.map(e => e.dir -> e.statsJson).distinct
    val (kept, skipped) = perDir.partition { case (_, json) =>
      val stats = parseStats(json)
      lazy val blooms = ManifestTableStore.parseBlooms(json)
      !bounds.exists { case (c, op, vs) =>
        // an IN prunes only when EVERY member is impossible for the dir;
        // each member is checked like an equality (range + bloom)
        def impossible(v: SVal): Boolean = {
          val cmpOp = if (op == "in") "=" else op
          stats.get(c).exists { case (mn, mx) =>
            ManifestTableStore.disjoint(cmpOp, v, mn, mx) } ||
            (cmpOp == "=" && blooms.get(c).exists(b =>
              ManifestTableStore.bloomProbe(v, b).exists(s =>
                !b.contains(s))))
        }
        vs.forall(impossible)
      }
    }
    (kept.map(_._1), skipped.map(_._1))
  }
}

object ManifestTableStore {
  /** Session conf overriding the clone-aware vacuum guard: set true to
    * vacuum a clone SOURCE even while an un-severed clone still serves
    * its dirs (accepting Delta's documented break-the-clone caveat).
    */
  val VacuumIgnoreClonesConf = "spark.graft.vacuum.ignoreClones.enabled"

  /** The store's refusal of a version that is missing (never committed,
    * or its manifest vacuumed past the retention horizon) or incomplete
    * (its writer died mid-commit) — an IllegalArgumentException like
    * every other refusal of a bad argument.
    */
  final class VersionUnavailableException(table: String, version: Long)
      extends IllegalArgumentException(s"version $version of $table is " +
        "missing or incomplete (never committed, vacuumed past the " +
        "retention horizon, or its writer died mid-commit)")

  /** How long [[ManifestTableStore]]'s write waits, after the write
    * action returned, for its observed metrics. They arrive through
    * Spark's listener bus (asynchronous), normally within milliseconds.
    */
  private[engine] val ObservationWait =
    scala.concurrent.duration.Duration(120, "seconds")

  /** The reader of committed store dirs: each dir's schema, each dir's
    * leaf-file listing, and one file scan per schema version.
    *
    * Every writer targets a fresh UUID-stamped dir and a dir is written
    * by exactly ONE Spark write, so (a) a committed dir's schema and
    * files never change and (b) all its part files share one schema —
    * schema inference and re-listing per read are pure waste. Without
    * the caches every read re-lists every dir and re-reads a footer per
    * dir; at 100 TB a footer storm per statement is exactly the
    * metadata cost manifest formats exist to avoid (the manifest, not
    * the files, is the schema authority — Iceberg's contract). Writers
    * pre-fill the schema cache, and a hive-partitioned dir also carries
    * its writer schema on disk ([[record]]): inference would re-type its
    * partition columns from dir names, so the record is what makes the
    * reader's schema the writer's in every process. The miss path reads
    * the record, else one footer driver-side (single-write dirs make
    * merge-vs-single-footer equivalent; unpartitioned footers are
    * exact, and partitioned dirs committed before records existed keep
    * inference).
    *
    * A SCHEMA VERSION is a set of dirs sharing one schema; [[scan]]
    * reads it as ONE file scan — one `HadoopFsRelation` over an
    * `InMemoryFileIndex` whose root paths are the version's dirs — so
    * a read's planning, listing and task count follow the table's
    * schema versions, not its commits. Hive-partitioned dirs take a
    * user-specified partition spec built from each dir's own `k=v` leaf
    * dirs and typed by its schema: a multi-root read cannot infer
    * partitions (each root is its own base path, which partition
    * discovery refuses as conflicting), and the spec keeps the writer's
    * types ("007" stays a STRING). Leaf listings are cached like
    * schemas ([[Listings]]), so a read lists only the dirs this process
    * has not seen. Entries for vacuumed dirs are evicted
    * ([[evictUnder]]); UUID names are never reused.
    */
  private[engine] object DirSchemas {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionPath,
      PartitionSpec, PartitioningUtils}
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
      StringType, StructField, StructType}
    private val cache = new java.util.concurrent.ConcurrentHashMap[
      String, StructType]()
    // growth bound for a long-lived driver: entries are (path,
    // schema) pairs — tiny — but a process hosting millions of
    // commits should not grow without limit; a full clear is safe
    // (pure cache) and effectively never hit in a single session.
    // Schemas are inferred under the writing session's parquet
    // configs; every session in this engine shares the
    // parquet-affecting ones (Sessions pins them), which is what
    // makes the process-wide key sound.
    private val MaxEntries = 100000

    /** `dir`'s schema: cached, else recorded, else one footer read. */
    def schema(spark: SparkSession, dir: String): StructType =
      schemas(spark, Seq(dir)).head

    /** [[schema]] of each of `dirs`, with every miss resolved in one
      * pass: recorded schemas are read, and the other dirs' footers —
      * one part file per dir — are read in parallel on the driver by
      * Spark's own footer reader and schema converter, so a cold read
      * of N unpartitioned dirs runs no inference job per dir. A dir
      * holding subdirs (hive-partitioned before records existed), no
      * part file or an unreadable footer keeps Spark's inference.
      */
    def schemas(spark: SparkSession, dirs: Seq[String]): Seq[StructType] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val misses = dirs.distinct.filterNot(cache.containsKey)
      if (misses.nonEmpty) {
        val conf = spark.sparkContext.hadoopConfiguration
        val converter = new ParquetToSparkSchemaConverter(
          spark.sessionState.conf)
        Await.ready(Future.traverse(misses)(d => Future {
          val p = new HPath(d)
          val f = p.getFileSystem(conf)
          AtomicCreate.readString(f, new HPath(p, SchemaFile)) match {
            case Some(json) =>
              put(d, DataType.fromJson(json).asInstanceOf[StructType])
            case None =>
              val visible = f.listStatus(p)
                .filterNot(st => FsCatalog.isHiddenName(st.getPath.getName))
              if (!visible.exists(_.isDirectory))
                visible.sortBy(_.getPath.getName).headOption.foreach { st =>
                  put(d, ParquetFileFormat.readSchemaFromFooter(new Footer(
                    st.getPath, ParquetFooterReader.readFooter(
                      HadoopInputFile.fromStatus(st, conf),
                      ParquetMetadataConverter.SKIP_ROW_GROUPS)), converter))
                }
          }
        }), scala.concurrent.duration.Duration.Inf)
      }
      // a miss left (its read failed, or Spark must infer) fails or
      // infers exactly as a plain parquet read of the dir does
      dirs.map(d => Option(cache.get(d))
        .getOrElse(put(d, spark.read.parquet(d).schema)))
    }

    /** One dir's rows: the one-dir case of [[scan]]. */
    def read(spark: SparkSession, dir: String): DataFrame =
      scan(spark, schema(spark, dir), Seq(dir))

    /** The dirs of ONE schema version, all written with `schema`, as
      * one file scan (one per partition layout, should a version's
      * dirs disagree on theirs). A version with no data files is its
      * columns alone, with no scan. A dir that lists empty must exist:
      * a vacuumed dir fails the read, as a per-dir read did.
      */
    def scan(spark: SparkSession, schema: StructType,
        dirs: Seq[String]): DataFrame = {
      val conf = spark.sparkContext.hadoopConfiguration
      val roots = dirs.map { d =>
        val p = new HPath(d)
        p.getFileSystem(conf).makeQualified(p)
      }
      def index(rs: Seq[HPath], spec: PartitionSpec) =
        new DirIndex(spark, rs, schema, spec)
      val listed = index(roots, PartitionSpec.emptySpec)
      // each leaf dir's root and the `k=v` segments between the two
      val isRoot = roots.toSet
      val leaves = listed.leafDirs.map { leaf =>
        var p = leaf
        var segs = List.empty[String]
        while (p != null && !isRoot(p)) {
          segs = p.getName :: segs
          p = p.getParent
        }
        require(p != null, s"$leaf lies under none of the dirs read")
        (leaf, p, segs)
      }
      val keysOf = leaves.groupBy(_._2).map { case (r, ls) =>
        val layouts = ls.map(_._3.map(_.takeWhile(_ != '='))).distinct
        require(layouts.size == 1,
          s"$r mixes partition layouts ${layouts.mkString(", ")}")
        r -> layouts.head
      }
      roots.filterNot(keysOf.contains).foreach { r =>
        if (!r.getFileSystem(conf).exists(r))
          throw new java.io.FileNotFoundException(
            s"data dir $r does not exist")
      }
      val zone = java.time.ZoneId.of(
        spark.conf.get("spark.sql.session.timeZone"))
      val byLayout = roots.filter(keysOf.contains).groupBy(keysOf)
      val frames = byLayout.toSeq.sortBy(l => roots.indexOf(l._2.head))
        .map { case (keys, rs) =>
          val fields = keys.map(k =>
            schema.find(_.name.equalsIgnoreCase(k))
              .getOrElse(StructField(k, StringType)))
          val inLayout = rs.toSet
          val parts = leaves.collect {
            case (leaf, r, segs) if inLayout(r) =>
              PartitionPath(InternalRow.fromSeq(segs.zip(fields).map {
                case (s, f) => PartitioningUtils.castPartValueToDesiredType(
                  f.dataType, s.drop(s.indexOf('=') + 1), zone)
              }), leaf)
          }
          val spec = PartitionSpec(StructType(fields), parts)
          // partition columns last, as a one-dir hive read orders them
          val data = StructType(schema.filterNot(f =>
            keys.exists(_.equalsIgnoreCase(f.name))))
          org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
            LogicalRelation(HadoopFsRelation(index(rs, spec),
              spec.partitionColumns, data, None, new ParquetFileFormat,
              Map.empty)(spark)))
        }
      if (frames.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else frames.reduce(_.unionByName(_, allowMissingColumns = true))
    }

    /** A file index over committed dirs, listed through [[Listings]]. */
    private final class DirIndex(spark: SparkSession, roots: Seq[HPath],
        schema: StructType, spec: PartitionSpec)
        extends InMemoryFileIndex(spark, roots, Map.empty, Some(schema),
          Listings, Some(spec)) {
      def leafDirs: Seq[HPath] = leafDirToChildrenFiles.keys.toSeq
    }

    /** Pre-fill from the WRITER: the first read of a fresh dir then
      * skips the one-task footer inference job Spark runs per uncached
      * parquet scan — at 100 TB ingest, one job per committed dir.
      */
    def put(dir: String, schema: StructType): StructType = {
      if (cache.size >= MaxEntries) cache.clear()
      val read = readSchema(schema)
      cache.put(dir, read)
      read
    }
    /** [[put]], plus the schema published into `dir` as [[SchemaFile]]
      * for every later process — called before `dir` is committed.
      */
    def record(f: FileSystem, dir: String, schema: StructType): Unit = {
      AtomicCreate.publish(f, new HPath(dir, SchemaFile),
        readSchema(schema).json.getBytes("UTF-8"))
      put(dir, schema)
    }
    private def readSchema(schema: StructType): StructType =
      allNullable(schema).asInstanceOf[StructType]
    // parquet read-back reports every field nullable — the cached
    // writer schema must match what inference would have returned
    private def allNullable(dt: DataType): DataType = {
      dt match {
        case st: StructType => StructType(st.fields.map(f => f.copy(
          dataType = allNullable(f.dataType), nullable = true)))
        case at: ArrayType => at.copy(
          elementType = allNullable(at.elementType), containsNull = true)
        case mt: MapType => mt.copy(
          keyType = allNullable(mt.keyType),
          valueType = allNullable(mt.valueType),
          valueContainsNull = true)
        case other => other
      }
    }

    /** Leaf-file listings of the dirs [[scan]] read, keyed by qualified
      * dir path, shared by every scan in the process (Spark's own
      * shared cache is partitioned per relation, so a fresh scan of a
      * known dir would list it again). Bounded like the schema cache.
      */
    private object Listings extends FileStatusCache {
      private val listings = new java.util.concurrent.ConcurrentHashMap[
        HPath, Array[FileStatus]]()
      override def getLeafFiles(dir: HPath): Option[Array[FileStatus]] =
        Option(listings.get(dir))
      override def putLeafFiles(dir: HPath,
          leafFiles: Array[FileStatus]): Unit = {
        if (listings.size >= MaxEntries) invalidateAll()
        listings.put(dir, leafFiles)
      }
      override def invalidateAll(): Unit = listings.clear()
      def keys: java.util.Set[HPath] = listings.keySet
    }

    /** Whether a listing of `dir` or of a dir under it is cached. */
    private[engine] def listed(dir: String): Boolean =
      Listings.keys.stream.anyMatch(k => under(dir)(k.toUri.getPath))

    /** Drop the schemas and listings of a deleted dir tree
      * (vacuum/abortStaged): the UUID-stamped dirs never come back, so
      * this is pure reclamation.
      */
    def evictUnder(dir: String): Unit = {
      val inTree = under(dir)
      cache.keySet.removeIf(k => inTree(new HPath(k).toUri.getPath))
      Listings.keys.removeIf(k => inTree(k.toUri.getPath))
    }

    // `dir` itself or a path below it, on a path-segment boundary
    private def under(dir: String): String => Boolean = {
      val p = new HPath(dir).toUri.getPath
      kp => kp == p || kp.startsWith(p + "/")
    }
  }

  /** Session conf overriding the data-dir count above which SHOW
    * PARTITIONS / DESCRIBE DETAIL switch to a distributed listing
    * (default 64).
    */
  val DistributedListingThresholdConf =
    "spark.graft.metadata.distributedListingThreshold"

  /** One manifest line: a committed (batchId, dataDir) plus optional
    * per-column min/max stats JSON for the dir ("" = none recorded).
    */
  private[engine] final case class Entry(batchId: Long, dir: String,
      statsJson: String)

  /** One WHEN MATCHED / WHEN NOT MATCHED BY SOURCE clause of a
    * [[ManifestTableStore.mergeClauses]] MERGE — first clause (in
    * declaration order) whose condition holds wins, SQL MERGE
    * semantics. Conditions and SET values are SQL text over the joined
    * row: target columns by bare name, source columns as
    * `__src_<name>`. `set` None = `UPDATE SET *`.
    */
  sealed trait MergeClause { def cond: Option[String] }
  final case class UpdateClause(cond: Option[String],
      set: Option[Seq[(String, String)]]) extends MergeClause
  final case class DeleteClause(cond: Option[String]) extends MergeClause

  /** One WHEN NOT MATCHED THEN INSERT clause: condition and values are
    * SQL text over the bare SOURCE row. `values` None = `INSERT *`
    * (source columns by name); otherwise (targetCol → expr), with
    * unassigned target columns going NULL.
    */
  final case class InsertClause(cond: Option[String],
      values: Option[Seq[(String, String)]])

  /** Last line of every complete manifest version — content without it
    * is an in-flight or dead writer, never table state.
    */
  private[engine] val EndMarker = "#END"

  /** Sidecar carrying a staged dir's write-time stats (underscore
    * prefix: parquet readers ignore it, so audits see only data).
    */
  private[engine] val StagedStatsFile = "_graft_stats.json"

  /** A hive-partitioned dir's writer schema ([[DirSchemas.record]];
    * underscore prefix: parquet listing skips it).
    */
  private[engine] val SchemaFile = "_graft_schema.json"

  private[engine] sealed trait SVal
  private[engine] final case class NumV(v: java.math.BigDecimal) extends SVal
  private[engine] final case class StrV(v: String) extends SVal
  private[engine] final case class TsV(micros: Long) extends SVal

  /** Stats-JSON key holding the per-column bloom nodes. */
  private[engine] val BloomKey = "__bloom__"

  /** Stats-JSON key holding the dir's row count. */
  private[engine] val CountKey = "__n__"

  /** The rows of `entries`' dirs (each dir once) from their recorded
    * counts; None when any dir predates count recording.
    */
  private[engine] def countOf(entries: Seq[Entry]): Option[Long] = {
    val ns = entries.groupBy(_.dir).values.map(es => parseCount(
      es.head.statsJson)).toSeq
    if (ns.forall(_.isDefined)) Some(ns.flatten.sum) else None
  }

  private[engine] def parseCount(json: String): Option[Long] = {
    if (json.isEmpty || !json.contains(CountKey)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(json).get(CountKey)
    if (n != null && n.isNumber) Some(n.asLong()) else None
  }

  /** Reserved batch id for equality-delete entries. Kept OUT of the
    * caller id space (append/stage/merge require batchId >= 0) so a
    * pending delete can never shadow a data batch in replay detection.
    */
  private[engine] val DeleteBatchId = -1L

  /** Reserved batch id of zero-row schema-marker entries
    * ([[ManifestTableStore.addColumns]] /
    * [[ManifestTableStore.dropColumn]]) — outside the caller id space
    * like [[DeleteBatchId]], so a schema commit can never shadow a
    * data batch in replay detection.
    */
  private[engine] val SchemaBatchId = -2L

  /** Stats-JSON key of a DROP-COLUMN marker entry: the retired column
    * name. A version carrying such an entry serves reads WITHOUT the
    * column; versions before it still show it (versioned drop).
    */
  private[engine] val DropColKey = "__dropcol__"

  private[engine] def parseDropCol(json: String): Option[String] = {
    if (json.isEmpty || !json.contains(DropColKey)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(json).get(DropColKey)
    if (n != null && n.isTextual) Some(n.asText()) else None
  }

  /** Stats-JSON key of a RENAME-COLUMN marker entry: an object
    * `{"f": old, "t": new}`. A version carrying it serves reads under
    * the NEW name (old physical files project through a coalesce of the
    * two); versions before it still show the old name (versioned
    * rename, Iceberg's rename-by-field-id semantics without field ids).
    */
  private[engine] val RenameColKey = "__renamecol__"

  private[engine] def parseRenameCol(json: String)
      : Option[(String, String)] = {
    if (json.isEmpty || !json.contains(RenameColKey)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(json).get(RenameColKey)
    if (n != null && n.has("f") && n.has("t"))
      Some((n.get("f").asText(), n.get("t").asText()))
    else None
  }

  /** Stats-JSON key of a WIDEN-COLUMN marker entry: an object
    * `{"c": column, "t": ddl}`. A version carrying it serves the
    * column CAST to the wider type (old physical files keep the narrow
    * type; the per-dir union coerces and the read-side cast pins the
    * declared type even before any wide file exists); versions before
    * it still show the old type (versioned widen, the fourth
    * governed-evolution leg — Iceberg's type-promotion matrix).
    */
  private[engine] val WidenColKey = "__widencol__"

  private[engine] def parseWidenCol(json: String)
      : Option[(String, org.apache.spark.sql.types.DataType)] = {
    if (json.isEmpty || !json.contains(WidenColKey)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(json).get(WidenColKey)
    if (n != null && n.has("c") && n.has("t"))
      Some((n.get("c").asText(),
        org.apache.spark.sql.types.DataType.fromDDL(n.get("t").asText())))
    else None
  }

  /** Whether `to` is a LOSSLESS widening of `from` — the only type
    * changes a metadata-only marker can serve (anything else needs a
    * rewrite): the integral up-chain, float→double, sub-long
    * integrals→double (exact in a 52-bit mantissa), integrals→decimal
    * with enough integer digits, and decimal→decimal growing both the
    * integer-digit budget and the scale. Mirrors Iceberg's
    * schema-evolution promotion matrix plus Delta's type-widening
    * feature table.
    */
  private[engine] def isWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    (from, to) match {
      case (f, t) if f == t => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (f, t: DecimalType) if intDigits(f).isDefined =>
        t.precision - t.scale >= intDigits(f).get
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** Hive's directory name for a NULL partition value. */
  private[engine] val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Stats-JSON key of a delete entry's applicable data batch ids. */
  private[engine] val AppliesKey = "__applies__"

  /** The data batch ids an equality-delete entry applies to (its
    * sequence-number scope); None for entries without one.
    */
  private[engine] def parseApplies(json: String): Option[Seq[Long]] = {
    if (json.isEmpty || !json.contains(AppliesKey)) return None
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.readTree(json).get(AppliesKey)
    if (n == null || !n.isArray) return None
    val b = Seq.newBuilder[Long]
    n.forEach(x => b += x.asLong())
    Some(b.result())
  }

  /** Probes per value; fp ≈ (1 - e^(-k·n/m))^k — at the default
    * m = 2^19 and 4k distinct keys/dir this is ~1e-7.
    */
  private[engine] val BloomK = 5

  /** A parsed per-dir bloom: `t` is the build-time column kind
    * ("i" integral / "s" string) — probes of the other kind never prune.
    */
  private[engine] final case class Bloom(t: String, m: Int,
      words: Array[Long]) {
    def contains(s: String): Boolean =
      bloomPositions(s, m).forall(p =>
        (words(p / 64) & (1L << (p % 64))) != 0L)
  }

  /** The k bit positions for a value's canonical string form — the SAME
    * seed-chained xxhash64 the build-side Spark expression
    * `pmod(xxhash64(i, cast(col as string)), m)` computes, via the same
    * `XXH64` primitives (BloomStatsSpec pins the parity), so a
    * driver-side probe needs no Spark job.
    */
  private[engine] def bloomPositions(s: String, m: Int): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    (0 until BloomK).map { i =>
      val h = XXH64.hashUTF8String(u, XXH64.hashInt(i, 42L))
      (((h % m) + m) % m).toInt
    }
  }

  /** The canonical probe string for an equality literal against a bloom
    * of kind `b.t`, or None when the literal's form cannot be canonical
    * (then the dir is conservatively kept). Integral columns cast to
    * plain digits, so only scale<=0 numerics probe; string columns
    * probe raw. Timestamps never probe (their cast form is a formatted
    * date — min/max stats cover them).
    */
  private[engine] def bloomProbe(v: SVal, b: Bloom): Option[String] =
    (v, b.t) match {
      case (StrV(s), "s") => Some(s)
      case (NumV(d), "i") =>
        val sd = d.stripTrailingZeros
        if (sd.scale <= 0) Some(sd.toBigIntegerExact.toString) else None
      case _ => None
    }

  private[engine] def parseBlooms(json: String): Map[String, Bloom] = {
    if (json.isEmpty || !json.contains(BloomKey)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json).get(BloomKey)
    if (node == null) return Map.empty
    val b = Map.newBuilder[String, Bloom]
    node.properties().forEach { e =>
      val (t, m, b64) = (e.getValue.get("t"), e.getValue.get("m"),
        e.getValue.get("b"))
      if (t != null && m != null && b64 != null) {
        val bytes = java.util.Base64.getDecoder.decode(b64.asText())
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val words = Array.fill(bytes.length / 8)(buf.getLong)
        b += e.getKey -> Bloom(t.asText(), m.asInt(), words)
      }
    }
    b.result()
  }

  /** Parse a SQL timestamp/date literal string as UTC epoch micros
    * (sessions pin UTC); None → the conjunct can't prune (conservative).
    */
  private[engine] def parseTsMicros(s: String): Option[Long] = {
    import java.time.{LocalDate, LocalDateTime, ZoneOffset}
    scala.util.Try(LocalDateTime.parse(s.trim.replace(' ', 'T'))).toOption
      .orElse(scala.util.Try(LocalDate.parse(s.trim).atStartOfDay).toOption)
      .map { d =>
        val inst = d.toInstant(ZoneOffset.UTC)
        inst.getEpochSecond * 1000000L + inst.getNano / 1000L
      }
  }

  /** True iff `col <op> v` is impossible for every row of a dir whose
    * column range is [mn, mx]. Mixed value kinds (string literal vs
    * numeric stats) never prune.
    */
  private[engine] def disjoint(op: String, v: SVal, mn: SVal,
      mx: SVal): Boolean = {
    def cmp(a: SVal, b: SVal): Option[Int] = (a, b) match {
      case (NumV(x), NumV(y)) => Some(x.compareTo(y))
      // string stats were computed by Spark min/max in UTF8String binary
      // (UTF-8 byte / code-point) order; java.lang.String.compareTo is
      // UTF-16 code-unit order, and the two DISAGREE for supplementary-
      // plane characters vs U+E000..U+FFFF — comparing bounds in the
      // stats' own order keeps pruning sound
      case (StrV(x), StrV(y)) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
      case (TsV(x), TsV(y)) => Some(java.lang.Long.compare(x, y))
      // timestamp stats vs a string date/timestamp literal: compare in
      // epoch micros, never lexically
      case (TsV(x), StrV(y)) =>
        parseTsMicros(y).map(m => java.lang.Long.compare(x, m))
      case (StrV(x), TsV(y)) =>
        parseTsMicros(x).map(m => java.lang.Long.compare(m, y))
      case _ => None
    }
    (for { loCmp <- cmp(mn, v); hiCmp <- cmp(mx, v) } yield op match {
      case "=" => loCmp > 0 || hiCmp < 0
      case ">" => hiCmp <= 0
      case ">=" => hiCmp < 0
      case "<" => loCmp >= 0
      case "<=" => loCmp > 0
    }).getOrElse(false)
  }
}

final class ParquetTableStore(path: String) extends TableStore {
  import org.apache.spark.sql.functions._

  /** Appends are serialized per store: concurrent writers into one parquet
    * directory race on the Hadoop committer's shared `_temporary/` staging
    * dir. With a real table format the snapshot commit provides this
    * coordination; the parquet stand-in must do it itself. (Lock is
    * per-JVM — matching local[] mode, where all streaming query threads
    * share this process.)
    */
  override def append(df: DataFrame, batchId: Long): Unit = synchronized {
    TableStore.withBatchId(df, batchId)
      .write.mode("append").parquet(path)
  }

  /** Read with schema merge across appended batches — the offline
    * stand-in for governed schema evolution (the reference delegates this
    * to Iceberg; SURVEY §2.11 M5): a batch appended with a new column is
    * visible on read-back, older rows null-padded.
    */
  override def read(spark: SparkSession): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
