package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.engine.ManifestTableStore

/** BATCH reads of the manifest store through the standard DataSource
  * API — the third leg of the `graft-store` format (streaming source +
  * streaming sink + this):
  *
  *   spark.read.format("graft-store").option("path", p).load()
  *     .option("versionAsOf", 2)        // Delta's exact option names
  *     .option("timestampAsOf", "2026-01-01 00:00:00")
  *     .option("ref", "audit-2026")     // tag or branch head
  *
  * All data reads implement [[PrunedFilteredScan]]: the filters Spark
  * pushes translate (where expressible) into one predicate for
  * `readWhere` — and for TIME-TRAVEL reads into `readVersionWhere`
  * against the resolved version's own manifest — so MANIFEST-LEVEL
  * data skipping (min/max stats and bloom membership pruning whole
  * dirs) happens behind the standard API with zero store-specific
  * calls in user code, on historical audits as much as current state.
  * Translation is best-effort and purely an optimization: Spark
  * re-applies every filter after the scan (the default
  * `unhandledFilters` contract), so an untranslatable predicate costs
  * pruning, never correctness. Column pruning projects onto the
  * store's read (one file scan per schema version), so the scans read
  * only the required columns.
  */
final class StoreRelation(val sqlContext: SQLContext,
    store: ManifestTableStore, parameters: Map[String, String])
    extends BaseRelation with PrunedFilteredScan {

  private def spark = sqlContext.sparkSession

  private lazy val picks: Seq[(String, String)] = {
    val ps = Seq("versionAsOf", "timestampAsOf", "ref", "metaTable")
      .flatMap(k => parameters.get(k).map(k -> _))
    require(ps.size <= 1,
      s"at most one of versionAsOf/timestampAsOf/ref/metaTable, got " +
        ps.map(_._1).mkString(", "))
    ps
  }

  /** The frame this relation serves: a metadata table, a resolved
    * historical state (stats-pruned by `pred` where one is pushed —
    * versioned reads keep the SAME manifest skipping the current-state
    * path has, via `readVersionWhere`), or None = current state.
    * `metaTable` is Iceberg's metadata-table idea (`t.history` /
    * `t.refs`) as an option: `history` (the DESCRIBE HISTORY ledger),
    * `tags`, `branches` — all manifest-only, zero data files opened.
    */
  // The unfiltered resolution is shared by `schema` and — ONLY for
  // version-pinned reads (versionAsOf / an instant-resolved
  // timestampAsOf, both immutable) — by every no-pushed-predicate
  // scan, halving the fixed frame-construction cost of a time-travel
  // read. Mutable targets (current state, ref/branch heads,
  // metaTables) resolve FRESH per scan: a cached head would serve
  // stale data on unfiltered scans while filtered scans of the same
  // DataFrame saw new commits.
  private lazy val unfiltered: Option[DataFrame] = resolve(None)

  private def versionPinned: Boolean =
    parameters.contains("versionAsOf") ||
      parameters.contains("timestampAsOf")

  private def resolve(pred: Option[String]): Option[DataFrame] = {
    def versioned(v: Long): DataFrame = pred match {
      case Some(p) => store.readVersionWhere(spark, v, p)
      case None => store.readVersion(spark, v)
    }
    picks.headOption.map {
      case ("versionAsOf", v) => versioned(v.toLong)
      case ("timestampAsOf", t) =>
        val ts = spark.sql(s"SELECT CAST('${t.replace("'", "''")}' " +
          "AS TIMESTAMP)").head()
        require(!ts.isNullAt(0), s"timestampAsOf '$t' is not a timestamp")
        versioned(store.versionAsOfTimestamp(spark,
          ts.getTimestamp(0).getTime))
      case ("ref", name) =>
        // tags win on a name collision, as in readRef; a branch head is
        // that branch's current state — its own readWhere prunes it
        if (store.hasTag(spark, name))
          versioned(store.resolveTag(spark, name))
        else if (store.listBranches(spark).contains(name)) pred match {
          case Some(p) => store.branch(name).readWhere(spark, p)
          case None => store.branch(name).read(spark)
        }
        else throw new IllegalArgumentException(
          s"unknown ref '$name' on the store (no such tag or branch)")
      case ("metaTable", "history") => store.history(spark)
      case ("metaTable", "tags") =>
        val s = spark
        import s.implicits._
        store.listTags(s).toDF("tag", "version")
      case ("metaTable", "branches") =>
        val s = spark
        import s.implicits._
        store.listBranches(s)
          .map(n => (n, store.branch(n).currentVersion(s)))
          .toDF("branch", "head_version")
      case ("metaTable", other) => throw new IllegalArgumentException(
        s"unknown metaTable '$other' (history, tags, branches)")
      case other => throw new IllegalStateException(other.toString)
    }
  }

  override lazy val schema: StructType =
    unfiltered.getOrElse(store.read(spark)).schema

  // rows flow as InternalRow straight from the underlying scans — no
  // external-Row conversion pass (the file-relation bridge)
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val pred = StoreRelation.predicateSql(filters,
      spark.sessionState.conf.sessionLocalTimeZone)
    // metaTable reads are manifest-only frames with no readWhere
    // surface; Spark applies the filters after the scan
    val effective =
      if (parameters.contains("metaTable")) None else pred
    val base = (effective match {
      case None => if (versionPinned) unfiltered else resolve(None)
      case some => resolve(some)
    }).getOrElse {
      pred match {
        case Some(p) => store.readWhere(spark, p)
        case None => store.read(spark)
      }
    }
    org.apache.spark.sql.graftshim.PlanShim
      .internalRdd(base.select(requiredColumns.map(col).toSeq: _*))
      .asInstanceOf[RDD[Row]]
  }
}

object StoreRelation {

  /** Best-effort SQL rendering of Spark's pushed filters (implicitly
    * ANDed) — only fully-expressible conjuncts are included; None when
    * nothing is. Values render as SQL literals with string escaping;
    * exotic value types (or filter shapes) simply drop out of the
    * pruning predicate.
    */
  private[sources] def predicateSql(filters: Array[Filter],
      sessionTimeZone: String = "UTC"): Option[String] = {
    // Timestamp/Instant literals render in the SESSION timezone, never
    // via java.sql.Timestamp.toString (which formats in the JVM-default
    // zone): readWhere's predicate is a ROW filter as well as a pruning
    // hint, and when the two zones differ a default-zone rendering
    // re-parses to a SHIFTED instant — Spark's re-applied residual
    // filter cannot restore rows a wrong pushed filter already dropped.
    val zone = java.time.ZoneId.of(sessionTimeZone)
    val tsFmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(zone)
    def lit(v: Any): Option[String] = v match {
      case null => None
      case s: String => Some(s"'${s.replace("'", "''")}'")
      case t: java.sql.Timestamp =>
        Some(s"TIMESTAMP '${tsFmt.format(t.toInstant)}'")
      case d: java.sql.Date => Some(s"DATE '$d'")
      case i: java.time.Instant =>
        Some(s"TIMESTAMP '${tsFmt.format(i)}'")
      case d: java.time.LocalDate => Some(s"DATE '$d'")
      case b: Boolean => Some(b.toString)
      case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float |
          _: Double) => Some(n.toString)
      case d: java.math.BigDecimal => Some(d.toPlainString)
      case d: BigDecimal => Some(d.toString)
      case _ => None
    }
    def q(a: String): String = s"`$a`"
    def render(f: Filter): Option[String] = f match {
      case EqualTo(a, v) => lit(v).map(l => s"${q(a)} = $l")
      case GreaterThan(a, v) => lit(v).map(l => s"${q(a)} > $l")
      case GreaterThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} >= $l")
      case LessThan(a, v) => lit(v).map(l => s"${q(a)} < $l")
      case LessThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} <= $l")
      case In(a, vs) =>
        val ls = vs.toSeq.map(lit)
        if (ls.nonEmpty && ls.forall(_.isDefined))
          Some(s"${q(a)} IN (${ls.flatten.mkString(", ")})")
        else None
      case IsNotNull(a) => Some(s"${q(a)} IS NOT NULL")
      case IsNull(a) => Some(s"${q(a)} IS NULL")
      case And(l, r) => for (a <- render(l); b <- render(r))
        yield s"($a AND $b)"
      case Or(l, r) => for (a <- render(l); b <- render(r))
        yield s"($a OR $b)"
      case _ => None
    }
    val parts = filters.toSeq.flatMap(f => render(f))
    if (parts.isEmpty) None else Some(parts.mkString(" AND "))
  }
}
