package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
import org.apache.spark.sql.catalyst.plans.logical.{ColumnDefinition,
  CreateTable, CreateTableAsSelect, LogicalPlan, UnresolvedTableSpec}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}

/** A mutable name → store registry rooted at a base path — the piece a
  * SQL-ONLY session needs on top of [[StoreSql]]: `CREATE TABLE` and
  * `CREATE TABLE ... AS SELECT` construct and register
  * [[ManifestTableStore]]s from Spark's own parsed DDL, so an operator
  * can create, load (INSERT), maintain (OPTIMIZE/VACUUM), and query a
  * store with zero API calls. Every other statement delegates to
  * [[StoreSql.exec]] / [[StoreSql.query]] against the current registry.
  *
  * Store physical options travel as TBLPROPERTIES (the Delta/Iceberg
  * convention for table-format knobs):
  *
  *   CREATE TABLE t (k STRING, n INT, CONSTRAINT pos CHECK (n > 0))
  *   USING graft_store
  *   PARTITIONED BY (k)
  *   TBLPROPERTIES ('statsColumns'='n', 'bloomColumns'='k',
  *                  'morDeleteKey'='k')
  *
  * `location` overrides the default `basePath/<name>` path. Declared
  * CHECK constraints register at create time (Spark 4 parses them
  * natively). `CREATE TABLE` commits the declared schema as a zero-row
  * version-1 marker ([[ManifestTableStore.createEmpty]]), so the empty
  * table is immediately readable and INSERT's positional mapping has a
  * target; CTAS appends the routed SELECT (which may read other
  * registered stores, time travel included) as batch `batchId` —
  * required explicitly, like every committing statement in StoreSql.
  * `IF NOT EXISTS` on an existing table is a registering no-op.
  */
final class StoreCatalog(basePath: String) {

  private val reg =
    new scala.collection.concurrent.TrieMap[String, ManifestTableStore]()

  /** Per-table COLUMN metadata the CATALOG owns (the store never sees
    * it): DEFAULT expressions (filled at the SQL INSERT boundary for
    * omitted columns — Delta's write-time sugar: existing rows read
    * NULL, full-width inserts never consult them), GENERATED
    * expressions (computed at the SQL INSERT boundary for omitted
    * columns; supplied values are enforced equal by an auto-registered
    * write-time check, so API writes are governed too), and COMMENTs
    * (DESCRIBE/SHOW CREATE rendering). Persisted in the spec sidecar;
    * ONE registry so create/drop/re-attach/replace lifecycle is ONE
    * code path for all three.
    */
  private val metaReg =
    new scala.collection.concurrent.TrieMap[String,
      StoreCatalog.TableMeta]()

  private def metaOf(name: String): StoreCatalog.TableMeta =
    metaReg.getOrElse(name, StoreCatalog.TableMeta())

  /** The current defaults registry ([[StoreSql.exec]]'s shape). */
  def defaults: Map[String, Map[String, String]] =
    metaReg.toMap.map { case (t, m) => t -> m.defaults }

  /** The current generated-column registry ([[StoreSql.exec]]'s
    * shape).
    */
  def generated: Map[String, Map[String, String]] =
    metaReg.toMap.map { case (t, m) => t -> m.generated }

  /** The current identity-column registry ([[StoreSql.exec]]'s shape):
    * table → column → (start, step).
    */
  def identityCols: Map[String, Map[String, (Long, Long, Boolean)]] =
    metaReg.toMap.map { case (t, m) => t -> m.identity }
      .filter(_._2.nonEmpty)

  /** Register an externally-constructed store under a name. */
  def register(name: String, store: ManifestTableStore): this.type = {
    // an external handle carries no column declarations — stale
    // metadata from a same-named earlier table must not leak into it
    metaReg.remove(name)
    absent.remove(name); reg.put(name, store); this
  }

  /** The current registry as the immutable map [[StoreSql]] takes. */
  def tables: Map[String, ManifestTableStore] = reg.toMap

  def store(name: String): ManifestTableStore =
    reg.getOrElse(name, throw new IllegalArgumentException(
      s"unknown table '$name' (known: ${reg.keys.mkString(", ")})"))

  /** Every table name this catalog can serve: the in-session registry,
    * plus durable name pointers under `_catalog/`, plus basePath
    * subdirectories that carry table evidence (a manifest chain or a
    * creation spec) — the discoverability a SQL-only session needs to
    * find tables OTHER sessions created (reference
    * docs/schema_inferer.md:72-84 presumes exactly this read-back).
    */
  def listTables(spark: SparkSession): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(basePath)
    val f = base.getFileSystem(conf)
    val pointers = {
      val cdir = new org.apache.hadoop.fs.Path(s"$basePath/_catalog")
      if (!f.exists(cdir)) Nil
      else f.listStatus(cdir).toSeq.filter(_.isFile)
        .map(_.getPath.getName)
    }
    // directories renamed AWAY keep the OLD name on disk (pointer-
    // level rename moves no data) — one listing of the tombstone dir
    // keeps them out of the by-directory discovery leg
    val renamedAway = {
      val rdir = new org.apache.hadoop.fs.Path(
        s"$basePath/_catalog/_renamed")
      if (!f.exists(rdir)) Set.empty[String]
      else f.listStatus(rdir).toSeq.filter(_.isFile)
        .map(_.getPath.getName).toSet
    }
    val onDisk =
      if (!f.exists(base)) Nil
      else f.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName != "_catalog")
        .filter(st =>
          // table evidence: a manifest chain, or any spec-sidecar
          // generation (specFiles' listing already detects both
          // `table_spec` and `table_spec_v<N>` — no separate probe)
          f.exists(new org.apache.hadoop.fs.Path(st.getPath,
            "manifest")) ||
            specFiles(f, st.getPath.toString).nonEmpty)
        .map(_.getPath.getName)
        .filterNot(renamedAway)
    // the POINTERS leg too: a crash between a rename's tombstone
    // publish and its old-pointer delete leaves the stale old pointer
    // on disk — without this filter the phantom old name would list
    // forever (and resolve(old) refuses with the forwarding hint, so
    // nothing could ever read it)
    (reg.keys.toSeq ++ pointers.filterNot(renamedAway) ++ onDisk)
      .distinct.sorted
  }

  /** Names that resolved to NOTHING (no pointer, no spec, no commits)
    * since this catalog last registered a table — so statements full of
    * temp-view references don't re-pay the 3+ filesystem probes per
    * view name per statement ([[resolve]] is called for every bare
    * unresolved name in every plan). Any registration through THIS
    * catalog clears the cached miss for that name; a table created by
    * a DIFFERENT session after the miss needs [[refresh]] (or a fresh
    * catalog) to become visible — the same staleness contract as
    * Spark's own relation cache.
    */
  private val absent =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Forget cached lookups — negative table probes AND the view-text
    * cache (views another session created, replaced, or dropped after
    * this catalog cached them).
    */
  def refresh(): Unit = {
    absent.clear()
    absentViews.clear()
    viewCache.clear()
  }

  /** The store for `name`, attaching from disk (pointer or basePath
    * dir, re-attached from its persisted spec) when the registry does
    * not hold it — the lazy leg of [[listTables]]' discoverability.
    */
  def resolve(spark: SparkSession,
      name: String): Option[ManifestTableStore] =
    reg.get(name).orElse {
      if (name == "_catalog" || absent.contains(name)) None
      else {
        // a RENAMED-away name refuses with the forwarding hint —
        // without this check the default-path fallback below would
        // silently RE-ATTACH the renamed table's directory under its
        // old name (two live names, one manifest chain). Checked
        // before the pointer so a crash between tombstone and
        // old-pointer deletion still routes to the hint.
        renamedTo(spark, name).foreach { nn =>
          throw new IllegalArgumentException(
            s"table '$name' was renamed to '$nn'; use '$nn' (the old " +
              "name stays reserved while the renamed table occupies " +
              "its directory)")
        }
        val path = readPointer(spark, name).getOrElse(s"$basePath/$name")
        val attached = loadSpec(spark, path) match {
          case Some((pb, props, meta)) =>
            val s = mk(path, pb, props)
            if (s.currentVersion(spark) > 0) {
              metaReg.put(name, meta); reg.put(name, s); Some(s)
            } else None
          case None => // legacy/no-spec table: attach bare if committed
            val s = mk(path, Nil, Map.empty)
            if (s.currentVersion(spark) > 0) {
              metaReg.remove(name) // no spec = no column metadata
              reg.put(name, s); Some(s)
            } else None
        }
        if (attached.isEmpty) absent.add(name)
        attached
      }
    }

  /** Attach every on-disk table a parsed plan references by bare name —
    * so a SQL-only session can SELECT/INSERT/MERGE against tables it
    * never created in THIS session.
    */
  private def attachReferenced(spark: SparkSession,
      plan: LogicalPlan): Unit =
    // subquery plans live inside EXPRESSIONS — plan.foreach never
    // visits them, so a fresh session's `WHERE x > (SELECT avg(n)
    // FROM t2)` must walk subqueriesAll or t2 never lazy-attaches
    (plan +: plan.subqueriesAll).foreach(_.foreach {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 =>
        resolve(spark, u.multipartIdentifier.head)
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
          if t.multipartIdentifier.size == 1 =>
        resolve(spark, t.multipartIdentifier.head)
      case t: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableOrView if t.multipartIdentifier.size == 1 =>
        resolve(spark, t.multipartIdentifier.head)
      // RelationTimeTravel is an UnresolvedLeafNode — foreach does NOT
      // descend into its inner relation, so `SELECT ... FROM t VERSION
      // AS OF n` must be matched here or a fresh session's time-travel
      // query never lazy-attaches t while the plain SELECT does
      case tt: org.apache.spark.sql.catalyst.analysis
          .RelationTimeTravel =>
        tt.relation match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedRelation if u.multipartIdentifier.size == 1 =>
            resolve(spark, u.multipartIdentifier.head)
          case _ =>
        }
      // table_changes('t', ...): the table is a string LITERAL, not a
      // relation node — resolve it so a fresh session's batch-CDF
      // query lazy-attaches like any other read
      case tvf: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase) == Seq("table_changes") &&
            tvf.functionArgs.nonEmpty =>
        tvf.functionArgs.head match {
          case org.apache.spark.sql.catalyst.expressions
              .Literal(v, _) if v != null =>
            resolve(spark, String.valueOf(v))
          case _ =>
        }
      // InsertIntoStatement is a UnaryNode whose only child is the
      // QUERY — the target `table` plan is a plain field, so foreach
      // never descends into it; without this case a fresh session's
      // INSERT never lazy-attaches its target (SELECTs do)
      case ins: org.apache.spark.sql.catalyst.plans.logical
          .InsertIntoStatement =>
        ins.table match {
          case u: org.apache.spark.sql.catalyst.analysis
              .UnresolvedRelation if u.multipartIdentifier.size == 1 =>
            resolve(spark, u.multipartIdentifier.head)
          case _ =>
        }
      case _ =>
    })

  /** Execute one statement: CREATE TABLE / CTAS are handled here;
    * everything else — DML, DDL, maintenance, including statements
    * Spark's parser rejects (OPTIMIZE/VACUUM) — delegates to
    * [[StoreSql.exec]] with the current registry.
    */
  def exec(spark: SparkSession, sql: String,
      batchId: Option[Long] = None): DataFrame = {
    // SHALLOW CLONE is not in Spark's grammar (Delta injects it via
    // its own parser) — matched FIRST on the inert text, like the
    // maintenance verbs
    StoreSql.stripInert(sql).trim match {
      case StoreCatalog.CloneStmt(ine, tgt, src, ver) =>
        return cloneTable(spark, tgt, src,
          Option(ver).map(_.toLong), ifNotExists = ine != null)
      case StoreCatalog.SyncIdentityStmt(tbl, col) =>
        return syncIdentity(spark, tbl, Option(col))
      // the MV definition TEXT must come from the comments-only strip
      // (stripInert also blanks string literals — fine for verb
      // RECOGNITION, fatal for a definition with a WHERE v = '…');
      // the structural prefix up to AS contains no literals, so
      // re-matching the comment-stripped original is loss-free
      case StoreCatalog.CreateMvStmt(_, _, _) =>
        StoreSql.stripComments(sql).trim match {
          case StoreCatalog.CreateMvStmt(ine, name, text) =>
            return createMaterializedView(spark, name, text.trim,
              ifNotExists = ine != null, batchId)
          case other => throw new IllegalStateException(
            s"unreachable: CREATE MATERIALIZED VIEW re-match failed " +
              s"on '$other'")
        }
      case StoreCatalog.RefreshMvStmt(name, fullKw) =>
        return refreshMaterializedView(spark, name,
          forceFull = fullKw != null)
      case StoreCatalog.DropMvStmt(ife, name) =>
        return dropMaterializedView(spark, name, ifExists = ife != null)
      case StoreCatalog.RenameMvStmt(oldName, newName) =>
        return renameMaterializedView(spark, oldName, newName)
      case StoreCatalog.ShowMvStmt() =>
        import spark.implicits._
        // `stale` = any source moved past the last refreshed version
        // (metadata-bounded: one sidecar read + one currentVersion
        // probe per source) — the operator's "which golds need a
        // REFRESH" answer without running anything
        return listMaterializedViews(spark)
          .map { n =>
            val (text, lasts) = mviewSpec(spark, n).getOrElse(("", Map
              .empty[String, Long]))
            val stale =
              try !lasts.forall { case (t, v) =>
                resolve(spark, t).exists(_.currentVersion(spark) == v)
              } catch { case _: IllegalArgumentException => true }
            (basePath, n, stale, text)
          }
          .toDF("namespace", "mvName", "stale", "definition")
      case _ =>
    }
    val parsed: Option[LogicalPlan] =
      try Some(spark.sessionState.sqlParser.parsePlan(sql))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    // lazy discoverability: every bare table name the statement
    // references (or the maintenance verb targets) attaches from disk
    // before dispatch, so a session can operate on tables it never
    // created
    parsed match {
      // a RENAME resolves its own names — and must TOLERATE a
      // half-migrated one (tombstone published, old pointer not yet
      // deleted): attachReferenced's resolve would throw the
      // forwarding hint and make the crashed rename unrecoverable
      case Some(_: org.apache.spark.sql.catalyst.plans.logical
          .RenameTable) => ()
      case Some(p) => attachReferenced(spark, p)
      case None =>
    }
    // ALWAYS consult the maintenance verbs too, not only on parse
    // failure: `DESCRIBE DETAIL t` parses in Spark's grammar (as a
    // column-describe of table `DETAIL`) yet routes as a maintenance
    // verb — its real target must lazy-attach like any other
    StoreSql.maintenanceTarget(sql).foreach(resolve(spark, _))
    // RESTORE routes through the maintenance regexes (never `parsed`);
    // restoring an MV's backing table desyncs content from the
    // refresh sidecar exactly like TRUNCATE — same guard. Content-
    // preserving maintenance (OPTIMIZE/VACUUM) stays allowed.
    if (!mvInternalOp.get() &&
        StoreSql.stripInert(sql).trim.toUpperCase.startsWith("RESTORE"))
      StoreSql.maintenanceTarget(sql)
        .filter(mviewSpec(spark, _).isDefined).foreach { n =>
          throw new IllegalArgumentException(
            s"'$n' is a MATERIALIZED VIEW — RESTORE would desync its " +
              "content from the refresh sidecar; DROP and re-CREATE " +
              "it, or REFRESH after changing the sources")
        }
    // an IDENTITY column's metadata lives in the CATALOG while
    // rename/drop/retype route through StoreSql — without this guard
    // a rename would strand the identity registry under the old name
    // (INSERT fills a column the table no longer has; UPDATE's
    // assignment guard goes blind). Structural edits of identity
    // columns refuse HERE, before any marker can commit.
    parsed.foreach(guardIdentityStructuralEdit(spark, _))
    parsed.foreach(guardMvWrite(spark, _))
    parsed match {
      case Some(ct: CreateTable) =>
        val name = identOf(ct.name)
        requireNotView(spark, name)
        existing(spark, name, ct.partitioning, ct.tableSpec,
            ct.ignoreIfExists) match {
          case Some(_) => // IF NOT EXISTS: keep the existing table
          case None =>
            createFresh(spark, name, ct.columns, ct.partitioning,
              ct.tableSpec)
        }
        spark.emptyDataFrame
      case Some(ctas: CreateTableAsSelect) =>
        val name = identOf(ctas.name)
        requireNotView(spark, name)
        existing(spark, name, ctas.partitioning, ctas.tableSpec,
            ctas.ignoreIfExists) match {
          case Some(_) =>
          case None =>
            ctasFresh(spark, name, ctas.partitioning, ctas.tableSpec,
              mvRewriteQuery(spark, spliceViews(spark, ctas.query)), batchId)
        }
        spark.emptyDataFrame
      case Some(rt: org.apache.spark.sql.catalyst.plans.logical
          .ReplaceTable) =>
        // [CREATE OR] REPLACE TABLE — Delta's replace rule: one
        // metadata commit retires every row and redeclares the schema
        // IN PLACE (same version chain; pre-replace versions stay
        // time-travelable), never a drop+create (which would destroy
        // the history). Bare REPLACE refuses on a missing table;
        // CREATE OR REPLACE falls back to a plain create.
        val name = identOf(rt.name)
        requireNotView(spark, name)
        existing(spark, name, rt.partitioning, rt.tableSpec,
            ignoreIfExists = true) match {
          case Some(s) =>
            replaceAt(spark, name, s, rt.columns, rt.partitioning,
              rt.tableSpec)
          case None =>
            require(rt.orCreate, s"REPLACE TABLE '$name': no such " +
              "table (use CREATE OR REPLACE TABLE to create it)")
            createFresh(spark, name, rt.columns, rt.partitioning,
              rt.tableSpec)
        }
        spark.emptyDataFrame
      case Some(rtas: org.apache.spark.sql.catalyst.plans.logical
          .ReplaceTableAsSelect) =>
        // [CREATE OR] REPLACE TABLE ... AS SELECT: the replace commit
        // (schema = the SELECT's), then the load as an ordinary
        // exactly-once batch — two versions (redeclare, data), so a
        // crash between them leaves an empty typed table, never a
        // half-replaced one
        val name = identOf(rtas.name)
        requireNotView(spark, name)
        existing(spark, name, rtas.partitioning, rtas.tableSpec,
            ignoreIfExists = true) match {
          case Some(s) =>
            val bid = batchId.getOrElse(
              throw new IllegalArgumentException(
                "REPLACE TABLE AS SELECT requires an explicit " +
                  "batchId: the loaded rows commit under it, exactly " +
                  "like INSERT"))
            // the load executes AFTER the replace commit, so a
            // SELF-REFERENTIAL RTAS (`... r AS SELECT ... FROM r`)
            // would otherwise scan the already-emptied state: pin
            // bare references to the replaced table at its
            // PRE-replace version (Delta's rule — the SELECT sees the
            // snapshot the statement started from). Explicit time
            // travel is untouched (RelationTimeTravel is a leaf;
            // transform does not descend into its inner relation).
            // transformWithSubqueries, not transform: a scalar
            // subquery `(SELECT max(x) FROM r)` lives in an
            // EXPRESSION plan that bare transform never visits — it
            // would read the already-emptied post-replace state.
            val preV = s.currentVersion(spark).toString
            val pinned = mvRewriteQuery(spark, spliceViews(spark, rtas.query))
              .transformWithSubqueries {
              case u: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedRelation
                  if u.multipartIdentifier.size == 1 &&
                    u.multipartIdentifier.head == name =>
                new org.apache.spark.sql.catalyst.analysis
                  .RelationTimeTravel(u, None, Some(preV))
            }
            val df = org.apache.spark.sql.graftshim.PlanShim.ofRows(
              spark, StoreSql.route(spark, tables, pinned))
            // a star-select over a store relation carries the internal
            // batch_id attribution column — append re-stamps it anyway
            // (exactly as CTAS), so the DECLARED schema must not
            // include it or replaceSchema's own guard refuses
            val declared = StructType(
              df.schema.filterNot(_.name == "batch_id"))
            val fresh = replaceAt(spark, name, s, Nil,
              rtas.partitioning, rtas.tableSpec, Some(declared))
            fresh.append(df, bid)
          case None =>
            require(rtas.orCreate, s"REPLACE TABLE '$name': no such " +
              "table (use CREATE OR REPLACE TABLE to create it)")
            ctasFresh(spark, name, rtas.partitioning, rtas.tableSpec,
              rtas.query, batchId)
        }
        spark.emptyDataFrame
      case Some(rn: org.apache.spark.sql.catalyst.plans.logical
          .RenameTable) =>
        // ALTER TABLE old RENAME TO new / ALTER VIEW old RENAME TO new
        // — dispatched on what the old name actually IS (tables and
        // views share the namespace; Spark's parser sets isView from
        // the keyword, but the graft catalog is the source of truth)
        val oldName = tableNameOf(rn.child, "RENAME")
        require(rn.newName.size == 1,
          s"store names are single-part, got ${rn.newName.mkString(".")}")
        val newName = rn.newName.head
        if (viewText(spark, oldName).isDefined)
          renameView(spark, oldName, newName)
        else
          renameTable(spark, oldName, newName)
      case Some(av: org.apache.spark.sql.catalyst.plans.logical
          .AlterViewAs) =>
        // ALTER VIEW v AS <query> — redefinition of the TEXT sidecar;
        // validated to resolve against the live catalog exactly like
        // CREATE VIEW (a broken redefinition refuses at DDL time)
        val name = av.child match {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedView
              if u.multipartIdentifier.size == 1 =>
            u.multipartIdentifier.head
          case other => throw new IllegalArgumentException(
            s"unsupported ALTER VIEW name: $other")
        }
        require(viewText(spark, name).isDefined,
          s"ALTER VIEW: unknown view '$name' (tables alter with " +
            "ALTER TABLE)")
        val text = av.originalText
        org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
          StoreSql.route(spark, tables, spliceViews(spark,
            attachAndParse(spark, text), depth = 1))).schema
        publishView(spark, name, text)
        spark.emptyDataFrame
      case Some(dt: org.apache.spark.sql.catalyst.plans.logical
          .DropTable) =>
        // DROP TABLE [IF EXISTS] — the lifecycle's other end:
        // unregister and delete the table root (manifest chain, data,
        // tags, checks, spec sidecar). Unlike vacuum this is the
        // explicit, named destruction of the WHOLE table; the atomic
        // unit is the directory.
        val name = dt.child match {
          case u: UnresolvedIdentifier if u.nameParts.size == 1 =>
            u.nameParts.head
          case other => throw new IllegalArgumentException(
            s"unsupported DROP TABLE name: $other")
        }
        require(name != "_catalog",
          "'_catalog' is reserved: it is the catalog's own " +
            "name-pointer directory and holds every custom-LOCATION " +
            "table's pointer")
        require(viewText(spark, name).isEmpty,
          s"'$name' is a VIEW — use DROP VIEW")
        // DROP resolves by pointer/directory, not through [[resolve]]
        // — without this guard `DROP TABLE old_name` would delete the
        // RENAMED table's data directory through the stale dir match
        renamedTo(spark, name).foreach { nn =>
          throw new IllegalArgumentException(
            s"table '$name' was renamed to '$nn'; DROP TABLE $nn")
        }
        // (dropMaterializedView deletes the sidecar FIRST, so its own
        // delegated DROP TABLE passes this guard)
        require(mviewSpec(spark, name).isEmpty,
          s"'$name' is a MATERIALIZED VIEW — use DROP MATERIALIZED " +
            "VIEW (dropping only the backing table would strand the " +
            "definition sidecar)")
        val known = reg.get(name).map(_.tablePath)
          .orElse(readPointer(spark, name))
          .orElse {
            val p = s"$basePath/$name"
            val hp = new org.apache.hadoop.fs.Path(p)
            val f = hp.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (f.exists(hp)) Some(p) else None
          }
        known match {
          case Some(p) =>
            val hp = new org.apache.hadoop.fs.Path(p)
            val f = hp.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            // recursive delete ONLY with evidence the directory is a
            // graft table — a manifest chain, branches, or at least the
            // creation spec (a crashed pre-first-commit CREATE). A bare
            // name collision with an unrelated directory under basePath
            // must never wipe it.
            require(!f.exists(hp) ||
              Seq("manifest", "branches", "table_spec").exists(s =>
                f.exists(new org.apache.hadoop.fs.Path(hp, s))),
              s"refusing DROP TABLE '$name': $p exists but carries no " +
                "manifest/branches/table_spec — not a graft table " +
                "(name collision?); delete it manually if intended")
            f.delete(hp, true)
            f.delete(new org.apache.hadoop.fs.Path(
              s"$basePath/_catalog/$name"), false)
            reg.remove(name)
            metaReg.remove(name) // a recreated same-name table must
            // not inherit the dead table's column metadata
          case None =>
            require(dt.ifExists, s"unknown table '$name' " +
              "(use DROP TABLE IF EXISTS; note: a custom-LOCATION " +
              "table created before name pointers must be dropped " +
              "from the catalog that registered it)")
        }
        spark.emptyDataFrame
      case Some(cv: org.apache.spark.sql.catalyst.plans.logical
          .CreateView) =>
        // CREATE [OR REPLACE] VIEW [IF NOT EXISTS] v AS <query> —
        // persistent, catalog-owned (README.md:42: BI tools query
        // views over governed tables). The view is its TEXT: persisted
        // as a sidecar under `_catalog/_views/`, re-parsed and spliced
        // at read time so it always serves the live (or time-traveled)
        // state of the underlying tables and inherits their manifest
        // pruning — a materialized snapshot would silently go stale.
        val name = cv.child match {
          case u: UnresolvedIdentifier if u.nameParts.size == 1 =>
            u.nameParts.head
          case other => throw new IllegalArgumentException(
            s"unsupported CREATE VIEW name: $other")
        }
        require(name != "_catalog" && name != "_views",
          s"'$name' is reserved")
        require(cv.userSpecifiedColumns.isEmpty,
          "CREATE VIEW with a column list is not supported — alias " +
            "in the SELECT")
        require(resolve(spark, name).isEmpty,
          s"'$name' is a TABLE (views and tables share the namespace); " +
            "DROP TABLE first or pick another name")
        val text = cv.originalText.getOrElse(
          throw new IllegalArgumentException(
            "CREATE VIEW requires the AS <query> text"))
        if (viewText(spark, name).isDefined) {
          if (cv.allowExisting) return spark.emptyDataFrame
          require(cv.replace,
            s"view '$name' already exists (use CREATE OR REPLACE " +
              "VIEW or IF NOT EXISTS)")
        }
        // the definition must RESOLVE now (tables exist, SQL is
        // well-formed) — a broken view refuses at DDL time, exactly
        // like a broken DEFAULT; validating analyzes against the live
        // catalog without executing anything
        org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
          StoreSql.route(spark, tables, spliceViews(spark,
            attachAndParse(spark, text), depth = 1))).schema
        publishView(spark, name, text)
        spark.emptyDataFrame
      case Some(dv: org.apache.spark.sql.catalyst.plans.logical
          .DropView) =>
        val name = dv.child match {
          case u: UnresolvedIdentifier if u.nameParts.size == 1 =>
            u.nameParts.head
          case other => throw new IllegalArgumentException(
            s"unsupported DROP VIEW name: $other")
        }
        require(dropViewSidecar(spark, name) || dv.ifExists,
          s"unknown view '$name' (use DROP VIEW IF EXISTS; note: " +
            "tables drop with DROP TABLE)")
        spark.emptyDataFrame
      case Some(sv: org.apache.spark.sql.catalyst.plans.logical
          .ShowViews) =>
        // Spark's own output shape (namespace, viewName, isTemporary);
        // namespace = the catalog base path, same as SHOW TABLES
        import spark.implicits._
        val pat = sv.pattern.map(likePattern)
        listViews(spark)
          .filter(n => pat.forall(_.matches(n)))
          .map(n => (basePath, n, false))
          .toDF("namespace", "viewName", "isTemporary")
      case Some(st: org.apache.spark.sql.catalyst.plans.logical
          .ShowTables) =>
        // SHOW TABLES [LIKE 'pat']: Spark's own output shape
        // (namespace, tableName, isTemporary). Namespace is the
        // catalog's base path — the one address that lets an operator
        // find the table on disk.
        import spark.implicits._
        val pat = st.pattern.map(likePattern)
        listTables(spark)
          .filter(n => pat.forall(_.matches(n)))
          .map(n => (basePath, n, false))
          .toDF("namespace", "tableName", "isTemporary")
      case Some(d: org.apache.spark.sql.catalyst.plans.logical
          .DescribeRelation) =>
        import spark.implicits._
        require(d.partitionSpec.isEmpty,
          "DESCRIBE TABLE PARTITION is not supported")
        val name = tableNameOf(d.relation, "DESCRIBE")
        // a VIEW describes as its analyzed output schema (what a BI
        // tool introspects before querying it); EXTENDED adds the
        // definition text — Spark's own DESCRIBE-view shape
        viewText(spark, name).foreach { text =>
          val schema = org.apache.spark.sql.graftshim.PlanShim
            .ofRows(spark, StoreSql.route(spark, tables,
              spliceViews(spark, attachAndParse(spark, text),
                depth = 1))).schema
          val cols = schema.fields.toSeq.map(f =>
            (f.name, f.dataType.sql.toLowerCase, ""))
          val detail =
            if (!d.isExtended) Nil
            else Seq(("", "", ""),
              ("# Detailed View Information", "", ""),
              ("Name", name, ""),
              ("Type", "VIEW", ""),
              ("View Text", text, ""))
          return (cols ++ detail)
            .toDF("col_name", "data_type", "comment")
        }
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(
            s"unknown table '$name' (known: " +
              s"${listTables(spark).mkString(", ")})"))
        val meta = metaOf(name)
        // an MV's generated fold columns are storage-internal — they
        // never appear in DESCRIBE, same as in reads. batch_id is
        // hidden too when the declared projection applies: reads
        // serve EXACTLY the declared columns there ([[mvProject]]),
        // and DESCRIBE must never advertise a column the read path
        // cannot serve
        val visible: String => Boolean =
          mvDeclaredProjection(spark, name) match {
            case Some(declared) => c =>
              declared.exists(_.equalsIgnoreCase(c))
            case None => _ => true
          }
        val cols = s.read(spark).schema.fields.toSeq
          .filter(f => visible(f.name)).map(f =>
          (f.name, f.dataType.sql.toLowerCase,
            if (f.name == "batch_id")
              "store attribution column (exactly-once commits)"
            else meta.comments.getOrElse(f.name,
              meta.generated.get(f.name)
                .fold("")(g => s"generated: $g"))))
        val detail =
          if (!d.isExtended) Nil
          else {
            def csv(xs: Seq[String]) =
              if (xs.isEmpty) "" else xs.mkString(",")
            Seq(("", "", ""),
              ("# Detailed Table Information", "", ""),
              ("Name", name, ""),
              ("Type", "graft_store", ""),
              ("Location", s.tablePath, ""),
              ("Partition Columns", csv(s.partitionColumns), ""),
              ("statsColumns", csv(s.statsColumnNames), ""),
              ("bloomColumns", csv(s.bloomColumnNames), ""),
              ("morDeleteKey", s.morDeleteKey.getOrElse(""), ""),
              ("Current Version",
                s.currentVersion(spark).toString, "")) ++
              s.listChecks(spark).map { case (n, pred) =>
                (s"Constraint $n", pred, "") }
          }
        (cols ++ detail).toDF("col_name", "data_type", "comment")
      case Some(sc: org.apache.spark.sql.catalyst.plans.logical
          .ShowCreateTable) =>
        // SHOW CREATE TABLE: reconstruct runnable DDL from the live
        // store + persisted spec — the statement a user needs to clone
        // the table (schema WITHOUT the internal batch_id column,
        // constraints, partitioning, knobs, location).
        import spark.implicits._
        val name = tableNameOf(sc.child, "SHOW CREATE TABLE")
        // a VIEW round-trips as its definition text
        viewText(spark, name).foreach { text =>
          return Seq(s"CREATE VIEW $name AS $text")
            .toDF("createtab_stmt")
        }
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$name'"))
        val meta = metaOf(name)
        val colDdl = s.read(spark).schema.fields.toSeq
          .filterNot(_.name == "batch_id")
          .map(f => s"  ${f.name} ${f.dataType.sql}" +
            meta.generated.get(f.name)
              .fold("")(g => s" GENERATED ALWAYS AS ($g)") +
            meta.identity.get(f.name).fold("") { case (st, sp, bd) =>
              val kind = if (bd) "BY DEFAULT" else "ALWAYS"
              s" GENERATED $kind AS IDENTITY (START WITH $st " +
                s"INCREMENT BY $sp)" } +
            meta.defaults.get(f.name).fold("")(d => s" DEFAULT $d") +
            meta.comments.get(f.name)
              .fold("")(c => s" COMMENT '${c.replace("'", "''")}'"))
        // the auto-registered `<col>_generated` invariant re-derives
        // from the GENERATED clause when this DDL is replayed — it
        // must not ALSO render as a CONSTRAINT line (the replay would
        // register it twice)
        val genChecks = meta.generated.keySet.map(c => s"${c}_generated")
        val checks = s.listChecks(spark)
          .filterNot { case (n, _) => genChecks.contains(n) }
          .map { case (n, pred) => s"  CONSTRAINT $n CHECK ($pred)" }
        val props = knobsOf(s).map { case (k, v) => s"'$k'='$v'" }
        val stmt = Seq(
          Some(s"CREATE TABLE $name (\n" +
            (colDdl ++ checks).mkString(",\n") + ")"),
          Some("USING graft_store"),
          Option(s.partitionColumns).filter(_.nonEmpty)
            .map(pb => s"PARTITIONED BY (${pb.mkString(", ")})"),
          Option(props).filter(_.nonEmpty)
            .map(p => s"TBLPROPERTIES (${p.mkString(", ")})"),
          Some(s"LOCATION '${s.tablePath}'")).flatten.mkString("\n")
        Seq(stmt).toDF("createtab_stmt")
      case Some(sp: org.apache.spark.sql.catalyst.plans.logical
          .ShowTableProperties) =>
        // SHOW TBLPROPERTIES t ['key']: the knob map SET/UNSET edit and
        // DESCRIBE EXTENDED embeds, as its own statement (Delta/Spark
        // output shape: key, value rows; a named missing key refuses)
        import spark.implicits._
        val name = tableNameOf(sp.table, "SHOW TBLPROPERTIES")
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$name'"))
        val props = knobsOf(s)
        sp.propertyKey match {
          case Some(k) =>
            val v = props.toMap.getOrElse(k,
              throw new IllegalArgumentException(
                s"table '$name' does not have property '$k'"))
            Seq((k, v)).toDF("key", "value")
          case None => props.toDF("key", "value")
        }
      case Some(sc: org.apache.spark.sql.catalyst.plans.logical
          .ShowColumns) =>
        import spark.implicits._
        val name = tableNameOf(sc.child, "SHOW COLUMNS")
        viewText(spark, name).foreach { text =>
          return org.apache.spark.sql.graftshim.PlanShim
            .ofRows(spark, StoreSql.route(spark, tables,
              spliceViews(spark, attachAndParse(spark, text),
                depth = 1))).columns.toSeq.toDF("col_name")
        }
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$name'"))
        s.read(spark).columns.toSeq.toDF("col_name")
      case Some(sp: org.apache.spark.sql.catalyst.plans.logical
          .ShowPartitions) =>
        // SHOW PARTITIONS t: the hive-layout partition values from the
        // current version's data dirs (Spark's single `partition`
        // column of k=v[/k2=v2] strings) — listings only, no data I/O
        import spark.implicits._
        require(sp.pattern.isEmpty,
          "SHOW PARTITIONS with a PARTITION spec is not supported")
        val name = tableNameOf(sp.table, "SHOW PARTITIONS")
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$name'"))
        s.listPartitions(spark).toDF("partition")
      case Some(sp: org.apache.spark.sql.catalyst.plans.logical
          .SetTableProperties) =>
        alterProps(spark, sp.table) { props =>
          props ++ sp.properties
        }
      case Some(up: org.apache.spark.sql.catalyst.plans.logical
          .UnsetTableProperties) =>
        alterProps(spark, up.table) { props =>
          val unknown = up.propertyKeys.filterNot(props.contains)
          require(up.ifExists || unknown.isEmpty,
            s"table property ${unknown.mkString(", ")} is not set " +
              "(use UNSET TBLPROPERTIES IF EXISTS)")
          props -- up.propertyKeys
        }
      case Some(a: org.apache.spark.sql.catalyst.plans.logical
          .AlterColumns) if a.specs.exists(sp =>
            sp.newDefaultExpression.nonEmpty || sp.dropDefault ||
              sp.newComment.nonEmpty) =>
        // ALTER COLUMN ... SET/DROP DEFAULT / COMMENT — CATALOG edits,
        // not store commits: defaults are write-time sugar filled at
        // the SQL INSERT boundary and comments are pure metadata
        // (Delta's semantics — existing rows are untouched, no version
        // is created), so the change lands in the column-metadata
        // registry + the spec sidecar, exactly where CREATE TABLE's
        // declarations live
        require(a.specs.forall(sp => sp.newDataType.isEmpty &&
          sp.newNullability.isEmpty && sp.newPosition.isEmpty),
          "SET/DROP DEFAULT and COMMENT cannot combine with TYPE/" +
            "position/nullability changes in one statement")
        val name = tableNameOf(a.table, "ALTER COLUMN")
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$name'"))
        val schemaFields = s.read(spark).schema.fields.toSeq
          .filterNot(_.name == "batch_id")
        val metaXf = (m0: StoreCatalog.TableMeta) =>
          a.specs.foldLeft(m0) { (m, sp) =>
            val parts = sp.column.name
            require(parts.size == 1,
              s"nested column path ${parts.mkString(".")} is not " +
                "supported")
            val fld = schemaFields.find(_.name.equalsIgnoreCase(parts.head))
              .getOrElse(throw new IllegalArgumentException(
                s"ALTER COLUMN: no column '${parts.head}' in table " +
                  s"'$name' (${schemaFields.map(_.name).mkString(", ")})"))
            val withDefault = sp.newDefaultExpression match {
              case Some(d) =>
                require(!m.generated.contains(fld.name) &&
                  !m.identity.contains(fld.name),
                  s"column '${fld.name}' is GENERATED — it has no " +
                    "DEFAULT to set or drop")
                // full declaration-time validation (constant, lossless
                // cast to the LIVE column type) — see [[validateDefault]]
                validateDefault(spark, fld.name, d.originalSQL,
                  fld.dataType)
                m.copy(defaults = m.defaults + (fld.name -> d.originalSQL))
              case None if sp.dropDefault =>
                require(!m.generated.contains(fld.name),
                  s"column '${fld.name}' is GENERATED — it has no " +
                    "DEFAULT to set or drop")
                m.copy(defaults = m.defaults - fld.name)
              case None => m
            }
            sp.newComment match {
              case Some(c) => withDefault.copy(
                comments = withDefault.comments + (fld.name -> c))
              case None => withDefault
            }
          }
        // physical knobs and untouched column metadata carry through
        // unchanged (mirror of alterProps carrying defaults through)
        val (_, nextMeta) = updateSpec(spark, s.tablePath,
          s.partitionColumns, identity, metaXf,
          (knobsOf(s).toMap, metaOf(name)))
        metaReg.put(name, nextMeta)
        spark.emptyDataFrame
      case Some(ac: org.apache.spark.sql.catalyst.plans.logical
          .AddColumns) if ac.columnsToAdd.exists(c =>
            c.default.nonEmpty || c.comment.nonEmpty) =>
        // ADD COLUMNS carrying DEFAULT/COMMENT declarations: the
        // governed store marker commits the TYPES (delegating the
        // schema change to the same verb a bare ADD uses), and the
        // declarations land in the catalog registry + sidecar — the
        // bare StoreSql surface refuses these instead of silently
        // dropping them
        val name = tableNameOf(ac.table, "ADD COLUMNS")
        val s = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(s"unknown table '$name'"))
        val meta = metaOf(name)
        // validate EVERYTHING before the marker commits: a refused
        // declaration must not leave the column half-added
        ac.columnsToAdd.foreach { c =>
          require(c.path.isEmpty,
            s"nested ADD COLUMNS path ${c.name.mkString(".")} is " +
              "not supported")
          c.default.foreach(d =>
            validateDefault(spark, c.colName, d.originalSQL,
              c.dataType))
        }
        s.addColumns(spark,
          ac.columnsToAdd.map(c => c.colName -> c.dataType))
        val metaXf = (m0: StoreCatalog.TableMeta) =>
          ac.columnsToAdd.foldLeft(m0) { (m, c) =>
            val withD = c.default.fold(m)(d =>
              m.copy(defaults = m.defaults + (c.colName -> d.originalSQL)))
            c.comment.fold(withD)(cm =>
              withD.copy(comments = withD.comments + (c.colName -> cm)))
          }
        val (_, nextMeta) = updateSpec(spark, s.tablePath,
          s.partitionColumns, identity, metaXf,
          (knobsOf(s).toMap, meta))
        metaReg.put(name, nextMeta)
        spark.emptyDataFrame
      case Some(rc: org.apache.spark.sql.catalyst.plans.logical
          .RenameColumn) =>
        // delegate the physical rename (governed marker, check-guard
        // refusals — a GENERATED column or check reference refuses
        // there), then MIGRATE the catalog-owned metadata: a DEFAULT
        // or COMMENT keyed by the old name would silently stop
        // applying after the rename
        val name = tableNameOf(rc.table, "RENAME COLUMN")
        val old = rc.column.name.last
        val out = StoreSql.exec(spark, tables, sql, batchId, defaults,
          generated, identityCols, spliceViews(spark, _))
        resolve(spark, name).foreach { s =>
          val m0 = metaOf(name)
          if (m0.defaults.keys.exists(_.equalsIgnoreCase(old)) ||
            m0.comments.keys.exists(_.equalsIgnoreCase(old))) {
            def mig(m: Map[String, String]) = m.map { case (k, v) =>
              (if (k.equalsIgnoreCase(old)) rc.newName else k) -> v }
            val metaXf = (m: StoreCatalog.TableMeta) =>
              m.copy(defaults = mig(m.defaults),
                comments = mig(m.comments))
            val (_, nm) = updateSpec(spark, s.tablePath,
              s.partitionColumns, identity, metaXf,
              (knobsOf(s).toMap, m0))
            metaReg.put(name, nm)
          }
        }
        out
      case Some(dc: org.apache.spark.sql.catalyst.plans.logical
          .DropColumns) =>
        // delegate, then drop the dead columns' catalog metadata — a
        // stale DEFAULT under a dropped name never applies (the fill
        // consults the live schema) but must not resurrect if a
        // same-named column is ever re-added
        val name = tableNameOf(dc.table, "DROP COLUMN")
        val dropped = dc.columnsToDrop.map(_.name.last.toLowerCase)
          .toSet
        val out = StoreSql.exec(spark, tables, sql, batchId, defaults,
          generated, identityCols, spliceViews(spark, _))
        resolve(spark, name).foreach { s =>
          val m0 = metaOf(name)
          def hit(m: Map[String, String]) =
            m.keys.exists(k => dropped.contains(k.toLowerCase))
          if (hit(m0.defaults) || hit(m0.comments)) {
            def purge(m: Map[String, String]) =
              m.filterNot { case (k, _) =>
                dropped.contains(k.toLowerCase) }
            val metaXf = (m: StoreCatalog.TableMeta) =>
              m.copy(defaults = purge(m.defaults),
                comments = purge(m.comments))
            val (_, nm) = updateSpec(spark, s.tablePath,
              s.partitionColumns, identity, metaXf,
              (knobsOf(s).toMap, m0))
            metaReg.put(name, nm)
          }
        }
        out
      case _ =>
        mvVacuumAdvisories(spark, sql,
          StoreSql.exec(spark, tables, sql, batchId, defaults,
            generated, identityCols, spliceViews(spark, _)))
    }
  }

  /** `VACUUM t ... DRY RUN` reporting, MV-aware: alongside the paths
    * the vacuum would delete, advisory rows name every materialized
    * view whose last-refreshed version of `t` falls below the
    * retention horizon — its next REFRESH will lose its incremental
    * window and full-recompute (gracefully; the advisory lets the
    * operator refresh FIRST and keep the cheap path). Mirrors the
    * clone_refs awareness, as a report rather than a refusal: unlike
    * a clone, an MV survives the vacuum correct. Metadata-bounded —
    * one sidecar read per MV plus one manifest-dir listing.
    */
  private def mvVacuumAdvisories(spark: SparkSession, sql: String,
      out: DataFrame): DataFrame =
    StoreSql.stripInert(sql).trim match {
      case StoreSql.VacuumStmt(t, hours, dry) if dry != null =>
        val mvs = mviewsReferencing(spark, t)
        if (mvs.isEmpty) return out
        val sOpt = try resolve(spark, t) catch {
          case _: IllegalArgumentException => None
        }
        sOpt.map { s =>
          // the same horizon arithmetic the vacuum itself applies:
          // versions COMMITTED inside the retention window survive
          val retainHours = Option(hours).map(_.toLong).getOrElse(168L)
          val cutoff =
            System.currentTimeMillis() - retainHours * 3600000L
          val mdir = new org.apache.hadoop.fs.Path(
            s"${s.tablePath}/manifest")
          val mfs = mdir.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val recent =
            if (!mfs.exists(mdir)) 0
            else mfs.listStatus(mdir).count(st =>
              st.getPath.getName.startsWith("v") &&
                st.getModificationTime >= cutoff)
          val horizon =
            math.max(1L, s.currentVersion(spark) - recent)
          val rows = mvs.flatMap { mv =>
            // case-insensitive: the sidecar records the CREATE-time
            // casing; a differently-cased VACUUM target must still
            // find it (name handling is case-insensitive everywhere
            // else in the engine)
            mviewSpec(spark, mv)
              .flatMap(_._2.find(_._1.equalsIgnoreCase(t)).map(_._2))
              .filter(_ < horizon).map { last =>
                s"advisory: materialized view '$mv' last refreshed " +
                  s"at $t version $last, below the retention " +
                  s"horizon $horizon — its next REFRESH will " +
                  "full-recompute; REFRESH before vacuuming to keep " +
                  "the incremental window"
              }
          }
          if (rows.isEmpty) out
          else {
            import spark.implicits._
            out.unionAll(rows.toDF("path"))
          }
        }.getOrElse(out)
      case _ => out
    }

  /** Shared SET/UNSET TBLPROPERTIES leg: transform the persisted
    * store-knob properties, validate against the live schema, publish
    * the next spec generation, re-register a handle built from it, and
    * refresh manifest stats when the stats/bloom configuration changed
    * — so a post-create bloom/stats column STARTS PRUNING immediately
    * and a fresh catalog re-attaches with the updated spec.
    */
  private def alterProps(spark: SparkSession, table: LogicalPlan)(
      xform: Map[String, String] => Map[String, String]): DataFrame = {
    val name = table match {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
          if t.multipartIdentifier.size == 1 =>
        t.multipartIdentifier.head
      case other => throw new IllegalArgumentException(
        s"unsupported ALTER TABLE target: $other")
    }
    val s = resolve(spark, name).getOrElse(
      throw new IllegalArgumentException(s"unknown table '$name'"))
    val knobs = Seq("statsColumns", "bloomColumns", "morDeleteKey")
    val current: Map[String, String] = knobsOf(s).toMap
    // validation lives INSIDE the transform so a rebased retry (lost
    // publish race) re-validates against the winner's properties too
    val propsXf = (cur: Map[String, String]) => {
      val next = xform(cur)
      val foreign = next.keySet.filterNot(knobs.contains)
      require(foreign.isEmpty,
        s"unsupported table properties ${foreign.mkString(", ")}: the " +
          s"store's physical knobs are ${knobs.mkString(", ")} — a " +
          "property this catalog cannot serve must not silently persist")
      // validate against the DECLARED columns only — the read schema
      // appends the internal batch_id attribution column, and accepting
      // 'statsColumns'='batch_id' here would let ALTER persist a spec the
      // CREATE path itself refuses (non-round-trippable SHOW CREATE TABLE)
      validateProps(
        s.read(spark).columns.toSeq.filterNot(_ == "batch_id"),
        s.partitionColumns, next)
      next
    }
    // column metadata carries through unchanged — SET/UNSET edits
    // only the physical knobs, and a republished spec must not drop it
    val (next, _) = updateSpec(spark, s.tablePath, s.partitionColumns,
      propsXf, identity, (current, metaOf(name)))
    val fresh = mk(s.tablePath, s.partitionColumns, next)
    reg.put(name, fresh)
    // stats/bloom config changed → recompute every dir's manifest
    // stats under the NEW configuration (metadata-only, no data
    // rewrite); pruning on the new columns is live from here on
    if (next.get("statsColumns") != current.get("statsColumns") ||
        next.get("bloomColumns") != current.get("bloomColumns"))
      fresh.refreshStats(spark)
    spark.emptyDataFrame
  }

  /** Read-side SQL (time travel included) against the registry — bare
    * table names the statement references attach lazily from disk
    * first, so a fresh session queries any table the catalog lists.
    */
  def query(spark: SparkSession, sql: String): DataFrame = {
    val plan = spliceViews(spark,
      attachAndParse(spark, sql))
    // spliced view bodies may reference tables the outer statement
    // does not — attachAndParse inside spliceViews handled those
    org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
      StoreSql.route(spark, tables, plan))
  }

  /** The already-present store for `name` — registered in THIS catalog
    * OR committed on disk at its path (a table survives the session
    * that created it; a fresh catalog's `IF NOT EXISTS` must see it
    * and must not clobber it) — or None when creation should proceed.
    * An on-disk table re-attaches FROM ITS PERSISTED SPEC (the
    * creation-time partitioning/properties sidecar), never from the
    * re-attaching statement's spec: a bare `CREATE TABLE IF NOT
    * EXISTS t (...)` must not silently strip the original
    * partitioning, stats columns, or merge-on-read key. Refuses
    * (Delta's TABLE_OR_VIEW_ALREADY_EXISTS shape) when the table
    * exists and IF NOT EXISTS was not given — a refused CREATE has no
    * side effects, so registration is SKIPPED on refusal; only the
    * IF-NOT-EXISTS re-attach registers.
    */
  private def existing(spark: SparkSession, name: String,
      partitioning: Seq[Transform],
      tableSpec: org.apache.spark.sql.catalyst.plans.logical
        .TableSpecBase,
      ignoreIfExists: Boolean): Option[ManifestTableStore] = {
    // a rename tombstone reserves the old name while its TARGET lives;
    // once the target is gone (dropped, or itself renamed away and
    // dropped) the tombstone is dead and a CREATE reclaims the name
    renamedTo(spark, name).foreach { nn =>
      val targetLive =
        try resolve(spark, nn).isDefined ||
          viewText(spark, nn).isDefined
        catch { case _: IllegalArgumentException => true } // chained
      if (targetLive)
        throw new IllegalArgumentException(
          s"cannot CREATE '$name': the name is reserved by its " +
            s"rename to '$nn' (still live); DROP TABLE $nn first")
      val hp = new org.apache.hadoop.fs.Path(
        s"$basePath/_catalog/_renamed/$name")
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, false)
    }
    val present: Option[(ManifestTableStore,
        Option[StoreCatalog.TableMeta])] =
      reg.get(name).map(s => (s, None)).orElse {
      val (declaredPath, pb, props) =
        physical(name, partitioning, tableSpec)
      // candidate roots, pointer target FIRST: a custom-LOCATION table
      // re-attaches through its durable name pointer even when the
      // re-attaching statement omits LOCATION or declares a DIFFERENT
      // one — a plain `CREATE TABLE t ... LOCATION '/new'` must refuse
      // over (not silently re-point away from) a live committed table
      // the pointer addresses at '/old'. LAZY over the candidates: the
      // second root's manifest probe (and its defaults) must not run —
      // let alone win — when the pointer target resolves first.
      val candidates =
        (readPointer(spark, name).toSeq :+ declaredPath).distinct
      candidates.iterator.flatMap { path =>
        val (epb, eprops, edfl) = loadSpec(spark, path)
          .getOrElse((pb, props, StoreCatalog.TableMeta()))
        val onDisk = mk(path, epb, eprops)
        if (onDisk.currentVersion(spark) > 0)
          Some((onDisk, Some(edfl)))
        else None
      }.nextOption()
    }
    present.foreach { case (s, dfl) =>
      require(ignoreIfExists,
        s"table '$name' already exists (use IF NOT EXISTS)")
      // registration (defaults included) ONLY on the accepted path —
      // a refused CREATE has no side effects
      dfl.foreach(metaReg.put(name, _))
      absent.remove(name); reg.put(name, s)
    }
    present.map(_._1)
  }

  /** The store's physical-knob properties as ONE ordered list every
    * SHOW/ALTER surface serves — a new knob lands here once, or SHOW
    * CREATE TABLE, SHOW TBLPROPERTIES, and the ALTER legs silently
    * drift apart.
    */
  private def knobsOf(s: ManifestTableStore): Seq[(String, String)] =
    Seq(
      "statsColumns" -> s.statsColumnNames.mkString(","),
      "bloomColumns" -> s.bloomColumnNames.mkString(","),
      "morDeleteKey" -> s.morDeleteKey.getOrElse(""))
      .filter(_._2.nonEmpty)

  private def specJson(partitionBy: Seq[String],
      props: Map[String, String],
      meta: StoreCatalog.TableMeta): Array[Byte] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val pb = root.putArray("partitionBy")
    partitionBy.foreach(pb.add)
    Seq("statsColumns", "bloomColumns", "morDeleteKey")
      .foreach(k => props.get(k).foreach(v => root.put(k, v)))
    def obj(key: String, m: Map[String, String]): Unit =
      if (m.nonEmpty) {
        val d = root.putObject(key)
        m.toSeq.sortBy(_._1).foreach { case (c, v) => d.put(c, v) }
      }
    obj("defaults", meta.defaults)
    obj("generated", meta.generated)
    obj("comments", meta.comments)
    // "start:step" (ALWAYS — the pre-BY-DEFAULT shape, kept so older
    // sidecars load unchanged) or "start:step:d" (BY DEFAULT)
    obj("identity", meta.identity.map { case (c, (s, k, d)) =>
      c -> (s"$s:$k" + (if (d) ":d" else "")) })
    mapper.writeValueAsString(root).getBytes("UTF-8")
  }

  /** Persist the creation-time physical spec beside the table (atomic
    * create-if-absent) — what [[existing]] re-attaches from.
    */
  private def persistSpec(spark: SparkSession, path: String,
      partitionBy: Seq[String], props: Map[String, String],
      meta: StoreCatalog.TableMeta): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path, "table_spec")
    AtomicCreate.publish(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp,
      specJson(partitionBy, props, meta))
  }

  /** The spec sidecar generations at `path`, newest last: the creation
    * file `table_spec` (generation 1) plus `table_spec_v<N>` updates
    * (SET/UNSET TBLPROPERTIES). Updates are PUBLISHED, never edited in
    * place — same single-step create-if-absent protocol as manifest
    * versions, so a spec file either does not exist or is complete and
    * a crashed update can never leave the table spec-less (the stale
    * generation simply stays current).
    */
  private def specFiles(f: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    if (!f.exists(dir)) return Nil
    f.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n == "table_spec") Some((1L, st.getPath))
      else if (n.startsWith("table_spec_v"))
        n.stripPrefix("table_spec_v").toLongOption.map((_, st.getPath))
      else None
    }.sortBy(_._1)
  }

  /** Publish the NEXT spec generation (optimistic on the generation
    * number, like a manifest commit) — SET/UNSET TBLPROPERTIES' and
    * the column-metadata verbs' durable leg. Takes TRANSFORMS, not
    * final bytes: a lost publish race reloads the winner's generation
    * and re-applies the transform to IT (the manifest tryCommit rebase
    * contract) — republishing stale bytes would silently revert a
    * concurrent ALTER's change on the next re-attach. `seed` is the
    * starting state when no spec sidecar exists yet. Returns what was
    * actually published so callers update their registries from the
    * rebased result, never from a pre-race snapshot.
    */
  private def updateSpec(spark: SparkSession, path: String,
      partitionBy: Seq[String],
      propsXf: Map[String, String] => Map[String, String],
      metaXf: StoreCatalog.TableMeta => StoreCatalog.TableMeta,
      seed: (Map[String, String], StoreCatalog.TableMeta))
      : (Map[String, String], StoreCatalog.TableMeta) = {
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    while (true) {
      val next = math.max(specFiles(f, path).map(_._1).maxOption
        .getOrElse(0L), 1L) + 1L
      val (props0, meta0) = loadSpec(spark, path)
        .map { case (_, p, m) => (p, m) }.getOrElse(seed)
      val props = propsXf(props0)
      val meta = metaXf(meta0)
      if (AtomicCreate.publish(f,
          new org.apache.hadoop.fs.Path(path, s"table_spec_v$next"),
          specJson(partitionBy, props, meta)))
        return (props, meta)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Durable name → path pointer under `basePath/_catalog/` so a
    * custom-LOCATION table stays addressable (IF NOT EXISTS re-attach,
    * DROP TABLE) from catalogs that did not create it.
    */
  private def persistPointer(spark: SparkSession, name: String,
      path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(s"$basePath/_catalog/$name")
    AtomicCreate.publish(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp,
      path.getBytes("UTF-8"))
  }

  // ---------------------------------------------------------------- views

  /** Persistent views live as TEXT sidecars under `_catalog/_views/`
    * (a SUBDIRECTORY, so [[listTables]]' pointer listing — files only —
    * never reads a view as a table pointer). A view is re-parsed and
    * spliced at READ time: it always serves the live state of its
    * tables and inherits their manifest pruning; nothing is
    * materialized. Same atomic create-if-absent protocol as every
    * sidecar; OR REPLACE deletes-then-publishes explicitly.
    */
  private def viewPath(name: String): org.apache.hadoop.fs.Path = {
    require(name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"view name must be [A-Za-z0-9_-]+, got '$name'")
    new org.apache.hadoop.fs.Path(s"$basePath/_catalog/_views/$name")
  }

  /** View-lookup cache — BOTH directions, same staleness contract as
    * [[absent]] (views another session created/replaced after this
    * catalog cached need a fresh catalog): every bare relation name in
    * every read resolves its view text with at most ONE filesystem
    * probe per catalog lifetime, not 2-3 FS round-trips per reference
    * per statement (a 5-level view chain over object storage would
    * otherwise pay ~10 reads per execution).
    */
  private val absentViews =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val viewCache =
    new scala.collection.concurrent.TrieMap[String, String]()
  // serializes cache mutations against publish/drop so a concurrent
  // reader's read-through put cannot resurrect a just-dropped view or
  // pin pre-replace text over a redefinition; cross-SESSION staleness
  // is the documented refresh() contract, in-session races are not
  private val viewLock = new Object

  private def publishView(spark: SparkSession, name: String,
      text: String): Unit = viewLock.synchronized {
    val hp = viewPath(name)
    AtomicCreate.replacePublish(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp,
      text.getBytes("UTF-8"))
    absentViews.remove(name)
    viewCache.put(name, text)
  }

  private def dropViewSidecar(spark: SparkSession,
      name: String): Boolean = viewLock.synchronized {
    val hp = viewPath(name)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) false
    else {
      f.delete(hp, false)
      absentViews.remove(name); viewCache.remove(name)
      true
    }
  }

  /** The persisted definition text of view `name`, if one exists. */
  def viewText(spark: SparkSession, name: String): Option[String] = {
    viewCache.get(name).foreach(t => return Some(t))
    if (absentViews.contains(name) || name == "_catalog") return None
    if (!name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
      return None
    val hp = viewPath(name)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    viewLock.synchronized {
      viewCache.get(name) match {
        case some @ Some(_) => some
        case None =>
          AtomicCreate.readString(f, hp) match {
            case Some(t) => viewCache.put(name, t); Some(t)
            case None => absentViews.add(name); None
          }
      }
    }
  }

  /** Every persisted view name, sorted — the durable discovery SHOW
    * VIEWS serves (a fresh session sees views it did not create).
    */
  def listViews(spark: SparkSession): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/_catalog/_views")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath.getName).sorted
  }

  /** Splice every persisted-view reference in a plan with its parsed
    * definition (recursively — views over views compose), aliased under
    * the view's name so column references resolve as they would against
    * a table. Time travel on a VIEW refuses: a view is a definition,
    * not data — there is no version chain to travel (Delta refuses
    * identically); travel the underlying tables inside the view text
    * instead. Depth-capped so a cyclic definition refuses loudly.
    */
  /** The MV definition's DECLARED output column names, in definition
    * order — Some only when the backing carries MORE columns than
    * declared (the generated fold pairs `__rows` / `<a>__cnt` /
    * `<a>__sum`, appended at CREATE or by a vintage-upgrade REPLACE).
    * Reads and DESCRIBE serve THROUGH this projection, keeping the
    * fold columns storage-internal: a REFRESH that upgrades a
    * pre-pair backing mid-life must never widen a user's `SELECT *` —
    * exactly the drift the naked-star CREATE refusal exists to
    * prevent. None for non-MVs, row-map shapes, and vintage backings
    * of exactly the declared width (nothing to hide).
    */
  private def mvDeclaredProjection(spark: SparkSession,
      name: String): Option[Seq[String]] =
    mviewSpec(spark, name).flatMap { case (text, _) =>
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      val parsed = try spark.sessionState.sqlParser.parsePlan(text)
        catch { case scala.util.control.NonFatal(_) => return None }
      val items = parsed match {
        case Aggregate(_, aggExprs, _, _) => aggExprs
        case _ => return None // only fold shapes generate columns
      }
      val names = items.flatMap {
        case a: Alias => Some(a.name)
        case a: UnresolvedAttribute if a.nameParts.size == 1 =>
          Some(a.nameParts.head)
        case _ => None
      }
      if (names.size != items.size || names.isEmpty) return None
      val backing = resolve(spark, name) match {
        case Some(st) => st.read(spark).columns.toSeq
        case None => return None
      }
      val extra = backing.exists(c =>
        !c.equalsIgnoreCase("batch_id") &&
          !names.exists(_.equalsIgnoreCase(c)))
      if (extra) Some(names) else None
    }

  /** Wrap an MV backing read in the declared-output projection when
    * one applies ([[mvDeclaredProjection]]); identity otherwise.
    */
  private def mvProject(spark: SparkSession, name: String,
      child: LogicalPlan): LogicalPlan =
    mvDeclaredProjection(spark, name) match {
      case Some(cols) =>
        org.apache.spark.sql.catalyst.plans.logical.Project(
          cols.map(c => org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute(Seq(c))), child)
      case None => child
    }

  private def spliceViews(spark: SparkSession, plan: LogicalPlan,
      depth: Int = 0): LogicalPlan =
    plan.transformWithSubqueries {
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
          if (tt.relation match {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedRelation =>
              u.multipartIdentifier.size == 1 &&
                viewText(spark, u.multipartIdentifier.head).isDefined
            case _ => false
          }) =>
        throw new IllegalArgumentException(
          "time travel on a VIEW is not supported (a view is a " +
            "definition, not data): apply VERSION AS OF / TIMESTAMP " +
            "AS OF to the underlying tables in the view definition")
      // an MV is a real versioned table: VERSION AS OF / TIMESTAMP AS
      // OF route to its BACKING (resolved here — the spliced subtree
      // carries no unresolved MV reference the transform would
      // revisit), behind the declared-output projection so the fold
      // pair columns stay storage-internal at every version
      case tt: org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
          if !mvInternalOp.get() && (tt.relation match {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedRelation =>
              u.multipartIdentifier.size == 1 &&
                mviewSpec(spark,
                  u.multipartIdentifier.head).isDefined
            case _ => false
          }) =>
        val name = tt.relation
          .asInstanceOf[org.apache.spark.sql.catalyst.analysis
            .UnresolvedRelation].multipartIdentifier.head
        val st = resolve(spark, name).getOrElse(
          throw new IllegalArgumentException(
            s"materialized view '$name' has no backing table"))
        org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
          name, mvProject(spark, name,
            StoreSql.travelRead(spark, st, tt.timestamp, tt.version)))
      // current-state MV read with fold columns present: serve
      // through the declared projection (resolved splice — same
      // pushdown-capable format read route would produce)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 && !mvInternalOp.get() &&
            mvDeclaredProjection(spark,
              u.multipartIdentifier.head).isDefined =>
        val name = u.multipartIdentifier.head
        val st = resolve(spark, name).get
        org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
          name, mvProject(spark, name,
            StoreSql.formatRead(spark, st, Map.empty)))
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 =>
        val name = u.multipartIdentifier.head
        viewText(spark, name) match {
          case Some(text) =>
            require(depth < 10,
              s"view nesting deeper than 10 at '$name' — cyclic view " +
                "definition?")
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
              name,
              spliceViews(spark, attachAndParse(spark, text), depth + 1))
          case None => u // not a view — leave for route/analyzer
        }
    }

  /** Parse a view definition and lazy-attach every table it references
    * — a fresh session's first statement may be a query over a view of
    * tables it never touched.
    */
  private def attachAndParse(spark: SparkSession,
      text: String): LogicalPlan = {
    val p = spark.sessionState.sqlParser.parsePlan(text)
    attachReferenced(spark, p)
    p
  }

  private def readPointer(spark: SparkSession,
      name: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(s"$basePath/_catalog/$name")
    AtomicCreate.readString(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
      .map(_.trim)
  }

  /** The rename tombstone for `name`, if the table was renamed away:
    * a small file `_catalog/_renamed/<old>` holding the new name. A
    * SUBDIRECTORY (like `_views`), so [[listTables]]' pointer listing
    * (files only) never reads one as a table pointer. The tombstone
    * is what keeps the old name from silently re-attaching via the
    * default-path fallback — the renamed table's data stays in the
    * directory named after the OLD name (pointer-level rename moves
    * no data; at 100 TB that is the only affordable rename).
    */
  private def renamedTo(spark: SparkSession,
      name: String): Option[String] = {
    if (name.isEmpty || name.contains("/")) return None
    val hp = new org.apache.hadoop.fs.Path(
      s"$basePath/_catalog/_renamed/$name")
    AtomicCreate.readString(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
      .map(_.trim)
  }

  /** The NEWEST spec generation at `path` (see [[specFiles]]). */
  private def loadSpec(spark: SparkSession, path: String)
      : Option[(Seq[String], Map[String, String],
        StoreCatalog.TableMeta)] = {
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val hp = specFiles(f, path).lastOption.map(_._2).getOrElse {
      return None
    }
    val in = f.open(hp)
    val text =
      try {
        val buf = new Array[Byte](f.getFileStatus(hp).getLen.toInt)
        in.readFully(buf); new String(buf, "UTF-8")
      } finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(text)
    val pb = Option(root.get("partitionBy")).toSeq
      .flatMap(n => (0 until n.size()).map(n.get(_).asText()))
    val props = Seq("statsColumns", "bloomColumns", "morDeleteKey")
      .flatMap(k => Option(root.get(k)).map(k -> _.asText())).toMap
    def obj(key: String): Map[String, String] =
      Option(root.get(key)).map { d =>
        val it = d.fieldNames()
        Iterator.continually(if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined).flatten
          .map(c => c -> d.get(c).asText()).toMap
      }.getOrElse(Map.empty[String, String])
    Some((pb, props, StoreCatalog.TableMeta(
      defaults = obj("defaults"), generated = obj("generated"),
      comments = obj("comments"),
      identity = obj("identity").map { case (c, v) =>
        v.split(":", 3) match {
          case Array(s, k) => c -> ((s.toLong, k.toLong, false))
          case Array(s, k, "d") => c -> ((s.toLong, k.toLong, true))
          case other => throw new IllegalArgumentException(
            s"corrupt identity spec for '$c': '$v'")
        }
      })))
  }

  /** The single-part table name a SHOW/DESCRIBE-style statement
    * targets (parsers wrap it as UnresolvedTable or
    * UnresolvedTableOrView depending on the verb).
    */
  private def tableNameOf(rel: LogicalPlan, verb: String): String = {
    val parts = rel match {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        t.multipartIdentifier
      case t: org.apache.spark.sql.catalyst.analysis
          .UnresolvedTableOrView => t.multipartIdentifier
      case other => throw new IllegalArgumentException(
        s"unsupported $verb target: $other")
    }
    require(parts.size == 1,
      s"store tables are single-part names, got ${parts.mkString(".")}")
    parts.head
  }

  /** True while the MV machinery itself drives exec (the full-
    * recompute RTAS) — its statements bypass [[guardMvWrite]].
    */
  private val mvInternalOp = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Refuse direct writes into a materialized view's backing table —
    * MV content is DERIVED state. DML (a hand INSERT) would be
    * silently overwritten by the next full recompute and silently
    * double-counted by the next incremental fold; TRUNCATE / REPLACE
    * / RESTORE are worse — they change the content while the sidecar
    * still records the sources as refreshed, so the next REFRESH
    * reports `current` over wrong data. (The MV machinery's own
    * writes run under [[mvInternalOp]].)
    */
  private def guardMvWrite(spark: SparkSession,
      plan: LogicalPlan): Unit = {
    if (mvInternalOp.get()) return
    def targetName(rel: LogicalPlan): Option[String] = rel match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 =>
        Some(u.multipartIdentifier.head)
      case s: org.apache.spark.sql.catalyst.plans.logical
          .SubqueryAlias => targetName(s.child)
      case _ => None
    }
    val tgt = plan match {
      case i: org.apache.spark.sql.catalyst.plans.logical
          .InsertIntoStatement => targetName(i.table)
      case u: org.apache.spark.sql.catalyst.plans.logical
          .UpdateTable => targetName(u.table)
      case d: org.apache.spark.sql.catalyst.plans.logical
          .DeleteFromTable => targetName(d.table)
      case m: org.apache.spark.sql.catalyst.plans.logical
          .MergeIntoTable => targetName(m.targetTable)
      case t: org.apache.spark.sql.catalyst.plans.logical
          .TruncateTable =>
        Some(tableNameOf(t.table, "TRUNCATE"))
      case r: org.apache.spark.sql.catalyst.plans.logical
          .ReplaceTable =>
        r.name match {
          case u: UnresolvedIdentifier if u.nameParts.size == 1 =>
            Some(u.nameParts.head)
          case _ => None
        }
      case r: org.apache.spark.sql.catalyst.plans.logical
          .ReplaceTableAsSelect =>
        r.name match {
          case u: UnresolvedIdentifier if u.nameParts.size == 1 =>
            Some(u.nameParts.head)
          case _ => None
        }
      case _ => None
    }
    tgt.filter(mviewSpec(spark, _).isDefined).foreach { n =>
      throw new IllegalArgumentException(
        s"'$n' is a MATERIALIZED VIEW — its content derives from its " +
          "definition; write to the source tables and REFRESH " +
          "MATERIALIZED VIEW instead")
    }
  }

  /** Refuse RENAME/DROP/retype of a GENERATED ALWAYS AS IDENTITY
    * column: its ledger + registry key by the declared name and type,
    * and the structural verbs route through StoreSql, which cannot see
    * catalog metadata — an unguarded rename would leave the table
    * un-insertable with no repairing DDL.
    */
  private def guardIdentityStructuralEdit(spark: SparkSession,
      plan: LogicalPlan): Unit = {
    def refuse(table: String, col: String, verb: String): Unit = {
      val ids = metaOf(table).identity
      ids.keys.find(_.equalsIgnoreCase(col)).foreach { c =>
        throw new IllegalArgumentException(
          s"$verb: column '$c' of table '$table' is a GENERATED " +
            "IDENTITY column — its ledger and registry key by the " +
            "declared name and type; recreate the table (CREATE OR " +
            "REPLACE) to restructure it")
      }
    }
    plan match {
      case rc: org.apache.spark.sql.catalyst.plans.logical
          .RenameColumn =>
        refuse(tableNameOf(rc.table, "RENAME COLUMN"),
          rc.column.name.last, "RENAME COLUMN")
      case dc: org.apache.spark.sql.catalyst.plans.logical
          .DropColumns =>
        val t = tableNameOf(dc.table, "DROP COLUMN")
        dc.columnsToDrop.foreach(c =>
          refuse(t, c.name.last, "DROP COLUMN"))
      case ac: org.apache.spark.sql.catalyst.plans.logical
          .AlterColumns =>
        val t = tableNameOf(ac.table, "ALTER COLUMN")
        ac.specs.filter(_.newDataType.nonEmpty).foreach(sp =>
          refuse(t, sp.column.name.last, "ALTER COLUMN TYPE"))
      case _ =>
    }
  }

  /** SHOW TABLES/VIEWS LIKE pattern → case-insensitive regex
    * (`*` wildcard, `|` alternatives — Spark's own semantics). ONE
    * implementation so the two verbs cannot drift.
    */
  private def likePattern(p: String): scala.util.matching.Regex =
    ("(?i)" + p.split("\\|").map(s =>
      java.util.regex.Pattern.quote(s).replace("*", "\\E.*\\Q"))
      .mkString("|")).r

  /** Views and tables share the name namespace (Spark/Delta contract):
    * a table verb aimed at a view name refuses with the right verb.
    */
  private def requireNotView(spark: SparkSession, name: String): Unit =
    require(viewText(spark, name).isEmpty,
      s"'$name' is a VIEW (views and tables share the namespace); " +
        "DROP VIEW first or pick another name")

  private def identOf(name: LogicalPlan): String = name match {
    case u: UnresolvedIdentifier =>
      require(u.nameParts.size == 1,
        s"store tables are single-part names, got " +
          u.nameParts.mkString("."))
      require(u.nameParts.head != "_catalog",
        "'_catalog' is reserved: it is the catalog's own name-pointer " +
          "directory")
      u.nameParts.head
    case other => throw new IllegalArgumentException(
      s"unsupported CREATE TABLE name: $other")
  }

  /** Refuse TBLPROPERTIES whose store knobs name columns the table does
    * not declare — a typo'd `statsColumns` would otherwise silently
    * collect no stats and the table would never prune.
    */
  private def validateProps(declared: Seq[String],
      partitionBy: Seq[String], props: Map[String, String]): Unit = {
    def known(c: String) =
      declared.exists(_.equalsIgnoreCase(c))
    partitionBy.foreach(c => require(known(c),
      s"PARTITIONED BY column '$c' is not among the declared columns " +
        s"(${declared.mkString(", ")})"))
    Seq("statsColumns", "bloomColumns").foreach { k =>
      props.get(k).toSeq.flatMap(_.split(",")).map(_.trim)
        .filter(_.nonEmpty).foreach(c => require(known(c),
          s"TBLPROPERTIES $k names column '$c' which the table does " +
            s"not declare (${declared.mkString(", ")}); stats/bloom on " +
            "a missing column would silently never prune"))
    }
    props.get("morDeleteKey").map(_.trim).filter(_.nonEmpty)
      .foreach(c => require(known(c),
        s"TBLPROPERTIES morDeleteKey names column '$c' which the " +
          s"table does not declare (${declared.mkString(", ")})"))
  }

  /** Delete the spec + pointer sidecars of a table that has ZERO
    * committed versions — the crash window of an earlier CREATE/CTAS
    * (sidecars published, first commit never landed). The caller is
    * about to republish from ITS declaration; the stale sidecar must
    * not win the create-if-absent publish and silently re-attach later
    * sessions with the dead create's partitioning/properties.
    */
  private def clearStaleSidecars(spark: SparkSession, name: String,
      path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sf = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    specFiles(sf, path).foreach { case (_, p) => sf.delete(p, false) }
    // a crashed earlier CREATE may also have left an identity ledger
    // (allocation publishes ledger files independently of manifest
    // commits); a stale high-water mark would silently override THIS
    // declaration's START WITH — the fresh create owns the path
    // (zero committed versions), so the reset is safe here
    val idDir = new org.apache.hadoop.fs.Path(s"$path/identity")
    if (sf.exists(idDir)) sf.delete(idDir, true)
    val ptr = new org.apache.hadoop.fs.Path(s"$basePath/_catalog/$name")
    val pf = ptr.getFileSystem(conf)
    if (pf.exists(ptr)) {
      // the zero-committed-versions precondition enforced at the
      // deletion itself, not just in [[existing]]: a table another
      // session committed at the pointer's target between our
      // existence check and here must refuse, not be orphaned (its
      // pointer is the only address of a custom-LOCATION table)
      readPointer(spark, name).filter(_ != path).foreach { target =>
        require(mk(target, Nil, Map.empty).currentVersion(spark) == 0L,
          s"table '$name' was committed concurrently at $target; " +
            "refusing CREATE (the name pointer addresses a live table)")
      }
      pf.delete(ptr, false)
    }
  }

  /** (path, partitionBy, store props) as a CREATE statement declares
    * them — the spec [[persistSpec]] records and [[mk]] instantiates.
    */
  /** The CREATE TABLE body once [[existing]] ruled out a live table:
    * publish spec + name pointer BEFORE the first commit (a crash
    * between commit and sidecar must not leave a table that
    * re-attaches spec-less — silently stripped partitioning/
    * properties), then the declared schema as the v1 zero-row marker.
    * A crashed EARLIER create (spec published, zero committed
    * versions — exactly the case where `existing` returned None) left
    * a sidecar that may disagree with THIS declaration; republish,
    * don't let a stale spec win the create-if-absent race. Column
    * DEFAULTs persist as their declaration's own SQL (re-parsed with
    * expr() at fill time), validated to parse NOW so a broken default
    * refuses at create, not at the first omitting INSERT.
    */
  private def createFresh(spark: SparkSession, name: String,
      columns: Seq[ColumnDefinition], partitioning: Seq[Transform],
      tableSpec: org.apache.spark.sql.catalyst.plans.logical
        .TableSpecBase): Unit = {
    val (path, pb, props) = physical(name, partitioning, tableSpec)
    validateProps(columns.map(_.name), pb, props)
    val store = mk(path, pb, props)
    val meta = metaFromColumns(spark, columns)
    clearStaleSidecars(spark, name, path)
    persistSpec(spark, path, pb, props, meta)
    persistPointer(spark, name, path)
    store.createEmpty(spark, StructType(columns.map {
      c: ColumnDefinition => StructField(c.name, c.dataType, c.nullable)
    }))
    installChecks(spark, store, columns, tableSpec, meta)
    metaReg.put(name, meta)
    absent.remove(name); reg.put(name, store)
  }

  /** The CTAS body once [[existing]] ruled out a live table — spec +
    * pointer BEFORE the (long) load (see [[createFresh]]), checks
    * BEFORE the load (the batch passes the same write-time gate every
    * later INSERT will), then the SELECT as one exactly-once batch.
    */
  private def ctasFresh(spark: SparkSession, name: String,
      partitioning: Seq[Transform],
      tableSpec: org.apache.spark.sql.catalyst.plans.logical
        .TableSpecBase,
      query: LogicalPlan, batchId: Option[Long]): Unit = {
    val (path, pb, props) = physical(name, partitioning, tableSpec)
    val store = mk(path, pb, props)
    val bid = batchId.getOrElse(
      throw new IllegalArgumentException(
        "CTAS requires an explicit batchId: the loaded rows commit " +
          "under it, exactly like INSERT"))
    // building the frame is cheap (lazy) and yields the CTAS schema
    // the TBLPROPERTIES must name columns of
    val df = org.apache.spark.sql.graftshim.PlanShim.ofRows(
      spark, StoreSql.route(spark, tables, query))
    validateProps(df.columns.toSeq, pb, props)
    clearStaleSidecars(spark, name, path)
    persistSpec(spark, path, pb, props, StoreCatalog.TableMeta())
    persistPointer(spark, name, path)
    checksOf(tableSpec).foreach { case (n, pred) =>
      store.addCheck(spark, n, pred) }
    store.append(df, bid)
    // a CTAS table declares no column metadata — a same-named earlier
    // table's entries must not survive into it
    metaReg.put(name, StoreCatalog.TableMeta())
    absent.remove(name); reg.put(name, store)
  }

  /** The REPLACE body against a live table `s`: ONE metadata commit
    * redeclares the schema and retires every row IN PLACE
    * ([[ManifestTableStore.replaceSchema]] — history preserved), then
    * the unversioned write-time surface swaps wholesale: checks (old
    * gates dropped, the replacing declaration's installed), column
    * DEFAULTs, and the spec sidecar (partitioning/properties), with
    * the registry handle re-instantiated under the new physical
    * config. `declaredSchema` overrides the column list for RTAS
    * (schema = the SELECT's, no declared columns or defaults).
    * Returns the fresh handle so RTAS can load into it.
    */
  private def replaceAt(spark: SparkSession, name: String,
      s: ManifestTableStore, columns: Seq[ColumnDefinition],
      partitioning: Seq[Transform],
      tableSpec: org.apache.spark.sql.catalyst.plans.logical
        .TableSpecBase,
      declaredSchema: Option[StructType] = None): ManifestTableStore = {
    val (_, pb, props) = physical(name, partitioning, tableSpec)
    val schema = declaredSchema.getOrElse(StructType(columns.map {
      c: ColumnDefinition => StructField(c.name, c.dataType, c.nullable)
    }))
    validateProps(schema.fieldNames.toSeq, pb, props)
    val meta = metaFromColumns(spark, columns)
    s.replaceSchema(spark, schema, pb)
    // REPLACE is a full redeclaration: the retired table's identity
    // high-water ledger must not override the replacing declaration's
    // START WITH. Cleared AFTER the replace commit — a crash between
    // them leaves the stale ledger beside the replaced (empty) table,
    // so ids would continue past the old watermark: a GAP, which the
    // identity contract allows; clearing BEFORE could reissue live
    // ids if the replace commit then lost a race. Pre-replace
    // versions stay time-travelable with their original ids — the
    // ledger governs only future allocation.
    s.clearIdentityLedger(spark)
    s.listChecks(spark).foreach { case (n, _) => s.dropCheck(spark, n) }
    val fresh = mk(s.tablePath, pb, props)
    installChecks(spark, fresh, columns, tableSpec, meta)
    // REPLACE is a full redeclaration: constant transforms — a lost
    // race republishes the SAME declaration (replace wins by contract)
    updateSpec(spark, s.tablePath, pb, _ => props, _ => meta,
      (props, meta))
    metaReg.put(name, meta)
    absent.remove(name); reg.put(name, fresh)
    fresh
  }

  /** `CREATE TABLE t2 SHALLOW CLONE t1 [VERSION AS OF n]` — the
    * ZERO-COPY table copy: the clone's version 1 is the source's
    * manifest at the clone point (one footer write, no data read,
    * copied, or moved — at 100 TB this is the only affordable "give
    * me a dev copy"), and every configuration surface travels with
    * it: partitioning, physical knobs, column metadata (defaults/
    * generated/comments), and write-time checks. Source and clone
    * diverge freely from there — the clone's own writes land under
    * its own root; `compact()` on the clone severs the last physical
    * tie. Delta's documented VACUUM caveat is CLOSED here, not
    * inherited: the clone publishes a `clone_refs/` entry in the
    * source's root, and the source's vacuum refuses to delete history
    * an un-severed clone still serves (self-healing once the clone
    * severs or drops). VACUUM on the CLONE is structurally safe (its
    * candidate set lists only the clone's own data dir). IDENTITY
    * columns clone safely too: the clone's ledger is seeded with the
    * source's high-water mark, so its first INSERT continues above
    * every id the cloned rows already hold.
    */
  private def cloneTable(spark: SparkSession, target: String,
      source: String, versionAsOf: Option[Long],
      ifNotExists: Boolean): DataFrame = {
    // the CREATE path reserves this name through identOf; the clone
    // verb parses outside Spark's grammar and must reserve it itself —
    // a '_catalog' clone would write a manifest INTO the name-pointer
    // directory, corrupting every listTables/readPointer after it
    require(target != "_catalog" && source != "_catalog",
      "'_catalog' is reserved: it is the catalog's own name-pointer " +
        "directory")
    requireNotView(spark, target)
    require(viewText(spark, source).isEmpty,
      s"SHALLOW CLONE: '$source' is a VIEW — clone the underlying " +
        "table, or CTAS the view if a materialized copy is intended")
    val src = resolve(spark, source).getOrElse(
      throw new IllegalArgumentException(
        s"SHALLOW CLONE: unknown source table '$source' (known: " +
          s"${listTables(spark).mkString(", ")})"))
    resolve(spark, target) match {
      case Some(_) =>
        require(ifNotExists,
          s"table '$target' already exists (use IF NOT EXISTS)")
        return spark.emptyDataFrame // registered by resolve already
      case None =>
    }
    // validate the requested version BEFORE any sidecar persists — a
    // refused clone must leave nothing behind (vacuumed/incomplete
    // manifests still refuse inside shallowCloneTo itself)
    versionAsOf.foreach { v =>
      val cur = src.currentVersion(spark)
      require(v >= 1 && v <= cur,
        s"SHALLOW CLONE: version $v of '$source' does not exist " +
          s"(current version: $cur)")
      // the checks copied below are the source's CURRENT set, but a
      // check added AFTER version v was never validated against v's
      // rows — without this scan the clone could be born violating its
      // own gates, and every later DML rewrite on it would fail at the
      // check choke point. The one place the zero-copy contract bends:
      // a VERSIONED clone pays one snapshot scan (all checks in a
      // single aggregate job); a current-version clone stays free
      // (those rows were WRITTEN through these exact gates).
      val checks = src.listChecks(spark)
      if (checks.nonEmpty && v != cur) {
        import org.apache.spark.sql.functions.{count_if, expr, not}
        val snap = src.readVersion(spark, v)
        val counts = checks.map { case (n, p) =>
          count_if(not(expr(p))).as(n) }
        val row = snap.agg(counts.head, counts.tail: _*).head()
        checks.zipWithIndex.foreach { case ((n, p), i) =>
          require(row.getLong(i) == 0L,
            s"SHALLOW CLONE VERSION AS OF $v: check '$n' ($p) is " +
              s"violated by ${row.getLong(i)} row(s) at that version " +
              "(the check was added after it); clone a version that " +
              "satisfies it or drop the check on the source first")
        }
      }
    }
    val path = s"$basePath/$target"
    val pb = src.partitionColumns
    val props = knobsOf(src).toMap
    val meta = metaOf(source)
    // spec + pointer BEFORE the commit, exactly like CREATE
    clearStaleSidecars(spark, target, path)
    persistSpec(spark, path, pb, props, meta)
    persistPointer(spark, target, path)
    val store = mk(path, pb, props)
    // seed the clone's identity ledger with the SOURCE's high-water
    // mark BEFORE the clone commit (fail-safe ordering, like
    // clone_inherited_ids): the cloned rows physically hold ids the
    // source's ledger allocated — without the seed the clone's first
    // INSERT would find an empty ledger, restart at START WITH, and
    // reissue ids the inherited rows already carry (COUNT(DISTINCT)
    // < COUNT(*)). One small read + one publish per identity column;
    // a versioned clone seeds the CURRENT watermark — at most a gap,
    // never a collision. A crash between seed and commit leaves an
    // inert ledger beside a zero-version table (clearStaleSidecars
    // resets it on the next create).
    meta.identity.keys.foreach { c =>
      src.identityLedgerTip(spark, c).foreach { tip =>
        store.seedIdentityLedger(spark, c, tip)
      }
    }
    src.shallowCloneTo(spark, store, versionAsOf)
    // write-time gates travel with the clone (CHECKs, NOT NULLs, the
    // generated-column invariants — all stored as named checks);
    // validateExisting=false: the cloned rows were WRITTEN through
    // these exact gates at the source — re-scanning the whole clone
    // per check would defeat the zero-copy contract
    src.listChecks(spark).foreach { case (n, p) =>
      store.addCheck(spark, n, p, validateExisting = false) }
    metaReg.put(target, meta)
    absent.remove(target); reg.put(target, store)
    spark.emptyDataFrame
  }

  /** `ALTER TABLE t [ALTER COLUMN c] SYNC IDENTITY` — Delta's repair
    * verb: re-derive the identity high-water mark from the DATA after
    * an out-of-band load bypassed the write boundary (a direct
    * `store.append`, a restored backup). One single-column pruned
    * aggregate per identity column (MAX for a positive step, MIN for
    * a negative one), then a ledger bump past it — the next generated
    * id is guaranteed unique again. Works for ALWAYS columns too (the
    * out-of-band load is exactly how an ALWAYS table can drift).
    */
  private def syncIdentity(spark: SparkSession, name: String,
      column: Option[String]): DataFrame = {
    requireNotView(spark, name)
    val s = resolve(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"SYNC IDENTITY: unknown table '$name'"))
    val ids0 = metaOf(name).identity
    val ids = column match {
      case Some(c) =>
        val hit = ids0.filter(_._1.equalsIgnoreCase(c))
        require(hit.nonEmpty,
          s"SYNC IDENTITY: column '$c' of '$name' is not an IDENTITY " +
            s"column (identity: ${ids0.keys.mkString(", ")})")
        hit
      case None =>
        require(ids0.nonEmpty,
          s"SYNC IDENTITY: table '$name' has no IDENTITY column")
        ids0
    }
    if (s.currentVersion(spark) == 0L) return spark.emptyDataFrame
    import org.apache.spark.sql.functions.{col => fcol, max, min}
    val aggs = ids.toSeq.map { case (c, (_, sp, _)) =>
      (if (sp > 0) max(fcol(c)) else min(fcol(c))).as(c) }
    val row = s.read(spark).agg(aggs.head, aggs.tail: _*).head()
    ids.toSeq.zipWithIndex.foreach { case ((c, (st, sp, _)), i) =>
      if (!row.isNullAt(i))
        s.bumpIdentityPast(spark, c, row.getLong(i), st, sp)
    }
    spark.emptyDataFrame
  }

  /** Every persisted view whose definition references `name` as a
    * bare relation (tables and views share the namespace a view text
    * resolves in). One parse per view — view count, not data, bounded.
    */
  private def viewsReferencing(spark: SparkSession,
      name: String): Seq[String] =
    listViews(spark).filter { v =>
      viewText(spark, v).exists { text =>
        try {
          val p = spark.sessionState.sqlParser.parsePlan(text)
          (p +: p.subqueriesAll).exists(_.collectFirst {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedRelation
                if u.multipartIdentifier.size == 1 &&
                  u.multipartIdentifier.head.equalsIgnoreCase(name) =>
              ()
          }.isDefined)
        } catch { case _: Exception => false }
      }
    }

  /** Materialized views whose definition references `name` as a bare
    * relation — same hazard as [[viewsReferencing]], checked by raw
    * name (no resolve: the point is to catch the reference BEFORE the
    * name stops resolving).
    */
  private def mviewsReferencing(spark: SparkSession,
      name: String): Seq[String] =
    listMaterializedViews(spark).filter { mv =>
      mviewSpec(spark, mv).exists { case (text, _) =>
        try {
          val p = spark.sessionState.sqlParser.parsePlan(text)
          (p +: p.subqueriesAll).exists(_.collectFirst {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedRelation
                if u.multipartIdentifier.size == 1 &&
                  u.multipartIdentifier.head.equalsIgnoreCase(name) =>
              ()
          }.isDefined)
        } catch { case _: Exception => false }
      }
    }

  /** `ALTER TABLE old RENAME TO new` — POINTER-LEVEL rename: the data
    * stays where it is (at 100 TB nothing else is affordable), the
    * NAME moves. The migration set, in crash-safe order:
    *
    *  1. new-name pointer published (create-if-absent — a concurrent
    *     CREATE of `new` wins the race and this rename refuses with
    *     nothing changed);
    *  2. tombstone `_catalog/_renamed/old` published (from here the
    *     old name refuses with the forwarding hint — never a silent
    *     re-attach of the still-on-disk directory);
    *  3. old pointer deleted (a crash between 2 and 3 is invisible:
    *     the tombstone check precedes the pointer read).
    *
    * A crash between 1 and 2 leaves BOTH names addressing the same
    * manifest chain — transitional and safe (commits stay atomic at
    * the manifest; re-running the rename completes the migration).
    * Views referencing the old name REFUSE the rename (Delta lets
    * them break at read time; refusing at the rename is strictly
    * kinder and the view list is catalog-bounded). Clone refs travel
    * by PATH and identity ledgers live UNDER the path, so both are
    * rename-invariant; the in-session registry and column-metadata
    * entries migrate to the new key. The old name stays reserved
    * while the tombstone exists; dropping the renamed table frees the
    * directory, after which CREATE under the old name clears the dead
    * tombstone (see [[clearStaleSidecars]]).
    */
  private def renameTable(spark: SparkSession, oldName: String,
      newName: String): DataFrame = {
    Seq(oldName, newName).foreach(n =>
      require(n != "_catalog" && n != "_views" && n != "_renamed" &&
        n != "_mviews",
        s"'$n' is reserved"))
    requireNotView(spark, oldName)
    require(mviewSpec(spark, oldName).isEmpty,
      s"'$oldName' is a MATERIALIZED VIEW — its definition sidecar " +
        "keys by name; use ALTER MATERIALIZED VIEW " +
        s"$oldName RENAME TO <new>")
    require(viewText(spark, newName).isEmpty,
      s"RENAME TO '$newName': a VIEW holds that name")
    // idempotent completion of a rename that crashed between its
    // tombstone publish (step 2) and its old-pointer delete (step 3):
    // the tombstone already forwards old→new, so resolve(oldName)
    // below would THROW the forwarding hint and the re-run could
    // never finish the migration. When the tombstone names exactly
    // this target and the new pointer is live, the only step left is
    // deleting the stale old pointer — do it and return. Fail-safe:
    // if an old pointer exists but addresses a DIFFERENT path than
    // the new one, refuse (never delete a pointer we cannot prove is
    // the crashed rename's leftover).
    if (renamedTo(spark, oldName).exists(_.equalsIgnoreCase(newName))) {
      val newTgt = readPointer(spark, newName)
      require(newTgt.isDefined,
        s"RENAME '$oldName': a tombstone already forwards to " +
          s"'$newName' but no pointer holds that name — the catalog " +
          "is inconsistent; inspect _catalog/_renamed by hand")
      val oldTgt = readPointer(spark, oldName)
      require(oldTgt.isEmpty || oldTgt == newTgt,
        s"RENAME '$oldName': tombstone forwards to '$newName' but " +
          s"the two pointers address different paths ($oldTgt vs " +
          s"$newTgt); inspect _catalog by hand")
      if (oldTgt.isDefined) {
        val p = new org.apache.hadoop.fs.Path(
          s"$basePath/_catalog/$oldName")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, false)
      }
      reg.remove(oldName)
      return spark.emptyDataFrame
    }
    val src = resolve(spark, oldName).getOrElse(
      throw new IllegalArgumentException(
        s"RENAME: unknown table '$oldName' (known: " +
          s"${listTables(spark).mkString(", ")})"))
    require(renamedTo(spark, newName).isEmpty,
      s"RENAME TO '$newName': that name is itself a rename tombstone " +
        s"(forwarding to '${renamedTo(spark, newName).get}'); pick " +
        "another name or CREATE over it after dropping the target")
    val refs = viewsReferencing(spark, oldName)
    require(refs.isEmpty,
      s"RENAME '$oldName': view(s) ${refs.mkString(", ")} reference " +
        "it by name and would break; DROP or redefine them first")
    val mvRefs = mviewsReferencing(spark, oldName)
    require(mvRefs.isEmpty,
      s"RENAME '$oldName': materialized view(s) " +
        s"${mvRefs.mkString(", ")} reference it by name — their " +
        "REFRESH would break; DROP them first")
    val conf = spark.sparkContext.hadoopConfiguration
    val newPtr = new org.apache.hadoop.fs.Path(
      s"$basePath/_catalog/$newName")
    val pf = newPtr.getFileSystem(conf)
    // idempotent re-run of a crashed rename: the new pointer may
    // already address exactly this path — continue the migration
    val existingTarget = readPointer(spark, newName)
    if (existingTarget.contains(src.tablePath)) ()
    else {
      require(existingTarget.isEmpty && resolve(spark, newName).isEmpty,
        s"RENAME TO '$newName': a table holds that name")
      require(AtomicCreate.publish(pf, newPtr,
        src.tablePath.getBytes("UTF-8")),
        s"RENAME TO '$newName': lost the race to a concurrent CREATE")
    }
    AtomicCreate.replacePublish(pf,
      new org.apache.hadoop.fs.Path(
        s"$basePath/_catalog/_renamed/$oldName"),
      newName.getBytes("UTF-8"))
    pf.delete(new org.apache.hadoop.fs.Path(
      s"$basePath/_catalog/$oldName"), false)
    reg.remove(oldName); absent.remove(newName)
    reg.put(newName, src)
    metaReg.remove(oldName).foreach(m => metaReg.put(newName, m))
    spark.emptyDataFrame
  }

  // ------------------------------------------------- materialized views

  /** A materialized view is a real store TABLE (the gold layer's
    * precomputed aggregate, reference README.md:25) plus a definition
    * sidecar `_catalog/_mviews/<name>` recording the query text and,
    * per source table, the version the backing data reflects. Reads
    * resolve the backing table like any table (BI tools see a table);
    * REFRESH advances it:
    *
    *   - INCREMENTAL when the definition decomposes
    *     ([[mvDecompose]]): a row map — Project/Filter legs, one per
    *     source, under any number of UNION ALLs (one leg without) —
    *     or a GROUP BY of COUNT/SUM/MIN/MAX/AVG over one. Each source
    *     has its own CDF window since the last refresh, and the
    *     refresh reads ONLY `readChangeFeed(start, current)` per moved
    *     source — window-bounded, never the 100 TB source. The
    *     definition runs over the windows' rows with every source
    *     substituted at once: a row map appends the result (insert
    *     windows only); an aggregate folds its partials through the
    *     keyed merge — inserts add, deletes (and CoW UPDATE/MERGE,
    *     which travel as delete+insert pairs) subtract through the
    *     generated pair columns, and a delete window under MIN/MAX
    *     recomputes only the touched groups. The refresh batch id
    *     derives from the windows' end-version SUM in a reserved
    *     namespace, so a crash between the data commit and the
    *     sidecar update replays into a no-op or recovers loudly.
    *   - FULL RECOMPUTE otherwise (joins, UNION DISTINCT,
    *     non-decomposable aggregates, deletes under a row map, and
    *     every gate: a vacuumed window, a NULL group key, an emptied
    *     group, a crashed refresh, a pre-pair backing), reported
    *     loudly in the returned mode row — never a silent wrong
    *     answer.
    */
  private def mviewPath(name: String): org.apache.hadoop.fs.Path = {
    require(name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"materialized view name must be [A-Za-z0-9_-]+, got '$name'")
    new org.apache.hadoop.fs.Path(s"$basePath/_catalog/_mviews/$name")
  }

  /** (definition text, source table -> last refreshed version). */
  private[engine] def mviewSpec(spark: SparkSession,
      name: String): Option[(String, Map[String, Long])] = {
    if (!name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'))
      return None
    val hp = mviewPath(name)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    AtomicCreate.readString(f, hp).map { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = mapper.readTree(json)
      val text = root.get("text").asText()
      val lasts = Option(root.get("last")).map { node =>
        val it = node.fieldNames()
        Iterator.continually(
          if (it.hasNext) Some(it.next()) else None)
          .takeWhile(_.isDefined).flatten
          .map(k => k -> node.get(k).asLong()).toMap
      }.getOrElse(Map.empty[String, Long])
      (text, lasts)
    }
  }

  private def publishMviewSpec(spark: SparkSession, name: String,
      text: String, lasts: Map[String, Long]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("text", text)
    val l = root.putObject("last")
    lasts.toSeq.sortBy(_._1).foreach { case (k, v) => l.put(k, v) }
    val hp = mviewPath(name)
    AtomicCreate.replacePublish(
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp,
      mapper.writeValueAsString(root).getBytes("UTF-8"))
  }

  /** Source tables a definition references, by bare name — views
    * spliced first, so an MV over a view tracks (and refreshes
    * against) the view's underlying TABLES.
    */
  private def mviewSources(spark: SparkSession,
      text: String): Seq[String] = {
    val p = spliceViews(spark,
      spark.sessionState.sqlParser.parsePlan(text))
    attachReferenced(spark, p)
    (p +: p.subqueriesAll).flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 &&
            resolve(spark, u.multipartIdentifier.head).isDefined =>
        u.multipartIdentifier.head
    }).distinct
  }

  private def createMaterializedView(spark: SparkSession, name: String,
      text: String, ifNotExists: Boolean,
      batchId: Option[Long]): DataFrame = {
    require(name != "_catalog" && name != "_views" &&
      name != "_renamed" && name != "_mviews", s"'$name' is reserved")
    if (mviewSpec(spark, name).isDefined) {
      require(ifNotExists, s"materialized view '$name' already " +
        "exists (use IF NOT EXISTS, or DROP MATERIALIZED VIEW)")
      return spark.emptyDataFrame
    }
    requireNotView(spark, name)
    require(resolve(spark, name).isEmpty,
      s"'$name' is a TABLE (tables, views, and materialized views " +
        "share the namespace; a CREATE MATERIALIZED VIEW that " +
        "crashed before its sidecar publish leaves exactly such a " +
        "table — DROP TABLE it to retry)")
    val srcs = mviewSources(spark, text)
    require(srcs.nonEmpty,
      "CREATE MATERIALIZED VIEW: the definition references no store " +
        "table — materialize of a constant query is a CTAS")
    // the definition's WIDTH must be pinned at create: a naked `*`
    // (top level, in a subquery, or inside a spliced view — views
    // here are TEXT, re-parsed per read, so their stars widen too)
    // silently changes the backing schema when a source evolves, and
    // neither the backing table nor the refresh decomposition can
    // follow. COUNT(*) is untouched (its star lives inside the
    // function, not the projection).
    require(!mvHasNakedStar(spark, text),
      "CREATE MATERIALIZED VIEW: the definition selects `*` — its " +
        "width would silently change when a source evolves; name the " +
        "columns explicitly")
    // snapshot the source versions BEFORE the load AND pin the load's
    // reads AT those versions (mvRewriteQuery): the sidecar then
    // records exactly what the backing holds — a commit landing
    // during the CTAS is neither skipped nor double-counted, the next
    // REFRESH's window covers it once
    val lasts = srcs.map(t => t -> store(t).currentVersion(spark)).toMap
    mvCtasRewrite.set((lasts, mvDecompose(spark,
      spark.sessionState.sqlParser.parsePlan(text), srcs)
      .exists(_.isRight)))
    try exec(spark, s"CREATE TABLE $name AS $text", batchId)
    finally mvCtasRewrite.remove()
    publishMviewSpec(spark, name, text, lasts)
    spark.emptyDataFrame
  }

  /** A naked `SELECT *` / `t.*` anywhere in the (view-spliced)
    * definition — stars inside function arguments (COUNT(*)) don't
    * count.
    */
  private def mvHasNakedStar(spark: SparkSession,
      text: String): Boolean = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedStar
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Project}
    def naked(e: Expression): Boolean = e match {
      case _: UnresolvedStar => true
      case a: Alias => naked(a.child)
      case _ => false
    }
    val p = spliceViews(spark,
      spark.sessionState.sqlParser.parsePlan(text))
    (p +: p.subqueriesAll).exists(_.exists {
      case pr: Project => pr.projectList.exists(naked)
      case ag: Aggregate => ag.aggregateExpressions.exists(naked)
      case _ => false
    })
  }

  private def dropMaterializedView(spark: SparkSession, name: String,
      ifExists: Boolean): DataFrame = {
    val hp = mviewPath(name)
    val f = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(hp)) {
      require(ifExists, s"unknown materialized view '$name' (use " +
        "DROP MATERIALIZED VIEW IF EXISTS; tables drop with DROP " +
        "TABLE)")
      return spark.emptyDataFrame
    }
    // sidecar FIRST: a crash between the two leaves an ordinary table
    // (drop-able, never a refresh-able orphan claiming MV semantics)
    f.delete(hp, false)
    exec(spark, s"DROP TABLE IF EXISTS $name")
    spark.emptyDataFrame
  }

  /** `ALTER MATERIALIZED VIEW old RENAME TO new` — parity with table
    * rename: the backing renames at the POINTER level (data stays
    * put, history/tags/identity travel with the path) and the
    * definition sidecar republishes under the new name with its
    * refresh watermarks intact, so the first post-rename REFRESH
    * still folds incrementally from where the old name left off.
    *
    * Crash-safe by the same contract as [[dropMaterializedView]]:
    * the old sidecar deletes FIRST, so every intermediate state is an
    * ordinary renamable/droppable table — never a refresh-able orphan
    * claiming MV semantics under a half-moved name. A crash between
    * steps costs the operator a re-CREATE, never silent wrong data.
    */
  private def renameMaterializedView(spark: SparkSession,
      oldName: String, newName: String): DataFrame = {
    val (text, lasts) = mviewSpec(spark, oldName).getOrElse(
      throw new IllegalArgumentException(
        s"unknown materialized view '$oldName' (tables rename with " +
          "ALTER TABLE)"))
    require(mviewSpec(spark, newName).isEmpty &&
      viewText(spark, newName).isEmpty &&
      resolve(spark, newName).isEmpty,
      s"RENAME TO '$newName': the name is taken")
    val hp = mviewPath(oldName)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(hp, false)
    renameTable(spark, oldName, newName)
    publishMviewSpec(spark, newName, text, lasts)
    spark.emptyDataFrame
  }

  private def listMaterializedViews(spark: SparkSession): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(s"$basePath/_catalog/_mviews")
    val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath.getName).sorted
  }

  /** The refresh batch-id namespace: derived from the window's END
    * version so a crashed refresh replays into a no-op, and reserved
    * far above any hand-assigned batch id (the backing table is only
    * ever written by the MV machinery).
    */
  private val MvRefreshBidBase = 1L << 40

  /** MV-internal CTAS/RTAS load rewrite, applied by [[exec]]'s
    * CTAS/RTAS branches after view splicing: (source → pin version)
    * plus whether AVG expands into its fold pair. Empty outside an MV
    * create / full refresh.
    */
  private val mvCtasRewrite =
    new ThreadLocal[(Map[String, Long], Boolean)] {
      override def initialValue: (Map[String, Long], Boolean) =
        (Map.empty, false)
    }

  /** Pin each MV source at the version the sidecar will record (a
    * commit landing between the snapshot and the CTAS/REPLACE read
    * must not be BOTH materialized now and re-folded by the next
    * incremental refresh — double-counted sums) and, when the
    * decomposer will fold AVG, widen the top-level aggregate with its
    * sum/count pair. Identity outside an MV load. A version-0 source
    * pins as a bare read: nothing is committed, so there is nothing
    * to travel to — it pins as an EMPTY relation with the source's
    * declared schema (version 0 has no manifest to travel to, and a
    * bare read would let a commit racing the CTAS be BOTH
    * materialized now and re-folded by the first refresh window
    * (0, cur] — double-counted sums).
    */
  private def mvRewriteQuery(spark: SparkSession,
      q: LogicalPlan): LogicalPlan = {
    val (pins, avgExpand) = mvCtasRewrite.get()
    val q1 = if (avgExpand) expandFoldPairs(q) else q
    if (pins.isEmpty) q1
    else q1.transformWithSubqueries {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 &&
            pins.exists(_._1.equalsIgnoreCase(
              u.multipartIdentifier.head)) =>
        val name = u.multipartIdentifier.head
        val v = pins.find(_._1.equalsIgnoreCase(name)).get._2
        if (v <= 0)
          resolve(spark, name) match {
            case Some(st) =>
              org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
                name,
                org.apache.spark.sql.graftshim.PlanShim.planOf(
                  st.read(spark).limit(0)))
            case None => u // unresolvable — let the analyzer report it
          }
        else new org.apache.spark.sql.catalyst.analysis
          .RelationTimeTravel(u, None, Some(v.toString))
    }
  }

  /** The fold columns a decomposable GROUP BY materializes beside its
    * declared outputs: `AVG(x) AS a` → `SUM(x) AS a__sum, COUNT(x) AS
    * a__cnt` (the distributive pair; the served ratio recomputes from
    * the FOLDED pair at every refresh, so it always equals the full
    * recompute); `SUM(x) AS s` → `COUNT(x) AS s__cnt` (retracting the
    * last non-null value must serve NULL, not 0); plus ONE per-group
    * `COUNT(1) AS __rows` (the emptied-group detector). These are what
    * make DELETE windows — and therefore CoW UPDATE/MERGE windows,
    * which travel as delete+insert pairs — incrementally foldable.
    */
  private def expandFoldPairs(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    plan match {
      case agg @ Aggregate(_, aggExprs, _, _) =>
        // pairs APPEND after the declared outputs — splicing them
        // inline would shift the positions `GROUP BY <ordinal>`
        // resolves against
        val pairs = aggExprs.flatMap {
          case Alias(uf: UnresolvedFunction, out)
              if uf.nameParts.size == 1 &&
                !uf.isDistinct && uf.filter.isEmpty =>
            uf.nameParts.head.toLowerCase match {
              case "avg" | "mean" => Seq(
                Alias(uf.copy(nameParts = Seq("sum")),
                  out + "__sum")(),
                Alias(uf.copy(nameParts = Seq("count")),
                  out + "__cnt")())
              case "sum" => Seq(
                Alias(uf.copy(nameParts = Seq("count")),
                  out + "__cnt")())
              case _ => Nil
            }
          case _ => Nil
        }
        val rows = Alias(
          UnresolvedFunction(Seq("count"), Seq(Literal(1)),
            isDistinct = false), "__rows")()
        agg.copy(aggregateExpressions = aggExprs ++ pairs :+ rows)
      case other => other
    }
  }

  /** Crash/vacuum-tolerant refresh bookkeeping: the last CDF window
    * the backing table ACTUALLY folded, derived from the reserved
    * refresh batch-id namespace in its own manifest (metadata-bounded,
    * one read). The sidecar alone is not trustworthy — a crash between
    * a refresh's data commit and the sidecar publish would otherwise
    * re-fold the already-applied window under the NEXT window's fresh
    * batch id, silently doubling counts and sums. A full REPLACE's id
    * encodes the same source version (single-source: the version sum
    * IS the version), so recovery spans both refresh modes.
    */
  private def mvAppliedTip(spark: SparkSession,
      name: String): Option[Long] =
    resolve(spark, name).flatMap(_.committedBatchIds(spark)
      .filter(_ >= MvRefreshBidBase).map(_ - MvRefreshBidBase)
      .reduceOption(_ max _))

  /** Did a feed read/evaluation fail because the window's versions
    * (manifests or data dirs) were vacuumed away? Routine source
    * maintenance must degrade REFRESH to a full recompute, never a
    * hard failure. A vacuumed manifest is the store's typed refusal; a
    * vacuumed data dir surfaces from Spark's scan as a missing file or
    * its "does not exist" path error.
    */
  private def mvWindowVacuumed(e: Throwable): Boolean = {
    var t: Throwable = e
    var hops = 0
    while (t != null && hops < 16) {
      t match {
        case _: ManifestTableStore.VersionUnavailableException |
            _: java.io.FileNotFoundException => return true
        case _ =>
      }
      val m = t.getMessage
      if (m != null && m.contains("does not exist")) return true
      t = if (t.getCause eq t) null else t.getCause
      hops += 1
    }
    false
  }

  /** REFRESH MATERIALIZED VIEW [FULL] — returns one row
    * (mode, from_version, to_version) describing what ran:
    * `current` (nothing to do), `incremental` (CDF windows only), or
    * `full:<reason>` (recompute, saying why). `FULL` forces the
    * recompute unconditionally — the operator's rebuild verb when a
    * backing is suspected stale/corrupt, or to re-snapshot after an
    * out-of-band source repair (mode `full:forced`). Robustness
    * contract: a vacuumed CDF window, a NULL group key in the delta,
    * and a backing table predating the AVG pair columns all degrade
    * to the full recompute LOUDLY — REFRESH never hard-fails on
    * routine source maintenance and never folds wrong numbers
    * silently.
    *
    * Refreshes serialize per (catalog, MV): two streaming feeds
    * driving the same gold MV (the silver→gold topology runs one
    * change stream per silver source, each calling REFRESH per
    * trigger) must not interleave sidecar-read → fold →
    * sidecar-publish. Concurrent refreshes over the SAME windows are
    * already idempotent (the fold bid derives from the source version
    * sum), but a source commit landing between two refreshes' sidecar
    * reads would let the later fold re-cover the earlier one's window
    * under a NEW bid — a double-fold. In-JVM serialization closes that
    * for the streaming topology; cross-process racers still converge
    * through the applied-tip guard's loud full recompute. JVM-wide
    * (companion object), keyed by catalog base path + MV name, so two
    * catalog handles over the same store serialize too.
    */
  private def refreshMaterializedView(spark: SparkSession,
      name: String, forceFull: Boolean = false): DataFrame =
    StoreCatalog.mvRefreshLocks
      .computeIfAbsent(s"$basePath#$name", _ => new Object)
      .synchronized {
        refreshMaterializedViewLocked(spark, name, forceFull)
      }

  /** The one refresh body, for any number of sources. Each source
    * has its own CDF window [start, current]; the definition is
    * applied to the windows' rows with every source substituted at
    * once (a source whose window is empty reads as empty), and the
    * result folds into the backing: a row map appends it, an
    * aggregate merges its partials ([[foldAggPartials]]), and a
    * delete window under MIN/MAX recomputes only the touched groups.
    * The row reports the window as version sums.
    */
  private def refreshMaterializedViewLocked(spark: SparkSession,
      name: String, forceFull: Boolean = false): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => fcol,
      count => fcount, lit => flit, when => fwhen}
    import Pin.Pinnable
    val (text, lasts) = mviewSpec(spark, name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown materialized view '$name' (known: " +
          s"${listMaterializedViews(spark).mkString(", ")})"))
    val srcs = mviewSources(spark, text)
    require(srcs.nonEmpty,
      s"REFRESH MATERIALIZED VIEW $name: none of the definition's " +
        "source tables resolve (dropped or renamed?); DROP the MV or " +
        "recreate the sources")
    val curs = srcs.map(t => t -> store(t).currentVersion(spark)).toMap
    val parsed = spark.sessionState.sqlParser.parsePlan(text)
    val decomposed = mvDecompose(spark, parsed, srcs)
    val foldExpand = decomposed.exists(_.isRight)
    def row(mode: String, from: Long, to: Long): DataFrame =
      Seq((mode, from, to)).toDF("mode", "from_version", "to_version")
    def full(reason: String): DataFrame = {
      mvInternalOp.set(true)
      mvCtasRewrite.set((curs, foldExpand))
      try exec(spark, s"REPLACE TABLE $name AS $text",
        Some(MvRefreshBidBase + curs.values.sum))
      finally { mvInternalOp.set(false); mvCtasRewrite.remove() }
      publishMviewSpec(spark, name, text, curs)
      row(s"full:$reason", 0L, curs.values.max)
    }
    if (forceFull) return full("forced")
    // window starts: the sidecar's, unless the backing's reserved
    // batch ids show a fold whose sidecar publish was lost (a crash
    // between the two). Those ids encode the version SUM: with one
    // source the tip IS the applied version, so the window starts
    // there; with several, the applied windows are recoverable only
    // when nothing moved since (tip == Σcurrent) — otherwise the
    // overlap is not provably idempotent and the view recomputes
    def lastOf(t: String): Long =
      lasts.find(_._1.equalsIgnoreCase(t)).map(_._2).getOrElse(0L)
    val sidecarSum = srcs.map(lastOf).sum
    val tip = mvAppliedTip(spark, name).getOrElse(0L)
    val starts: Map[String, Long] =
      if (tip <= sidecarSum) srcs.map(t => t -> lastOf(t)).toMap
      else if (srcs.size == 1) Map(srcs.head -> tip)
      else if (tip == curs.values.sum) curs
      else return full("recovering a crashed multi-source refresh")
    if (srcs.forall(t => starts(t) >= curs(t))) {
      // the backing already holds every window; heal a lagging sidecar
      if (tip > sidecarSum) publishMviewSpec(spark, name, text, starts)
      return row("current", 0L, 0L)
    }
    val shape = decomposed.getOrElse(return full(
      if (srcs.size == 1) "non-decomposable definition"
      else "multi-source definition"))
    val fromV = starts.values.sum
    val toV = curs.values.sum
    // an EMPTY backing with a NON-ZERO window start is a crashed full
    // refresh (the REPLACE metadata commit landed, the data load did
    // not): folding only the windows into nothing would silently
    // resurrect a fraction of the view. Recompute. (A legitimately
    // empty gold table pays a redundant recompute of the same empty
    // answer — correct, and rare.) Metadata-bounded: manifest row
    // counts; one limit(1) scan only when stats are absent.
    val backingStore = store(name)
    if (fromV > 0 &&
        backingStore.countRows(spark)
          .map(_ == 0L)
          .getOrElse(
            backingStore.read(spark).isEmpty))
      return full("backing empty at a non-zero window start")
    // ONE window-bounded feed read per moved source; a VACUUMED window
    // (missing manifest or data dir) degrades to the recompute — a
    // routine source vacuum must never hard-fail the refresh
    val feeds: Map[String, DataFrame] =
      srcs.filter(t => starts(t) < curs(t)).map { t =>
        t -> (try store(t).readChangeFeed(spark, starts(t), curs(t))
          .pinned
        catch {
          case scala.util.control.NonFatal(e) if mvWindowVacuumed(e) =>
            return full("cdf window vacuumed")
        })
      }.toMap
    // ONE probe job for both window gates over every pinned feed
    // (guide §2.4: the emptiness and delete probes fuse into a single
    // global aggregate instead of a pass per gate or per source)
    val winProbe = feeds.values.map(_.select("_change_type"))
      .reduce(_ union _)
      .agg(fcount(flit(1)).as("n"),
        fcount(fwhen(fcol("_change_type") =!= "insert", 1)).as("d"))
      .head()
    // windows of pure STRUCTURAL commits (evolution markers,
    // maintenance rewrites) have empty feeds: folding them would
    // anti-join every backing dir against an empty key set — a
    // wasted gold-table rewrite. Advance the sidecar and go.
    if (winProbe.getLong(0) == 0L) {
      publishMviewSpec(spark, name, text, curs)
      return row("incremental", fromV, toV)
    }
    val hasDeletes = winProbe.getLong(1) > 0L
    val bid = MvRefreshBidBase + toV
    // `plan` over the windows: every source substituted by its feed's
    // rows of `changeType` (all rows when None), or by an empty read
    // when its window is empty
    def overWindows(plan: LogicalPlan,
        changeType: Option[String]): DataFrame =
      applyPlanOverDeltas(spark, plan, srcs.map { t =>
        t -> feeds.get(t).map { f =>
          changeType.fold(f)(c => f.filter(fcol("_change_type") === c))
            .drop("_change_type", "batch_id")
        }.getOrElse(store(t).read(spark).limit(0))
      }.toMap)
    shape match {
      case Left(()) =>
        // a row map: the mapped window rows simply append — the union
        // of every leg's rows, positionally aligned exactly as the
        // CTAS was; a delete cannot be expressed as an append
        if (hasDeletes) return full(
          if (srcs.size == 1) "deletes in the CDF window"
          else "deletes in a multi-source window")
        store(name).append(overWindows(parsed, Some("insert")), bid)
      case Right(MvShape(keys, keyExprs, aggs)) =>
        // distributive aggregate: fold the windows' partials into the
        // backing rows. Inserts add; with the retractable pair
        // columns present (COUNT/SUM/AVG shapes), DELETES SUBTRACT —
        // a CoW UPDATE travels as its delete+insert pair and folds
        // exactly ([[foldAggPartials]]). The keyed merge rewrites only
        // dirs whose key range overlaps the delta's groups —
        // stats-bounded, gold-table-sized, never source-sized.
        val expanded = expandFoldPairs(parsed)
        val retractable =
          !aggs.exists(a => a._2 == "min" || a._2 == "max")
        if (!hasDeletes || retractable) {
          foldAggPartials(spark, name, keys, aggs,
            overWindows(expanded, Some("insert")),
            if (hasDeletes) Some(overWindows(expanded, Some("delete")))
            else None, bid)
            .foreach(reason => return full(reason))
        } else {
          // MIN/MAX cannot retract — but only groups the windows
          // TOUCHED can change. Recompute exactly those groups from
          // every source PINNED at its window end and merge them over
          // the backing: a delete-bearing window costs a group-bounded
          // scan (broadcast semi-join on the delta's key tuples, plus
          // min/max dir pruning on bare-column keys), never a gold
          // rebuild. A group the windows EMPTIED vanishes from the
          // recompute — the keyed merge cannot delete a backing row,
          // so that (rare) case still recomputes fully, loudly.
          import org.apache.spark.sql.catalyst.analysis.{
            UnresolvedAttribute, UnresolvedRelation, UnresolvedStar}
          import org.apache.spark.sql.catalyst.expressions.Alias
          import org.apache.spark.sql.catalyst.plans.logical.{
            Project, SubqueryAlias}
          import org.apache.spark.sql.functions.{
            broadcast, max => fmax, min => fmin}
          import org.apache.spark.sql.graftshim.PlanShim
          // the shape's keyExprs/aggExprs name the aggregate INPUT's
          // outputs (a renaming/filtering subselect, or a union of
          // legs: `FROM (SELECT upper(s) AS k, v FROM src)`), so key
          // extraction and the bounded recompute compose THROUGH that
          // input — applying keyExprs to the raw delta would hard-fail
          // on renamed keys or, worse, read a raw column that shares
          // a declared key's name and bound the wrong groups
          val input = parsed.children.head
          def stripAlias(pl: LogicalPlan): LogicalPlan = pl match {
            case sa: SubqueryAlias => stripAlias(sa.child)
            case other => other
          }
          val inputIsBare =
            stripAlias(input).isInstanceOf[UnresolvedRelation]
          val tmp = keys.indices.map(i => s"__gk$i")
          def keyed(rows: DataFrame, star: Boolean): DataFrame =
            PlanShim.ofRows(spark, Project(
              (if (star) Seq(UnresolvedStar(None)) else Nil) ++
                keyExprs.zip(tmp).map { case (e, n) => Alias(e, n)() },
              PlanShim.planOf(rows)))
          // through the input FIRST: a delete touching only rows the
          // MV's WHERE clause excludes contributes no never-visible
          // groups here, so it folds incrementally instead of
          // tripping the emptied-group full rebuild
          val deltaKeys = keyed(overWindows(input, None), star = false)
            .distinct().pinned
          if (!deltaKeys.filter(tmp.map(fcol(_).isNull)
              .reduce(_ || _)).isEmpty)
            return full("null group key in the delta")
          val affectedN = deltaKeys.count()
          // bare-column keys prune source dirs by the affected range
          // BEFORE the join — the manifest's min/max stats make the
          // bounded scan skip every dir outside the delta's key span.
          // Only valid when the aggregate reads one bare relation: a
          // row-map input means a keyExpr attribute names the MAP's
          // output, not a raw source column
          val bare = if (!inputIsBare) Seq.empty[Int]
          else keys.indices.filter(i => keyExprs(i) match {
            case a: UnresolvedAttribute => a.nameParts.size == 1
            case _ => false
          })
          val keySpans: Seq[org.apache.spark.sql.Column] =
            if (bare.isEmpty) Nil
            else {
              val spans = bare.flatMap(i =>
                Seq(fmin(fcol(tmp(i))), fmax(fcol(tmp(i)))))
              val mm = deltaKeys.agg(spans.head, spans.tail: _*).head()
              bare.zipWithIndex.flatMap { case (i, j) =>
                val (lo, hi) = (mm.get(2 * j), mm.get(2 * j + 1))
                val sc = keyExprs(i)
                  .asInstanceOf[UnresolvedAttribute].nameParts.head
                if (lo == null || hi == null) None
                else Some(fcol(sc) >= flit(lo) && fcol(sc) <= flit(hi))
              }
            }
          // each source reads AS OF its window end — a commit racing
          // this refresh must not leak rows past it into the
          // recomputed groups (they fold in the NEXT window)
          val asOfEnds = srcs.map { t =>
            val at =
              if (curs(t) <= 0L) store(t).read(spark).limit(0)
              else spark.read.format("graft-store")
                .option("path", store(t).tablePath)
                .option("versionAsOf", curs(t).toString).load()
            t -> keySpans.foldLeft(at)(_ filter _)
          }.toMap
          // broadcast only a broadcast-SIZED key set; a delete wave
          // touching millions of groups semi-joins by shuffle instead
          // of OOMing the driver
          val dk = if (affectedN <= 1000000L) broadcast(deltaKeys)
            else deltaKeys
          val bounded = keyed(
            applyPlanOverDeltas(spark, input, asOfEnds), star = true)
            .join(dk, tmp, "left_semi")
            .drop(tmp: _*)
          // the (pair-expanded) aggregate over the bounded input rows
          val recomputed = PlanShim.ofRows(spark,
            expanded.withNewChildren(Seq(PlanShim.planOf(bounded))))
            .pinned
          // vintage gate: the recomputed groups carry the generated
          // pair columns; a backing that predates them upgrades
          // through ONE full recompute
          val bCols = store(name).read(spark).columns
            .map(_.toLowerCase).toSet
          if (!recomputed.columns.forall(c => bCols(c.toLowerCase)))
            return full("backing predates retractable fold pairs")
          if (recomputed.count() < affectedN)
            return full("a group emptied in the window")
          store(name).merge(spark, recomputed, keys, bid)
        }
    }
    publishMviewSpec(spark, name, text, curs)
    row("incremental", fromV, toV)
  }

  /** Fold one window's aggregate PARTIALS into an MV's backing via
    * the keyed merge. `insA` / `delA0` are the definition
    * (pair-expanded) applied to the windows' insert / delete rows.
    * Inserts add; deletes subtract through the retractable pair
    * columns (`__rows`, `<a>__cnt`, avg's pair), the served AVG
    * recomputes from the FOLDED pair, and a SUM whose non-null count
    * reaches zero serves NULL, not 0. MIN/MAX fold inserts only (a
    * delete window under them takes the group-bounded recompute).
    * Returns Some(reason) when the fold must degrade to a loud full
    * recompute (vintage gate, a NULL group key, an emptied group);
    * None when the merge committed.
    */
  private def foldAggPartials(spark: SparkSession, name: String,
      keys: Seq[String], aggs: Seq[(String, String)],
      insA: DataFrame, delA0: Option[DataFrame], bid: Long)
      : Option[String] = {
    import org.apache.spark.sql.functions.{
      coalesce, col => fcol, count => fcount, greatest, least, lit, when}
    import Pin.Pinnable
    val backing = store(name).read(spark).drop("batch_id")
    val bCols = backing.columns.map(_.toLowerCase).toSet
    val avgAliases = aggs.collect { case (a, "avg") => a }
    val sumAliases = aggs.collect { case (a, "sum") => a }
    // vintage gate, uniform across rounds: the expanded partial's
    // columns must all exist in the backing (older MVs predate
    // __rows and/or the sum/avg pairs). One REPLACE upgrades the
    // backing; every later window folds incrementally.
    if (!insA.columns.forall(c => bCols(c.toLowerCase)))
      return Some("backing predates retractable fold pairs")
    val retractable =
      !aggs.exists(a => a._2 == "min" || a._2 == "max")
    val hasDeletes = delA0.isDefined
    val net0 =
      if (!hasDeletes) insA
      else {
        // net delta: insert partials ⟗ delete partials on the
        // keys (a group may appear on either side alone)
        val valCols = insA.columns.filterNot(c =>
          keys.exists(_.equalsIgnoreCase(c))).toSeq
        val delA = valCols.foldLeft(delA0.get)((d, c) =>
          d.withColumnRenamed(c, s"__del_$c"))
        insA.join(delA, keys, "full_outer")
      }
    val joined = net0.alias("d").join(backing.alias("b"), keys,
      "left")
    def dl(c: String): org.apache.spark.sql.Column =
      if (hasDeletes) fcol(s"d.__del_$c")
      else lit(null).cast(insA.schema(c).dataType)
    def fold(alias: String,
        fn: String): org.apache.spark.sql.Column = {
      val d = fcol(s"d.$alias"); val b = fcol(s"b.$alias")
      val x = dl(alias)
      val zero = lit(0).cast(insA.schema(alias).dataType)
      fn match {
        case "count" =>
          coalesce(b, zero) + coalesce(d, zero) - coalesce(x, zero)
        case "sum" =>
          when(d.isNull && b.isNull && x.isNull, lit(null))
            .otherwise(coalesce(b, zero) + coalesce(d, zero) -
              coalesce(x, zero))
            .cast(insA.schema(alias).dataType)
        case "min" => least(d, b) // insert-only by construction
        case "max" => greatest(d, b)
      }
    }
    def isAvg(c: String) = avgAliases.exists(_.equalsIgnoreCase(c))
    // a SUM serves NULL exactly when its non-null count reaches
    // zero (retracting the last non-null value must not leave a
    // spurious 0 where the recompute says NULL); the stored avg
    // __sum pair gets the same guard for SELECT * consistency
    def cntColFor(c: String): Option[String] =
      if (sumAliases.exists(_.equalsIgnoreCase(c))) Some(c + "__cnt")
      else avgAliases.find(a => c.equalsIgnoreCase(a + "__sum"))
        .map(_ + "__cnt")
    val combined = joined.select(insA.columns.toSeq.map { c =>
      if (keys.exists(_.equalsIgnoreCase(c))) fcol(c)
      else if (isAvg(c)) {
        // ratio over the FOLDED pair; guard the division so ANSI
        // mode never throws on an all-null group (cnt = 0)
        val s = fold(c + "__sum", "sum")
        val n = fold(c + "__cnt", "count")
        when(n === 0, lit(null))
          .otherwise(s.cast("double") / n)
          .cast(insA.schema(c).dataType).as(c)
      } else cntColFor(c) match {
        case Some(cc) if retractable =>
          when(fold(cc, "count") === 0, lit(null))
            .otherwise(fold(c, "sum"))
            .cast(insA.schema(c).dataType).as(c)
        case _ =>
          val fn = aggs.find(_._1.equalsIgnoreCase(c)).map(_._2)
            .getOrElse(
              // only the generated count columns are unmatched
              if (c.toLowerCase.endsWith("__cnt") ||
                c.equalsIgnoreCase("__rows")) "count"
              else "sum")
          fold(c, fn).as(c)
      }
    }: _*).pinned
    // ONE probe job over the pinned fold result (guide §2.4), fusing
    // two gates that each used to evaluate the partial-aggregate plan:
    //  - a NULL group key never meets the keyed merge's equality —
    //    each refresh would INSERT another null-key row instead of
    //    folding it (nulls pass from the net delta through the left
    //    join unchanged, so probing the pinned fold equals probing
    //    net0 and skips re-running its aggregate);
    //  - a group whose last row leaves in the window nets to ZERO
    //    rows; the keyed merge can replace and insert but never
    //    DELETE a backing row (rare: a whole gold group vanishing in
    //    one window).
    // Both degrade to the loud full recompute; reason precedence is
    // preserved.
    val nullkC = fcount(when(keys.map(fcol(_).isNull)
      .reduce(_ || _), 1)).as("nullk")
    val probeCols =
      if (retractable)
        Seq(nullkC, fcount(when(fcol("__rows") === 0, 1)).as("empt"))
      else Seq(nullkC)
    val probe = combined.agg(probeCols.head, probeCols.tail: _*).head()
    if (probe.getLong(0) > 0L)
      return Some("null group key in the delta")
    if (retractable && probe.getLong(1) > 0L)
      return Some("a group emptied in the window")
    store(name).mergePinned(spark, combined, keys, bid)
    None
  }

  /** A parsed definition plan (or its aggregate's input) with every
    * named source relation substituted by an already-analyzed frame,
    * all at once: the CDF windows' rows for the fold — count/sum/
    * min/max over a row-disjoint union decompose, so the same query
    * over the windows yields exactly the rows or partials the fold
    * combines — or the sources AS OF their window ends for the
    * group-bounded recompute.
    */
  private def applyPlanOverDeltas(spark: SparkSession,
      plan: LogicalPlan,
      subs: Map[String, org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val sub = plan.transformWithSubqueries {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
          if u.multipartIdentifier.size == 1 &&
            subs.exists(_._1.equalsIgnoreCase(
              u.multipartIdentifier.head)) =>
        val name = u.multipartIdentifier.head
        org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
          name, subs.find(_._1.equalsIgnoreCase(name)).get._2
            .queryExecution.analyzed)
    }
    org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
      StoreSql.route(spark, tables, sub))
  }

  /** A decomposable GROUP BY shape: the key OUTPUT column names, the
    * INPUT-side expression each key computes (a bare attribute or
    * the aliased expression — what the group-bounded recompute
    * re-applies over the aggregate's input), plus the aliased aggregates
    * (`fn` ∈ count|sum|min|max|avg; avg folds through its
    * `<alias>__sum`/`<alias>__cnt` pair).
    */
  private case class MvShape(keys: Seq[String],
      keyExprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      aggs: Seq[(String, String)])

  /** Expression GROUP BY keys must be DETERMINISTIC over the source —
    * the fold re-applies them over the delta and the partials must
    * land on the same groups a full recompute produces. Probed
    * through the analyzer against the aggregate's routed input
    * (metadata-only, no job); anything that fails analysis fails the
    * probe and REFRESH recomputes fully. Time-dependent "constants"
    * (current_date/current_timestamp) carry deterministic=true yet
    * evaluate differently per STATEMENT — a delta partial keyed on
    * refresh-day would never fold into a backing row keyed on
    * create-day — so they are rejected by class name.
    */
  private def mvKeyExprsDeterministic(spark: SparkSession,
      probePlan: => LogicalPlan,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Boolean =
    exprs.isEmpty || (try {
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.Project
      val timeDependent = Set("CurrentDate", "CurrentTimestamp",
        "Now", "LocalTimestamp", "CurrentTimeZone",
        "CurrentBatchTimestamp")
      val probe = org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
        Project(exprs.zipWithIndex.map { case (e, i) =>
          Alias(e, s"__k$i")() }, probePlan))
      probe.queryExecution.analyzed.expressions.forall { e =>
        e.deterministic &&
          !e.exists(x => timeDependent(x.getClass.getSimpleName))
      }
    } catch { case scala.util.control.NonFatal(_) => false })

  /** AVG decomposes only when its argument resolves to a NON-decimal
    * numeric over the aggregate's input: the fold serves `sum/count` as a double
    * ratio, bit-exact for long/double partial sums but able to drift
    * from Spark's exact decimal average. Analysis-only probe, no job.
    */
  private def mvAvgArgFoldable(spark: SparkSession,
      probePlan: => LogicalPlan,
      args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Boolean =
    args.size == 1 && (try {
      import org.apache.spark.sql.catalyst.expressions.Alias
      import org.apache.spark.sql.catalyst.plans.logical.Project
      import org.apache.spark.sql.types.{DecimalType, NumericType}
      val probe = org.apache.spark.sql.graftshim.PlanShim.ofRows(spark,
        Project(Seq(Alias(args.head, "__a")()), probePlan))
      probe.schema.head.dataType match {
        case _: DecimalType => false
        case _: NumericType => true
        case _ => false
      }
    } catch { case scala.util.control.NonFatal(_) => false })

  /** No window expressions anywhere in `exprs` — windows read across
    * rows, so a plan carrying one is not a per-row map.
    */
  private def mvNoWindows(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Boolean =
    !exprs.exists(_.exists {
      case _: org.apache.spark.sql.catalyst.expressions
          .WindowExpression => true
      case _ => false
    })

  /** Is `pl` a per-row map over the stores `srcs`: Project/Filter
    * chains and UNION ALLs down to relations that name sources?
    * Row-disjoint unions commute with per-row maps, so the definition
    * applied to the windows' rows — every source substituted at once
    * — yields exactly the rows to append. A union of such legs is
    * one too (the reference's own silver model is a two-source union
    * of per-row maps — BA:150-162 = BA:256-268), and a plan without a
    * UNION ALL is its one-leg case. `UNION` (distinct) parses as
    * Distinct(Union) and fails: dedup does not commute with appends;
    * a leg over a VIEW names the view, not a store, and fails too.
    */
  private def mvIsRowMap(pl: LogicalPlan, srcs: Seq[String]): Boolean =
    pl match {
      case u: org.apache.spark.sql.catalyst.analysis
          .UnresolvedRelation =>
        u.multipartIdentifier.size == 1 &&
          srcs.exists(_.equalsIgnoreCase(u.multipartIdentifier.head))
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        mvNoWindows(Seq(f.condition)) && mvIsRowMap(f.child, srcs)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        mvNoWindows(pr.projectList) && mvIsRowMap(pr.child, srcs)
      case s: org.apache.spark.sql.catalyst.plans.logical
          .SubqueryAlias => mvIsRowMap(s.child, srcs)
      case u: org.apache.spark.sql.catalyst.plans.logical.Union
          if !u.byName => u.children.forall(mvIsRowMap(_, srcs))
      case _ => false
    }

  /** The one decomposition of a (parsed) MV definition over its
    * sources: Left(()) = a row map ([[mvIsRowMap]]) whose window rows
    * append; Right(MvShape) = a GROUP BY over a row map whose outputs
    * are the key columns plus aliased COUNT/SUM/MIN/MAX/AVG
    * aggregates, whose window partials fold into the backing. Keys
    * may be several columns, group-by aliases (`GROUP BY day`),
    * ordinals (`GROUP BY 1, 2`), or deterministic scalar expressions
    * (`date_trunc('day', ts)`) — the realistic gold shapes; the
    * key/AVG analysis probes resolve against the routed row map (its
    * output, not the raw source, is what the aggregate reads).
    * Anything else — joins, windows, DISTINCT, FILTER clauses,
    * subqueries, non-deterministic keys, decimal AVG — returns None
    * and REFRESH recomputes fully, saying so.
    */
  private def mvDecompose(spark: SparkSession, parsed: LogicalPlan,
      srcs: Seq[String]): Option[Either[Unit, MvShape]] =
    parsed match {
      case _ if parsed.subqueriesAll.nonEmpty => None
      case org.apache.spark.sql.catalyst.plans.logical.Aggregate(
          groupExprs, aggExprs, child, _) =>
        if (!mvIsRowMap(child, srcs)) None
        else mvAggShapeOf(spark, groupExprs, aggExprs,
          StoreSql.route(spark, tables, child)).map(Right(_))
      case other =>
        if (mvIsRowMap(other, srcs)) Some(Left(())) else None
    }

  /** The decomposer's GROUP BY analysis: map every GROUP BY
    * expression to its output item, require every remaining item to
    * be an aliased foldable aggregate, refuse generated-name
    * collisions and non-deterministic keys. `probePlan` supplies the
    * relation the key/avg analysis probes resolve against (the
    * aggregate's routed input).
    */
  private def mvAggShapeOf(spark: SparkSession,
      groupExprs: Seq[org.apache.spark.sql.catalyst.expressions
        .Expression],
      aggExprs: Seq[org.apache.spark.sql.catalyst.expressions
        .NamedExpression],
      probePlan: => LogicalPlan): Option[MvShape] = {
    import org.apache.spark.sql.catalyst.analysis.{
      UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Expression, Literal, NamedExpression}
    val aggFns = Set("count", "sum", "min", "max", "avg", "mean")
    def hasAggFn(e: Expression): Boolean = e.exists {
      case uf: UnresolvedFunction =>
        aggFns(uf.nameParts.last.toLowerCase)
      case _ => false
    }
    locally {
        val items: Seq[NamedExpression] = aggExprs
        // map every GROUP BY expression to the OUTPUT item carrying
        // it: a bare column, an alias of that column, an alias the
        // group references by NAME, an ordinal, or an alias of the
        // syntactically identical expression. Yields (item index,
        // probe expression — None for bare columns, deterministic by
        // construction).
        def ordinalOf(g: Expression): Option[Int] = g match {
          // `GROUP BY 1` parses as UnresolvedOrdinal (Spark 4's
          // parser resolves group-by-ordinal eagerly); older plans
          // carry the bare integer literal — but a literal is an
          // ordinal ONLY while spark.sql.groupByOrdinal holds (off,
          // the executed query groups by the CONSTANT; treating it
          // as an ordinal here would fold against a backing grouped
          // differently and report 'incremental' over wrong contents)
          case o: org.apache.spark.sql.catalyst.analysis
              .UnresolvedOrdinal
              if spark.sessionState.conf.groupByOrdinal =>
            Some(o.ordinal)
          case Literal(i: Int, _)
              if spark.sessionState.conf.groupByOrdinal => Some(i)
          case _ => None
        }
        def keyItemOf(g: Expression)
            : Option[(Int, Option[Expression])] = g match {
          case _ if ordinalOf(g).isDefined =>
            val i = ordinalOf(g).get
            if (i < 1 || i > items.size) None
            else items(i - 1) match {
              case a: UnresolvedAttribute if a.nameParts.size == 1 =>
                Some((i - 1, None))
              case Alias(c, _) if !hasAggFn(c) => Some((i - 1, Some(c)))
              case _ => None
            }
          case a: UnresolvedAttribute if a.nameParts.size == 1 =>
            val n = a.nameParts.head
            items.zipWithIndex.collectFirst {
              case (ua: UnresolvedAttribute, i)
                  if ua.nameParts.size == 1 &&
                    ua.nameParts.head.equalsIgnoreCase(n) =>
                (i, None)
              case (Alias(c: UnresolvedAttribute, _), i)
                  if c.nameParts.size == 1 &&
                    c.nameParts.head.equalsIgnoreCase(n) =>
                (i, None)
              case (Alias(c, out), i)
                  if out.equalsIgnoreCase(n) && !hasAggFn(c) =>
                (i, Some(c))
            }
          case e =>
            items.zipWithIndex.collectFirst {
              case (Alias(c, _), i) if c == e && !hasAggFn(c) =>
                (i, Some(c))
            }
        }
        val keyHits = groupExprs.map(keyItemOf)
        if (keyHits.contains(None)) return None
        val keyIdx = keyHits.flatten.map(_._1)
        if (keyIdx.distinct.size != keyIdx.size) return None
        val keyIdxSet = keyIdx.toSet
        val keys = keyIdx.map(i => items(i) match {
          case a: UnresolvedAttribute => a.nameParts.head
          case al: Alias => al.name
          case _ => return None
        })
        val keyExprs: Seq[Expression] = keyIdx.map(i =>
          items(i) match {
            case a: UnresolvedAttribute => a
            case al: Alias => al.child
            case _ => return None
          })
        // every remaining item must be an aliased foldable aggregate
        val aggs = items.zipWithIndex
          .filterNot { case (_, i) => keyIdxSet(i) }
          .map {
            case (Alias(uf: UnresolvedFunction, out), _)
                if uf.nameParts.size == 1 &&
                  aggFns(uf.nameParts.head.toLowerCase) &&
                  !uf.isDistinct && uf.filter.isEmpty =>
              val fn0 = uf.nameParts.head.toLowerCase
              val fn = if (fn0 == "mean") "avg" else fn0
              if (fn == "avg" &&
                  !mvAvgArgFoldable(spark, probePlan, uf.arguments))
                return None
              out -> fn
            case _ => return None
          }
        if (aggs.isEmpty) return None
        // the generated fold-column names must not collide with
        // declared outputs (SUM(x) AS a__sum beside AVG(x) AS a; a
        // user column literally named __rows)
        val outNames = items.collect {
          case a: Alias => a.name.toLowerCase
          case a: UnresolvedAttribute => a.nameParts.head.toLowerCase
        }.toSet
        val genNames = aggs.flatMap {
          case (a, "avg") => Seq(a + "__sum", a + "__cnt")
          case (a, "sum") => Seq(a + "__cnt")
          case _ => Nil
        } :+ "__rows"
        if (genNames.exists(g => outNames(g.toLowerCase)))
          return None
        if (!mvKeyExprsDeterministic(spark, probePlan,
            keyHits.flatten.flatMap(_._2)))
          return None
        Some(MvShape(keys, keyExprs, aggs))
    }
  }

  /** `ALTER VIEW old RENAME TO new` — a view is its TEXT sidecar; the
    * rename republishes it under the new name and drops the old one.
    * Views referencing the old view refuse, same as tables. No
    * tombstone needed: views have no default-path fallback to
    * resurrect the old name.
    */
  private def renameView(spark: SparkSession, oldName: String,
      newName: String): DataFrame = {
    val text = viewText(spark, oldName).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER VIEW: unknown view '$oldName'"))
    require(resolve(spark, newName).isEmpty &&
      viewText(spark, newName).isEmpty &&
      renamedTo(spark, newName).isEmpty,
      s"RENAME TO '$newName': the name is taken")
    val refs = viewsReferencing(spark, oldName)
      .filterNot(_.equalsIgnoreCase(oldName))
    require(refs.isEmpty,
      s"RENAME VIEW '$oldName': view(s) ${refs.mkString(", ")} " +
        "reference it by name and would break; redefine them first")
    val mvRefs = mviewsReferencing(spark, oldName)
    require(mvRefs.isEmpty,
      s"RENAME VIEW '$oldName': materialized view(s) " +
        s"${mvRefs.mkString(", ")} reference it by name — their " +
        "REFRESH would break; DROP them first")
    publishView(spark, newName, text)
    dropViewSidecar(spark, oldName)
    spark.emptyDataFrame
  }

  /** Collect + validate the declaration's catalog-owned column
    * metadata: DEFAULTs (constant, losslessly castable), GENERATED
    * expressions (must reference only OTHER non-generated declared
    * columns — Delta's rule; self- or chained references would make
    * the fill order ambiguous), and COMMENTs. A column cannot carry
    * BOTH a DEFAULT and a generation (Delta refuses too — one fill
    * rule per column). GENERATED ALWAYS AS IDENTITY is supported:
    * ids allocate from a committed high-water-mark ledger beside the
    * manifest ([[ManifestTableStore.allocateIdentity]]) and fill
    * distributively at the SQL INSERT boundary.
    */
  private def metaFromColumns(spark: SparkSession,
      columns: Seq[ColumnDefinition]): StoreCatalog.TableMeta = {
    columns.foreach { c =>
      c.identityColumnSpec.foreach { spec =>
        // GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY: ids allocate
        // from a committed high-water-mark LEDGER beside the manifest
        // (monotonic, gap-tolerant — Delta's own contract) and fill
        // distributively at the SQL INSERT boundary. BY DEFAULT also
        // admits EXPLICIT ids: the write boundary bumps the ledger
        // past the batch's farthest supplied id (one aggregate over
        // the batch — cheap batch-locally even though impossible
        // row-locally), and ALTER TABLE ... SYNC IDENTITY repairs the
        // watermark after out-of-band loads.
        require(c.dataType == org.apache.spark.sql.types.LongType,
          s"column '${c.name}': IDENTITY requires BIGINT, got " +
            c.dataType.sql)
        require(spec.getStep != 0L,
          s"column '${c.name}': IDENTITY INCREMENT must be non-zero")
        require(c.defaultValue.isEmpty &&
          c.generationExpression.isEmpty,
          s"column '${c.name}' declares IDENTITY plus another fill " +
            "rule — a column has one")
      }
      require(!(c.defaultValue.nonEmpty &&
        c.generationExpression.nonEmpty),
        s"column '${c.name}' declares both DEFAULT and GENERATED " +
          "ALWAYS AS — a column has one fill rule")
    }
    val generatedNames =
      columns.filter(_.generationExpression.nonEmpty)
        .map(_.name.toLowerCase).toSet
    val declared = columns.map(_.name.toLowerCase).toSet
    val generated = columns.flatMap { c =>
      c.generationExpression.map { g =>
        val refs = spark.sessionState.sqlParser.parseExpression(g)
          .collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.name
          }
        require(refs.nonEmpty,
          s"GENERATED ALWAYS AS ($g) for column '${c.name}' " +
            "references no column — declare a DEFAULT instead")
        refs.foreach { r =>
          require(declared.contains(r.toLowerCase),
            s"GENERATED ALWAYS AS ($g) for column '${c.name}' " +
              s"references undeclared column '$r'")
          require(!generatedNames.contains(r.toLowerCase),
            s"GENERATED ALWAYS AS ($g) for column '${c.name}' " +
              s"references generated column '$r': generation " +
              "expressions may only reference non-generated columns")
        }
        // DETERMINISTIC only (Delta's declaration-time rule): the
        // expression evaluates once at fill and AGAIN in the write
        // gate's equality check — a rand()/uuid() generation would
        // refuse every omitting insert it just filled. Probed on an
        // analyzed empty frame of the non-generated columns.
        val probe = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(columns.filter(_.generationExpression.isEmpty)
            .map(cd => StructField(cd.name, cd.dataType, cd.nullable))))
          .selectExpr(g)
        require(probe.queryExecution.analyzed.expressions
          .forall(_.deterministic),
          s"GENERATED ALWAYS AS ($g) for column '${c.name}' is " +
            "non-deterministic: the fill and the write-gate equality " +
            "check would evaluate it to different values")
        c.name -> g
      }
    }.toMap
    StoreCatalog.TableMeta(
      defaults = columns.flatMap { c =>
        c.defaultValue.map { d =>
          validateDefault(spark, c.name, d.originalSQL, c.dataType)
          c.name -> d.originalSQL
        }
      }.toMap,
      generated = generated,
      comments = columns.flatMap(c =>
        c.comment.map(c.name -> _)).toMap,
      identity = columns.flatMap(c => c.identityColumnSpec.map(sp =>
        c.name -> ((sp.getStart, sp.getStep,
          sp.isAllowExplicitInsert)))).toMap)
  }

  /** A DEFAULT must be a CONSTANT the column's type can represent
    * (Delta's declaration-time rule): a column reference would resolve
    * PER-ROW against the INSERT frame at fill time (silently copying
    * another column), and a lossy cast would fill NULL instead of the
    * declared value. Both refuse HERE, at DDL time — the doc promise
    * "a broken default refuses at create" covers more than parsing.
    */
  private def validateDefault(spark: SparkSession, col: String,
      sql: String, dt: org.apache.spark.sql.types.DataType): Unit = {
    val e = spark.sessionState.sqlParser.parseExpression(sql)
    val refs = e.collect {
      case a: org.apache.spark.sql.catalyst.analysis
        .UnresolvedAttribute => a.name
    }
    require(refs.isEmpty,
      s"DEFAULT ($sql) for column '$col' references " +
        s"${refs.mkString(", ")}: a default must be a constant " +
        "expression")
    // one local evaluation: a non-null default value must survive the
    // cast to the column's declared type — BOTH legs of "losslessly":
    // a null-producing cast (e.g. 'abc' → INT) AND a truncating cast
    // that stays non-null (e.g. 1.5 → INT silently fills 1). The
    // second leg is a round-trip equality probe in the LITERAL's own
    // type: cast to the column type and back, null-safe compare.
    val litType = spark.sql(s"SELECT ($sql)").schema.head.dataType
    val lossy = spark.sql(
        s"SELECT ($sql) IS NOT NULL AND (CAST(($sql) AS ${dt.sql}) " +
          s"IS NULL OR NOT (CAST(CAST(($sql) AS ${dt.sql}) AS " +
          s"${litType.sql}) <=> ($sql)))").head().getBoolean(0)
    require(!lossy,
      s"DEFAULT ($sql) for column '$col' does not cast losslessly " +
        s"to ${dt.sql} (a truncating default would silently fill a " +
        "different value than declared); declare the default in the " +
        "column's own type")
  }

  /** Declared CHECK constraints plus NOT NULL columns as named checks
    * (Delta enforces NOT NULL as an invariant; expressing it as a
    * named CHECK keeps SHOW CREATE TABLE runnable and the enforcement
    * machinery ONE thing — the declared nullability itself also lands
    * in the schema marker).
    */
  private def installChecks(spark: SparkSession,
      store: ManifestTableStore, columns: Seq[ColumnDefinition],
      tableSpec: org.apache.spark.sql.catalyst.plans.logical
        .TableSpecBase,
      meta: StoreCatalog.TableMeta): Unit = {
    checksOf(tableSpec).foreach { case (n, pred) =>
      store.addCheck(spark, n, pred) }
    columns.filterNot(_.nullable).foreach { c =>
      store.addCheck(spark, s"${c.name}_not_null",
        s"${c.name} IS NOT NULL") }
    // a GENERATED column's contract enforces as a write-time check
    // (Delta registers the same invariant): an explicitly SUPPLIED
    // value must equal the expression — covering API appends too, not
    // only the SQL fill path. `<=>` so NULL source columns compare.
    meta.generated.foreach { case (c, g) =>
      store.addCheck(spark, s"${c}_generated", s"$c <=> ($g)") }
  }

  private def physical(name: String, partitioning: Seq[Transform],
      tableSpec: org.apache.spark.sql.catalyst.plans.logical
        .TableSpecBase): (String, Seq[String], Map[String, String]) = {
    val partitionBy = partitioning.map { t =>
      // structural match on the connector Transform interface (the
      // case classes are private[sql]): identity over one column
      require(t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1,
        s"only PARTITIONED BY (column) is supported, got $t")
      t.references.head.fieldNames.head
    }
    val (props, location) = tableSpec match {
      case u: UnresolvedTableSpec => (u.properties, u.location)
      case other => (Map.empty[String, String], None)
    }
    (location.getOrElse(s"$basePath/$name"), partitionBy, props)
  }

  private def mk(path: String, partitionBy: Seq[String],
      props: Map[String, String]): ManifestTableStore = {
    def csv(key: String): Seq[String] = props.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new ManifestTableStore(path,
      partitionBy = partitionBy,
      statsColumns = csv("statsColumns"),
      bloomColumns = csv("bloomColumns"),
      morDeleteKey = props.get("morDeleteKey"))
  }

  private def checksOf(tableSpec: org.apache.spark.sql.catalyst.plans
      .logical.TableSpecBase): Seq[(String, String)] = tableSpec match {
    case u: UnresolvedTableSpec =>
      u.constraints.zipWithIndex.collect {
        case (c: org.apache.spark.sql.catalyst.expressions
            .CheckConstraint, i) =>
          (Option(c.userProvidedName).getOrElse(s"check-$i"),
            c.condition)
      }
    case _ => Nil
  }
}

object StoreCatalog {
  /** Catalog-owned column metadata for one table — see
    * [[StoreCatalog.metaReg]]. All three maps key by the column's
    * declared name.
    */
  final case class TableMeta(
      defaults: Map[String, String] = Map.empty,
      generated: Map[String, String] = Map.empty,
      comments: Map[String, String] = Map.empty,
      // col -> (START WITH, INCREMENT BY, allows explicit inserts —
      // i.e. GENERATED BY DEFAULT rather than ALWAYS)
      identity: Map[String, (Long, Long, Boolean)] = Map.empty)

  /** `CREATE TABLE [IF NOT EXISTS] t2 SHALLOW CLONE t1
    * [VERSION AS OF n]` — Delta's verb shape, outside Spark's grammar.
    */
  private[engine] val CloneStmt =
    ("(?is)CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?" +
      "([A-Za-z0-9_]+)\\s+SHALLOW\\s+CLONE\\s+([A-Za-z0-9_]+)" +
      "(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*").r

  /** `ALTER TABLE t [ALTER COLUMN c] SYNC IDENTITY` — Delta's repair
    * verb after out-of-band loads, outside Spark's grammar.
    */
  private[engine] val SyncIdentityStmt =
    ("(?is)ALTER\\s+TABLE\\s+([A-Za-z0-9_]+)" +
      "(?:\\s+ALTER\\s+COLUMN\\s+([A-Za-z0-9_]+))?" +
      "\\s+SYNC\\s+IDENTITY\\s*").r

  /** Materialized-view verbs — outside Spark's grammar. */
  private[engine] val CreateMvStmt =
    ("(?is)CREATE\\s+MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+NOT\\s+EXISTS\\s+)?([A-Za-z0-9_]+)\\s+AS\\s+(.+)").r
  private[engine] val RefreshMvStmt =
    "(?is)REFRESH\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z0-9_]+)\\s*(FULL)?\\s*".r
  private[engine] val DropMvStmt =
    ("(?is)DROP\\s+MATERIALIZED\\s+VIEW\\s+" +
      "(IF\\s+EXISTS\\s+)?([A-Za-z0-9_]+)\\s*").r
  private[engine] val ShowMvStmt =
    "(?is)SHOW\\s+MATERIALIZED\\s+VIEWS\\s*".r
  private[engine] val RenameMvStmt =
    ("(?is)ALTER\\s+MATERIALIZED\\s+VIEW\\s+([A-Za-z0-9_]+)\\s+" +
      "RENAME\\s+TO\\s+([A-Za-z0-9_]+)\\s*").r

  /** See [[StoreCatalog.refreshMaterializedView]]. */
  private[engine] val mvRefreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
}
