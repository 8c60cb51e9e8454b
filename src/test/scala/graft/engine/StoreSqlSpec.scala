package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract of the SQL-text DML router: Spark-parsed INSERT/DELETE/
  * UPDATE/MERGE reach the store's CoW DML with their predicates intact
  * — including the general MERGE clause surface (conditional matched
  * clauses, column-level SET, matched DELETE, NOT MATCHED BY SOURCE)
  * — and anything outside the supported surface is refused loudly
  * rather than half-applied.
  */
class StoreSqlSpec extends SparkSpec {

  import spark.implicits._

  private def freshStoreAt(): (String, ManifestTableStore) = {
    val p = Files.createTempDirectory("storesql-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"))
    store.append(Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "n"), 0L)
    (p.toString, store)
  }

  private def freshStore(): ManifestTableStore = freshStoreAt()._2

  private def state(store: ManifestTableStore): Set[(String, Int)] =
    store.read(spark).select("k", "n").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  test("DELETE FROM routes the parsed predicate to the CoW delete; " +
      "DELETE without WHERE is refused (same guard as UPDATE)") {
    val store = freshStore()
    StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t WHERE n >= 2")
    assert(store.read(spark).select("k").as[String].collect().toSet
      == Set("a"))
    val v = store.currentVersion(spark)
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t")
    }
    assert(store.currentVersion(spark) == v)
    // the explicit opt-in form IS accepted (full-table delete)
    StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t WHERE true")
    assert(store.read(spark).isEmpty)
  }

  test("UPDATE ... SET routes assignments as expressions; UPDATE " +
      "without WHERE is refused before touching the table") {
    val store = freshStore()
    StoreSql.exec(spark, Map("t" -> store),
      "UPDATE t SET k = concat(k, '!'), n = n * 10 WHERE n <= 2")
    assert(state(store) == Set(("a!", 10), ("b!", 20), ("c", 3)))
    val v = store.currentVersion(spark)
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store), "UPDATE t SET n = 0")
    }
    assert(store.currentVersion(spark) == v)
  }

  test("star MERGE INTO upserts through the keyed CoW merge; " +
      "composite AND-ed key conditions merge on the tuple; " +
      "inequality conditions and a missing batchId are refused") {
    val store = freshStore()
    Seq(("b", 20), ("d", 40)).toDF("k", "n")
      .createOrReplaceTempView("src")
    StoreSql.exec(spark, Map("t" -> store),
      "MERGE INTO t USING src ON t.k = src.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *", batchId = Some(1L))
    assert(state(store)
      == Set(("a", 1), ("b", 20), ("c", 3), ("d", 40)))
    // a COMPOSITE key (AND-ed same-named equalities) merges on the
    // tuple: ("b", 20) matches, ("b", 99) is a DIFFERENT tuple and
    // inserts
    Seq(("b", 20), ("b", 99)).toDF("k", "n")
      .createOrReplaceTempView("src2")
    StoreSql.exec(spark, Map("t" -> store),
      "MERGE INTO t USING src2 ON t.k = src2.k AND t.n = src2.n " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *", batchId = Some(2L))
    assert(state(store)
      == Set(("a", 1), ("b", 20), ("b", 99), ("c", 3), ("d", 40)))
    // an INEQUALITY conjunct is not a key equality: refused
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "MERGE INTO t USING src ON t.k = src.k AND t.n > src.n " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *", batchId = Some(3L))
    }
    // no explicit batchId: refused BEFORE any table mutation — the
    // implicit default would replay-no-op against batch 0 silently
    val v = store.currentVersion(spark)
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "MERGE INTO t USING src ON t.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *")
    }
    assert(store.currentVersion(spark) == v)
  }

  test("general MERGE on a COMPOSITE key: clauses match on the " +
      "tuple, a duplicate source TUPLE refuses while distinct tuples " +
      "sharing one column are fine") {
    val store = freshStore()
    Seq(("a", 1, "up"), ("z", 9, "in"), ("c", 99, "in"))
      .toDF("k", "n", "op").createOrReplaceTempView("csrc")
    // ("c", 99): same k as an existing row but a DIFFERENT tuple —
    // must take the NOT MATCHED leg, never update ("c", 3)
    StoreSql.exec(spark, Map("t" -> store),
      "MERGE INTO t USING csrc ON t.k = csrc.k AND t.n = csrc.n " +
        "WHEN MATCHED AND csrc.op = 'up' THEN UPDATE SET " +
        "n = t.n + 100 " +
        "WHEN NOT MATCHED AND csrc.op = 'in' THEN INSERT (k, n) " +
        "VALUES (csrc.k, csrc.n)",
      batchId = Some(1L))
    assert(state(store) ==
      Set(("a", 101), ("b", 2), ("c", 3), ("c", 99), ("z", 9)))
    // duplicate TUPLES refuse (nondeterministic update);
    // tuple-distinct rows sharing a column already merged above
    Seq(("a", 101), ("a", 101)).toDF("k", "n")
      .createOrReplaceTempView("cdup")
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "MERGE INTO t USING cdup ON t.k = cdup.k AND t.n = cdup.n " +
          "WHEN MATCHED THEN DELETE", batchId = Some(2L))
    }
  }

  test("general MERGE: conditional WHEN MATCHED AND, column-level SET " +
      "over source expressions, matched DELETE, INSERT * — first " +
      "matching clause wins") {
    val store = freshStore()
    Seq(("b", 20), ("c", 30), ("d", 40)).toDF("k", "n")
      .createOrReplaceTempView("src")
    StoreSql.exec(spark, Map("t" -> store),
      """MERGE INTO t USING src ON t.k = src.k
        |WHEN MATCHED AND t.n = 2 THEN UPDATE SET n = src.n + 100
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      batchId = Some(1L))
    // a: no source match, no BY SOURCE clause → unchanged
    // b: first clause (n = 2) → n = 20 + 100
    // c: matched, first clause false → second clause → deleted
    // d: no target match → inserted
    assert(state(store) == Set(("a", 1), ("b", 120), ("d", 40)))
  }

  test("general MERGE: WHEN NOT MATCHED BY SOURCE THEN DELETE (the " +
      "CDC full-sync form) and unqualified-ambiguous refusal") {
    val store = freshStore()
    Seq(("b", 0)).toDF("k", "n").createOrReplaceTempView("src")
    StoreSql.exec(spark, Map("t" -> store),
      """MERGE INTO t USING src ON t.k = src.k
        |WHEN MATCHED THEN UPDATE SET n = src.n
        |WHEN NOT MATCHED BY SOURCE AND t.n >= 3 THEN DELETE""".stripMargin,
      batchId = Some(1L))
    // b matched → 0; c unmatched with n >= 3 → deleted; a stays
    assert(state(store) == Set(("a", 1), ("b", 0)))
    // `n` exists on both sides: an unqualified reference is ambiguous
    // and must be refused, not silently bound to one side
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "MERGE INTO t USING src ON t.k = src.k " +
          "WHEN MATCHED AND n = 2 THEN DELETE", batchId = Some(2L))
    }
  }

  test("INSERT INTO routes to the exactly-once append: explicit " +
      "batchId required, replay is a no-op") {
    val store = freshStore()
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "INSERT INTO t SELECT 'd' AS k, 4 AS n")
    }
    StoreSql.exec(spark, Map("t" -> store),
      "INSERT INTO t SELECT 'd' AS k, 4 AS n", batchId = Some(1L))
    assert(state(store)
      == Set(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
    val v = store.currentVersion(spark)
    // replayed batch id: exactly-once, nothing appended twice
    StoreSql.exec(spark, Map("t" -> store),
      "INSERT INTO t SELECT 'd' AS k, 4 AS n", batchId = Some(1L))
    assert(store.currentVersion(spark) == v)
    assert(store.read(spark).count() == 4)
    // INSERT OVERWRITE on an unpartitioned store replaces the table
    // in one commit (round 10; StoreOverwriteSpec has the full
    // partitioned/dynamic/static surface)
    StoreSql.exec(spark, Map("t" -> store),
      "INSERT OVERWRITE t SELECT 'e' AS k, 5 AS n", batchId = Some(2L))
    assert(state(store) == Set(("e", 5)))
  }

  test("bare INSERT INTO ... VALUES maps positionally onto the table " +
      "schema — a VALUES row must not land as col1/col2") {
    val store = freshStore()
    StoreSql.exec(spark, Map("t" -> store),
      "INSERT INTO t VALUES ('d', 4)", batchId = Some(1L))
    assert(state(store) == Set(("a", 1), ("b", 2), ("c", 3), ("d", 4)))
    assert(store.read(spark).columns.toSet == Set("k", "n", "batch_id"))
    // arity mismatch is refused, not silently null-padded
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "INSERT INTO t VALUES ('e')", batchId = Some(2L))
    }
  }

  test("MERGE with INSERT (cols) VALUES (exprs) and a conditional " +
      "UPDATE SET * — the remaining clause shapes") {
    val store = freshStore()
    Seq(("b", 20), ("d", 40), ("e", 50)).toDF("k", "n")
      .createOrReplaceTempView("src2")
    StoreSql.exec(spark, Map("t" -> store),
      """MERGE INTO t USING src2 ON t.k = src2.k
        |WHEN MATCHED AND src2.n >= 20 THEN UPDATE SET *
        |WHEN NOT MATCHED AND src2.n < 45
        |  THEN INSERT (k, n) VALUES (src2.k, src2.n * 2)""".stripMargin,
      batchId = Some(1L))
    // b: conditional SET * takes the whole source row (n = 20)
    // d: insert condition holds → inserted through the VALUES exprs
    // e: insert condition fails → dropped (NOT null-inserted)
    assert(state(store) == Set(("a", 1), ("b", 20), ("c", 3), ("d", 80)))
  }

  test("a DML rewrite beaten by a concurrent maintenance rewrite " +
      "throws instead of reporting silent success") {
    val (path, store) = freshStoreAt()
    store.append(Seq(("d", 9)).toDF("k", "n"), 1L) // two dirs to compact
    val rival = new ManifestTableStore(path, statsColumns = Seq("n"))
    // in the window between the delete's data rewrite and its commit, a
    // second handle compacts the table (moves every batch to a new dir)
    store.beforeDmlCommit = () => {
      store.beforeDmlCommit = () => ()
      rival.compact(spark)
    }
    val before = state(rival)
    intercept[java.util.ConcurrentModificationException] {
      StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t WHERE n >= 2")
    }
    // NOTHING was applied — the table is exactly the compacted state
    assert(state(store) == before)
    // a clean retry sees the compacted snapshot and applies
    StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t WHERE n >= 2")
    assert(state(store) == Set(("a", 1)))
  }

  test("unknown targets and non-DML statements are refused") {
    val store = freshStore()
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "DELETE FROM other WHERE n = 1")
    }
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store), "SELECT * FROM t")
    }
  }

  test("SQL-text maintenance: OPTIMIZE folds pending MoR deletes and " +
      "merges small files, OPTIMIZE ZORDER restores skippability, " +
      "VACUUM DRY RUN reports without touching, VACUUM reclaims") {
    val p = Files.createTempDirectory("sqlmaint-")
    p.toFile.deleteOnExit()
    // sub-default RETAIN below needs the explicit opt-out (Delta's
    // retentionDurationCheck) — and the guard itself must refuse first
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "true")
    val guardStore = new ManifestTableStore(
      Files.createTempDirectory("sqlmaint-guard-").toString)
    guardStore.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    val e = intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("g" -> guardStore),
        "VACUUM g RETAIN 0 HOURS")
    }
    assert(e.getMessage.contains("168"),
      "sub-default retention must refuse with the Delta-check message")
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"), morDeleteKey = Some("k"))
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    store.append(Seq(("c", 3), ("d", 4)).toDF("k", "n"), 1L)
    StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t WHERE n = 2")
    // plain OPTIMIZE = maintain(): delete fold + small-file merge
    val actions = StoreSql.exec(spark, Map("t" -> store), "OPTIMIZE t")
      .as[String].collect().toSet
    assert(actions == Set("compactDeletes", "compactSmall"),
      s"got $actions")
    assert(state(store) == Set(("a", 1), ("c", 3), ("d", 4)))
    // superseded pre-maintenance dirs: DRY RUN reports them, touches
    // nothing (the pre-fold version must stay readable)
    val vBefore = store.currentVersion(spark)
    val dry = StoreSql.exec(spark, Map("t" -> store),
      "VACUUM t RETAIN 0 HOURS DRY RUN").as[String].collect().toSet
    assert(dry.nonEmpty, "superseded dirs must report")
    assert(store.currentVersion(spark) == vBefore)
    val real = StoreSql.exec(spark, Map("t" -> store),
      "VACUUM t RETAIN 0 HOURS").as[String].collect().toSet
    assert(real == dry, "the real run must reclaim the dry-run report")
    assert(state(store) == Set(("a", 1), ("c", 3), ("d", 4)),
      "current state survives vacuum")
    // ZORDER form: interleaved appends kill stats; the SQL statement
    // restores per-dir skippability on the named column
    val zp = Files.createTempDirectory("sqlz-")
    zp.toFile.deleteOnExit()
    val zs = new ManifestTableStore(zp.toString,
      statsColumns = Seq("n"))
    zs.append((1 to 400).filter(_ % 2 == 0).map(n => (s"k$n", n))
      .toDF("k", "n"), 0L)
    zs.append((1 to 400).filter(_ % 2 == 1).map(n => (s"k$n", n))
      .toDF("k", "n"), 1L)
    val allDirs = zs.read(spark).inputFiles.length
    val act = StoreSql.exec(spark, Map("z" -> zs),
      "OPTIMIZE z ZORDER BY (n)").as[String].collect().toSeq
    assert(act == Seq("compactZOrder(n)"))
    val pruned = zs.readWhere(spark, "n <= 20").inputFiles.length
    assert(pruned < allDirs && pruned > 0,
      s"a narrow range must open fewer files after ZORDER " +
        s"($pruned vs $allDirs)")
    assert(zs.readWhere(spark, "n <= 20").count() == 20)
    // unknown maintenance target refuses
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store), "OPTIMIZE nope")
    }
  }

  test("RESTORE TABLE ... TO VERSION AS OF and DESCRIBE HISTORY run " +
      "as SQL text: rollback is metadata-only and audited, the ledger " +
      "is a result frame") {
    val store = freshStore()                       // v1: a,b,c
    StoreSql.exec(spark, Map("t" -> store), "DELETE FROM t WHERE n >= 2")
    assert(state(store) == Set(("a", 1)))          // v2: the bad job
    val res = StoreSql.exec(spark, Map("t" -> store),
      "RESTORE TABLE t TO VERSION AS OF 1")
    assert(res.select("restored_to", "current_version")
      .as[(Long, Long)].head() == ((1L, 3L)),
      "restore commits a NEW version referencing v1's state")
    assert(state(store) == Set(("a", 1), ("b", 2), ("c", 3)))
    // the audit trail survives: history shows all three versions
    val hist = StoreSql.exec(spark, Map("t" -> store),
      "DESCRIBE HISTORY t")
    assert(hist.columns.contains("version") && hist.count() == 3)
  }

  test("SQL INSERT enforces the table schema: narrower values up-cast " +
      "losslessly, wider/lateral values refuse with the widen " +
      "remediation, unknown columns refuse instead of silently " +
      "evolving") {
    val p = Files.createTempDirectory("sqlinsert-schema-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString)
    store.append(Seq(("a", 1L, 0.5)).toDF("k", "n", "x"), 0L)
    val t = Map("t" -> store)
    // int literal into a BIGINT column: lossless up-cast, and the
    // written physical file is ALREADY wide (no mixed generations)
    StoreSql.exec(spark, t, "INSERT INTO t VALUES ('b', 2, 1.5)",
      batchId = Some(1L))
    assert(store.read(spark).schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(store.read(spark).select("k", "n").as[(String, Long)]
      .collect().toSet == Set(("a", 1L), ("b", 2L)))
    // a DOUBLE into the BIGINT column is an ungoverned widen: refused
    // with the ALTER COLUMN remediation
    val e = intercept[IllegalArgumentException] {
      StoreSql.exec(spark, t, "INSERT INTO t VALUES ('c', 3.7, 0.0)",
        batchId = Some(2L))
    }
    assert(e.getMessage.contains("ALTER COLUMN"), e.getMessage)
    // a column the table does not have refuses instead of silently
    // adding it outside ADD COLUMNS
    val e2 = intercept[IllegalArgumentException] {
      StoreSql.exec(spark, t,
        "INSERT INTO t (k, n, x, extra) VALUES ('d', 4, 0.0, 9)",
        batchId = Some(3L))
    }
    assert(e2.getMessage.contains("ADD COLUMNS"), e2.getMessage)
    // NULL literals store into any column type
    StoreSql.exec(spark, t, "INSERT INTO t VALUES ('e', NULL, NULL)",
      batchId = Some(4L))
    assert(store.read(spark).count() == 3)
    // after a governed widen the same wide value is welcome
    store.widenColumn(spark, "n",
      org.apache.spark.sql.types.DecimalType(38, 1))
    StoreSql.exec(spark, t, "INSERT INTO t VALUES ('f', 3.7, 0.0)",
      batchId = Some(5L))
    assert(store.read(spark).filter($"k" === "f")
      .select($"n".cast("double")).as[Double].head() == 3.7)
  }

  test("a STRING partition column keeps its leading zeros through SQL " +
      "INSERT and SELECT, and a later non-numeric value commits") {
    val base = Files.createTempDirectory("sqlpart-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark, "CREATE TABLE t (code STRING, v BIGINT) " +
      "USING graft_store PARTITIONED BY (code)")
    cat.exec(spark, "INSERT INTO t VALUES ('007', 1), ('010', 2)",
      batchId = Some(0L))
    def codes(): Seq[Any] = cat.query(spark,
      "SELECT code FROM t ORDER BY code").collect().map(_.get(0)).toSeq
    assert(codes() == Seq("007", "010"))
    cat.exec(spark, "INSERT INTO t VALUES ('A1', 3)", batchId = Some(1L))
    assert(codes() == Seq("007", "010", "A1"))
  }

  test("OPTIMIZE t WHERE pred scopes the small-file merge to " +
      "stats-admitted dirs: out-of-scope dirs carry forward " +
      "byte-identical, rows survive exactly, WHERE+ZORDER refuses") {
    val p = Files.createTempDirectory("optwhere-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"))
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    store.append(Seq(("c", 1000)).toDF("k", "n"), 1L)
    store.append(Seq(("d", 1001)).toDF("k", "n"), 2L)
    val t = Map("t" -> store)
    val before = store.read(spark).inputFiles.toSet
    val lowFiles = before.filter(_.contains("batch-0-"))
    assert(lowFiles.nonEmpty)
    val actions = StoreSql.exec(spark, t, "OPTIMIZE t WHERE n >= 1000")
      .collect().map(_.getString(0)).toSeq
    assert(actions.exists(_.contains("where")), actions.mkString(","))
    val after = store.read(spark).inputFiles.toSet
    assert(lowFiles.subsetOf(after),
      "the dir the predicate cannot touch must carry byte-identical")
    assert(after.exists(_.contains("/compact-")),
      "the in-scope small dirs must have merged")
    assert(!after.exists(f =>
      f.contains("batch-1-") || f.contains("batch-2-")))
    assert(state(store) ==
      Set(("a", 1), ("b", 2), ("c", 1000), ("d", 1001)))
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, t, "OPTIMIZE t WHERE n >= 1 ZORDER BY (n)")
    }
    // the predicate's OWN string literals must survive routing (the
    // verb match strips literals; the capture must not): the headline
    // "optimize today's ingest" shape is a quoted literal
    val lit = StoreSql.exec(spark, t, "OPTIMIZE t WHERE k = 'zzz'")
      .collect().map(_.getString(0)).toSeq
    assert(lit.exists(_.contains("where")),
      s"string-literal predicate must route and parse: $lit")
    assert(state(store) ==
      Set(("a", 1), ("b", 2), ("c", 1000), ("d", 1001)))
  }

  test("the star-form MERGE source passes the INSERT schema gate: an " +
      "extra source column or wider value type refuses (conf off) " +
      "instead of slipping an ungoverned physical schema change in, " +
      "and evolves through the governed verbs with the conf on") {
    val store = freshStore() // k STRING, n INT
    val t = Map("t" -> store)
    Seq(("a", 10L, "x")).toDF("k", "n", "flag")
      .createOrReplaceTempView("msrc") // n BIGINT + an extra column
    val mergeSql =
      """MERGE INTO t USING msrc ON t.k = msrc.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, t, mergeSql, batchId = Some(7L))
    }
    assert(!store.read(spark).columns.contains("flag"),
      "the refused merge must not have evolved anything")
    try {
      spark.conf.set(StoreSql.AutoMergeConf, "true")
      StoreSql.exec(spark, t, mergeSql, batchId = Some(7L))
    } finally spark.conf.unset(StoreSql.AutoMergeConf)
    assert(store.read(spark).schema("n").dataType ==
      org.apache.spark.sql.types.LongType, "governed widen")
    assert(store.read(spark).columns.contains("flag"), "governed add")
    val rows = store.read(spark).select("k", "n", "flag").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("-"))).toSet
    assert(rows == Set(("a", 10L, "x"), ("b", 2L, "-"), ("c", 3L, "-")))
  }

  test("TRUNCATE TABLE is ONE metadata commit: schema kept, rows " +
      "gone, the pre-truncate version time-travels, CDF reports the " +
      "retirements, INSERT still has a target, restore undoes it") {
    val store = freshStore() // v1: a/b/c
    val t = Map("t" -> store)
    val v = store.currentVersion(spark)
    StoreSql.exec(spark, t, "TRUNCATE TABLE t")
    assert(store.currentVersion(spark) == v + 1,
      "truncate is exactly one commit")
    val now = store.read(spark)
    assert(now.count() == 0 &&
      now.columns.toSet == Set("k", "n", "batch_id"),
      "empty but fully typed")
    // no data file was touched: the pre-truncate version serves all rows
    assert(store.readVersion(spark, v).count() == 3)
    // CDC: the truncation travels as retirements of every row
    assert(store.readChangeFeed(spark, v, v + 1)
      .select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("delete", "a"), ("delete", "b"), ("delete", "c")))
    // the truncated table is still a positional INSERT target
    StoreSql.exec(spark, t, "INSERT INTO t VALUES ('z', 9)",
      batchId = Some(5L))
    assert(state(store) == Set(("z", 9)))
    // a mistaken truncate rolls back
    store.restore(spark, v)
    assert(state(store) == Set(("a", 1), ("b", 2), ("c", 3)))
  }

  test("schema auto-merge at the INSERT boundary: with the conf ON a " +
      "named new column auto-ADDs and a widenable value auto-widens " +
      "through the GOVERNED verbs (versioned, time-travelable); " +
      "positional inserts never evolve; OFF refuses exactly as before") {
    val p = Files.createTempDirectory("sqlinsert-automerge-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L) // n is INT
    val t = Map("t" -> store)
    try {
      spark.conf.set(StoreSql.AutoMergeConf, "true")
      // a NAMED new column: one governed ADD COLUMNS marker commit,
      // then the data commit — never an ungoverned wide file
      val v0 = store.currentVersion(spark)
      StoreSql.exec(spark, t,
        "INSERT INTO t (k, n, extra) VALUES ('b', 2, 9)",
        batchId = Some(1L))
      assert(store.read(spark).columns.contains("extra"))
      assert(store.currentVersion(spark) == v0 + 2,
        "marker + data = exactly two commits")
      // the evolution is versioned: pre-insert state has no 'extra'
      assert(!store.readVersion(spark, v0).columns.contains("extra"))
      // a widenable value type: INT column accepts a BIGINT value via
      // the governed widen (marker + cast across generations)
      StoreSql.exec(spark, t,
        "INSERT INTO t (k, n) VALUES ('c', 6000000000)",
        batchId = Some(2L))
      assert(store.read(spark).schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(store.read(spark).filter($"k" === "c").select("n")
        .as[Long].head() == 6000000000L)
      // the pre-widen rows still read correctly through the cast
      assert(store.read(spark).filter($"k" === "a").select("n")
        .as[Long].head() == 1L)
      // positional (no column list) cannot evolve — Delta's rule:
      // evolution needs names
      intercept[IllegalArgumentException] {
        StoreSql.exec(spark, t, "INSERT INTO t VALUES ('d', 4, 1, 2)",
          batchId = Some(3L))
      }
      // a LATERAL type mismatch stays refused even with the conf on
      intercept[IllegalArgumentException] {
        StoreSql.exec(spark, t,
          "INSERT INTO t (k, n) VALUES ('e', 'not-a-number')",
          batchId = Some(4L))
      }
      // an untyped NULL (void) cannot auto-ADD: targeted refusal with
      // the CAST remediation, not a parquet void-type crash mid-commit
      val nul = intercept[IllegalArgumentException] {
        StoreSql.exec(spark, t,
          "INSERT INTO t (k, n, ghost) VALUES ('g', 7, NULL)",
          batchId = Some(6L))
      }
      assert(nul.getMessage.contains("CAST"), nul.getMessage)
      assert(!store.read(spark).columns.contains("ghost"))
    } finally spark.conf.unset(StoreSql.AutoMergeConf)
    // conf OFF (default): unknown columns refuse with the ADD COLUMNS
    // remediation, exactly the pre-existing contract
    val e = intercept[IllegalArgumentException] {
      StoreSql.exec(spark, t,
        "INSERT INTO t (k, n, more) VALUES ('f', 5, 1)",
        batchId = Some(5L))
    }
    assert(e.getMessage.contains("ADD COLUMNS"), e.getMessage)
  }

  test("maintenance verbs route on the statement with comments and " +
      "string literals stripped: trailing comments are tolerated, a " +
      "table name smuggled inside a comment cannot confuse the router") {
    val p = Files.createTempDirectory("sqlmaint-comments-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 2)).toDF("k", "n"), 1L)
    val t = Map("t" -> store)
    // a trailing line comment must not defeat the verb match
    val actions = StoreSql.exec(spark, t,
      "OPTIMIZE t -- nightly job, see runbook").as[String].collect()
    assert(actions.nonEmpty, "commented OPTIMIZE must still route")
    // a block comment between tokens is inert
    assert(StoreSql.exec(spark, t,
      "DESCRIBE /* audit */ HISTORY t").count() >= 1)
    // DRY RUN after a comment still parses as part of the statement
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    StoreSql.exec(spark, t,
      "VACUUM t RETAIN 0 HOURS /* keep nothing */ DRY RUN")
    // a verb smuggled INSIDE a comment is not a maintenance statement:
    // the text falls through to Spark's parser, which refuses it as SQL
    intercept[Exception] {
      StoreSql.exec(spark, t, "SELECT 1 -- OPTIMIZE t")
    }
  }

  test("DESCRIBE DETAIL returns one row of physical table metadata " +
      "without opening a data file, and wins over Spark's " +
      "DESCRIBE-column parse") {
    val p = Files.createTempDirectory("sqldetail-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      partitionBy = Seq("k"), statsColumns = Seq("n"),
      bloomColumns = Seq("k"))
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    store.append(Seq(("c", 3)).toDF("k", "n"), 1L)
    store.addCheck(spark, "n_pos", "n > 0")
    val d = StoreSql.exec(spark, Map("t" -> store),
      "DESCRIBE DETAIL t").collect()
    assert(d.length == 1)
    val r = d.head
    assert(r.getAs[String]("format") == "graft-store")
    assert(r.getAs[String]("location") == p.toString)
    assert(r.getAs[Long]("version") == 2L)
    assert(r.getAs[String]("partition_columns") == "k")
    assert(r.getAs[String]("stats_columns") == "n")
    assert(r.getAs[String]("bloom_columns") == "k")
    assert(r.getAs[Long]("num_checks") == 1L)
    assert(r.getAs[Long]("num_files") >= 2L,
      "two committed batches mean at least two live parquet files")
    assert(r.getAs[Long]("size_in_bytes") > 0L)
    assert(!r.getAs[java.sql.Timestamp]("created_at")
      .after(r.getAs[java.sql.Timestamp]("last_modified")))
  }

  test("table_changes('t', start[, end]) serves the batch change feed " +
      "through pure SQL: commit-range semantics, end defaults to " +
      "current, deletes carry _change_type='delete', bad args refuse") {
    val store = freshStore() // v1: a/b/c (commit 1)
    val t = Map("t" -> store)
    store.append(Seq(("d", 4)).toDF("k", "n"), 1L) // v2
    StoreSql.exec(spark, t, "DELETE FROM t WHERE k = 'a'") // v3
    def feed(sql: String): Set[(String, String)] =
      StoreSql.query(spark, t, sql)
        .select("k", "_change_type").as[(String, String)]
        .collect().toSet
    // commits 2..3: the d-insert and the a-delete
    assert(feed("SELECT k, _change_type FROM table_changes('t', 2, 3)")
      == Set(("d", "insert"), ("a", "delete")))
    // 2-arg form: end defaults to the current version
    assert(feed("SELECT k, _change_type FROM table_changes('t', 2)")
      == Set(("d", "insert"), ("a", "delete")))
    // commit 1 alone: the seed batch, all inserts
    assert(feed("SELECT k, _change_type FROM table_changes('t', 1, 1)")
      == Set(("a", "insert"), ("b", "insert"), ("c", "insert")))
    // NET semantics (Iceberg's net_changes mode): 'a' was inserted at
    // commit 1 AND deleted at commit 3, so over the 1..3 window it
    // nets out entirely — the feed reports b/c/d as the net inserts,
    // and composes with ordinary SQL (WHERE + aggregate)
    assert(feed("SELECT k, _change_type FROM table_changes('t', 1, 3)")
      == Set(("b", "insert"), ("c", "insert"), ("d", "insert")))
    val n = StoreSql.query(spark, t,
      """SELECT COUNT(*) AS n FROM table_changes('t', 1, 3)
        |WHERE _change_type = 'insert'""".stripMargin)
      .as[Long].head()
    assert(n == 3L, "b/c/d net-inserted across the window")
    // refusals: version 0, inverted window, unknown table, non-literal
    intercept[IllegalArgumentException] {
      StoreSql.query(spark, t, "SELECT * FROM table_changes('t', 0, 1)")
    }
    intercept[IllegalArgumentException] {
      StoreSql.query(spark, t, "SELECT * FROM table_changes('t', 3, 2)")
    }
    intercept[IllegalArgumentException] {
      StoreSql.query(spark, t, "SELECT * FROM table_changes('x', 1)")
    }
    intercept[IllegalArgumentException] {
      StoreSql.query(spark, t,
        "SELECT * FROM table_changes('t', 1 + 1)")
    }
  }
}
