package graft.engine

import java.nio.file.Files

import graft.SparkSpec

/** Materialized gold views with CDF-incremental REFRESH: a real store
  * table + a definition sidecar; REFRESH folds the change-data-feed
  * windows into the backing table when the definition decomposes (a
  * row map — filter/projection legs under UNION ALL, one leg without
  * — or a GROUP BY of COUNT/SUM/MIN/MAX/AVG over one, for any number
  * of sources) — otherwise it recomputes fully and SAYS so in the
  * returned mode row.
  */
class MaterializedViewSpec extends SparkSpec {

  import spark.implicits._

  private def freshCat(): (StoreCatalog, String) = {
    val p = Files.createTempDirectory("mview-")
    p.toFile.deleteOnExit()
    (new StoreCatalog(p.toString), p.toString)
  }

  private def modeOf(df: org.apache.spark.sql.DataFrame): String =
    df.head().getString(0)

  test("aggregate MV: CREATE materializes, append + REFRESH goes " +
      "INCREMENTAL and equals the full recompute row-for-row, a " +
      "second REFRESH is 'current', and a fresh catalog discovers " +
      "the MV as a queryable table") {
    val (cat, base) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ev (k STRING, n BIGINT, w DOUBLE) " +
        "USING graft_store")
    cat.exec(spark,
      "INSERT INTO ev VALUES ('a', 1, 2.0), ('a', 3, 1.0), " +
        "('b', 5, 9.0)", batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total, " +
      "MIN(w) AS lo, MAX(w) AS hi FROM ev GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW gold AS $defn",
      batchId = Some(100L))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
        .toMap
    assert(asMap(cat.query(spark,
      "SELECT k, cnt, total, lo, hi FROM gold")) ==
      asMap(cat.query(spark, defn)))
    // append: an existing group grows, a new group appears
    cat.exec(spark,
      "INSERT INTO ev VALUES ('a', 10, 0.5), ('c', 7, 4.0)",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW gold")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    assert(asMap(cat.query(spark,
      "SELECT k, cnt, total, lo, hi FROM gold")) ==
      asMap(cat.query(spark, defn)))
    assert(asMap(cat.query(spark,
      "SELECT k, cnt, total, lo, hi FROM gold"))("a") ==
      ((3L, 14L, 0.5, 2.0)))
    // nothing moved → current, and a replayed refresh stays correct
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW gold"))
      == "current")
    // fresh catalog: discovery via sidecar + backing table
    val cat2 = new StoreCatalog(base)
    val shown = cat2.exec(spark, "SHOW MATERIALIZED VIEWS")
      .select("mvName", "stale").as[(String, Boolean)].collect().toSet
    assert(shown == Set(("gold", false)), shown)
    assert(asMap(cat2.query(spark,
      "SELECT k, cnt, total, lo, hi FROM gold")) ==
      asMap(cat2.query(spark, defn)))
    // and the fresh catalog can refresh incrementally too
    cat2.exec(spark, "INSERT INTO ev VALUES ('b', 1, 1.0)",
      batchId = Some(2L))
    // a moved source flips the staleness flag until the refresh
    assert(cat2.exec(spark, "SHOW MATERIALIZED VIEWS")
      .select("stale").as[Boolean].head())
    assert(modeOf(cat2.exec(spark, "REFRESH MATERIALIZED VIEW gold"))
      == "incremental")
    assert(!cat2.exec(spark, "SHOW MATERIALIZED VIEWS")
      .select("stale").as[Boolean].head())
    assert(asMap(cat2.query(spark,
      "SELECT k, cnt, total, lo, hi FROM gold")) ==
      asMap(cat2.query(spark, defn)))
  }

  test("an insert-only fold whose keys span every backing dir leaves " +
      "ONE backing data dir and runs as many Spark jobs at the fifth " +
      "refresh as at the second, equal to the full recompute " +
      "throughout") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE fa (k STRING, v BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO fa VALUES ('a', 1), ('m', 2), ('z', 3)",
      batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(v) AS total FROM fa " +
      "GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW gall AS $defn",
      batchId = Some(100L))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def backingDirs() = cat.resolve(spark, "gall").get.read(spark)
      .inputFiles.map(_.split("/data/").last.split('/').head).toSet
    val jobs = (1 to 5).map { i =>
      // every window lands on both ends of the key range (and opens a
      // group in between), so no backing dir is provably untouched
      cat.exec(spark, s"INSERT INTO fa VALUES ('a', $i), " +
        s"('z', ${10 * i}), ('k$i', $i)", batchId = Some(i.toLong))
      var mode = ""
      val n = jobsDuring {
        mode = modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW gall"))
      }
      assert(mode == "incremental", s"refresh $i: $mode")
      assert(backingDirs().size == 1, s"refresh $i: ${backingDirs()}")
      assert(asMap(cat.query(spark, "SELECT k, cnt, total FROM gall")) ==
        asMap(cat.query(spark, defn)), s"refresh $i")
      n
    }
    assert(jobs(4) == jobs(1), s"jobs per refresh: $jobs")
  }

  test("an incremental aggregate REFRESH over an append-only window " +
      "runs at most 4 Spark jobs, and the backing's change feed shows " +
      "only the groups it folded") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ap (k STRING, s STRING, r DOUBLE) USING graft_store")
    cat.exec(spark, "INSERT INTO ap VALUES ('a', 'x', 1.0), " +
      "('b', 'x', 2.0), ('c', 'y', 3.0)", batchId = Some(0L))
    val defn = "SELECT k, s, COUNT(*) AS n, MAX(r) AS hi FROM ap " +
      "GROUP BY k, s"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW apg AS $defn",
      batchId = Some(100L))
    val backing = cat.resolve(spark, "apg").get
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    (1 to 2).foreach { i =>
      // group 'a' grows and a new group opens; 'b' and 'c' stay put
      cat.exec(spark, s"INSERT INTO ap VALUES ('a', 'x', ${i + 5}.0), " +
        s"('n$i', 'y', 0.5)", batchId = Some(i.toLong))
      val before = backing.currentVersion(spark)
      var mode = ""
      val jobs = jobsDuring {
        mode = modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW apg"))
      }
      assert(mode == "incremental", s"refresh $i: $mode")
      assert(jobs <= 4, s"refresh $i ran $jobs jobs")
      assert(asSet(cat.query(spark, "SELECT k, s, n, hi FROM apg")) ==
        asSet(cat.query(spark, defn)), s"refresh $i")
      val feed = backing.readChangeFeed(spark, before,
        backing.currentVersion(spark))
      def keysOf(t: String) = feed.filter(s"_change_type = '$t'")
        .select("k").as[String].collect().toSet
      assert(keysOf("insert") == Set("a", s"n$i"), s"refresh $i")
      assert(keysOf("delete") == Set("a"), s"refresh $i")
    }
  }

  test("a REFRESH whose window brings a NULL group key or empties a " +
      "group folds incrementally, equal to the recompute, and leaves " +
      "no uncommitted dir under the backing's data/") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE gt (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO gt VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total FROM gt " +
      "GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW gmv AS $defn",
      batchId = Some(100L))
    val backing = cat.resolve(spark, "gmv").get
    val data = java.nio.file.Paths.get(backing.tablePath, "data")
    def dirs(): Set[String] = {
      import scala.jdk.CollectionConverters._
      Files.list(data).iterator().asScala.map(_.getFileName.toString).toSet
    }
    def readDirs() = backing.read(spark).inputFiles
      .map(_.split("/data/").last.split('/').head).toSet
    def asSet(q: String) = cat.query(spark, q)
      .as[(Option[String], Long, Long)].collect().toSet
    // each fold adds exactly one dir under data/, the one the backing
    // now reads: nothing uncommitted is left behind
    def refresh(): String = {
      val before = dirs()
      val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW gmv")
      assert(dirs() -- before == readDirs(), dirs() -- before)
      assert(asSet("SELECT k, cnt, total FROM gmv") == asSet(defn))
      modeOf(r)
    }
    cat.exec(spark, "INSERT INTO gt VALUES (NULL, 5)", batchId = Some(1L))
    assert(refresh() == "incremental")
    cat.exec(spark, "DELETE FROM gt WHERE k = 'b'")
    assert(refresh() == "incremental")
    assert(asSet("SELECT k, cnt, total FROM gmv") ==
      Set((Some("a"), 1L, 1L), (None, 1L, 5L)))
  }

  test("row-map MV (filter/projection): incremental refresh appends " +
      "the transformed delta only") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE rm (k BIGINT, v STRING) USING graft_store")
    cat.exec(spark, "INSERT INTO rm VALUES (1, 'keep'), (2, 'drop')",
      batchId = Some(0L))
    val defn = "SELECT k, upper(v) AS vu FROM rm WHERE v = 'keep'"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW flt AS $defn",
      batchId = Some(100L))
    cat.exec(spark, "INSERT INTO rm VALUES (3, 'keep'), (4, 'drop')",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW flt"))
      == "incremental")
    assert(cat.query(spark, "SELECT k, vu FROM flt ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "KEEP"), (3L, "KEEP")))
  }

  test("fallbacks recompute FULLY and say so: deletes in the window, " +
      "multi-source definitions, non-decomposable aggregates — " +
      "content always equals the live recompute") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE f1 (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO f1 VALUES ('a', 1), ('a', 2), ('b', 3)",
      batchId = Some(0L))
    val defn = "SELECT k, SUM(n) AS total FROM f1 GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW m1 AS $defn",
      batchId = Some(100L))
    // a DELETE retracts through the SUM's fold pair — incremental,
    // and the content still equals the recompute
    cat.exec(spark, "DELETE FROM f1 WHERE n = 2")
    val r1 = cat.exec(spark, "REFRESH MATERIALIZED VIEW m1")
    assert(modeOf(r1) == "incremental", r1.collect().mkString)
    assert(cat.query(spark, "SELECT k, total FROM m1 ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 3L)))
    // an insert-only window keeps folding
    cat.exec(spark, "INSERT INTO f1 VALUES ('b', 10)",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW m1"))
      == "incremental")
    assert(cat.query(spark, "SELECT total FROM m1 WHERE k = 'b'")
      .as[Long].head() == 13L)
    // MIN/MAX cannot retract through pairs, but a delete window only
    // changes the groups it TOUCHED: group-bounded recompute, written
    // over the backing — INCREMENTAL, not a gold rebuild (own table —
    // f1 keeps serving the multi-source case below)
    cat.exec(spark,
      "CREATE TABLE f1b (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO f1b VALUES ('a', 1), ('a', 5), ('b', 3)",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW m1b AS SELECT k, MIN(n) AS lo " +
        "FROM f1b GROUP BY k", batchId = Some(110L))
    cat.exec(spark, "DELETE FROM f1b WHERE n = 1")
    var r1b: org.apache.spark.sql.DataFrame = null
    val minMaxJobs = jobsDuring {
      r1b = cat.exec(spark, "REFRESH MATERIALIZED VIEW m1b")
    }
    // the touched groups' recompute and the backing rewrite are one
    // write job
    assert(minMaxJobs == 12, s"MIN/MAX delete-window refresh: $minMaxJobs")
    assert(modeOf(r1b) == "incremental", r1b.collect().mkString)
    assert(cat.query(spark, "SELECT k, lo FROM m1b ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 5L), ("b", 3L)))
    // ...and a group the window EMPTIES vanishes from the recompute
    // and so leaves the backing
    cat.exec(spark, "DELETE FROM f1b WHERE n = 5")
    val r1c = cat.exec(spark, "REFRESH MATERIALIZED VIEW m1b")
    assert(modeOf(r1c) == "incremental", r1c.collect().mkString)
    assert(cat.query(spark, "SELECT k, lo FROM m1b ORDER BY k")
      .as[(String, Long)].collect().toSeq == Seq(("b", 3L)))
    assert(cat.query(spark, "SELECT k, lo FROM m1b ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      cat.query(spark, "SELECT k, MIN(n) AS lo FROM f1b GROUP BY k " +
        "ORDER BY k").as[(String, Long)].collect().toSeq)
    // multi-source JOINs: always full (only UNION ALL row-map legs
    // decompose)
    cat.exec(spark,
      "CREATE TABLE f2 (k STRING, tag STRING) USING graft_store")
    cat.exec(spark, "INSERT INTO f2 VALUES ('a', 'x')",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW m2 AS SELECT f1.k, SUM(n) AS t " +
        "FROM f1 JOIN f2 ON f1.k = f2.k GROUP BY f1.k",
      batchId = Some(101L))
    cat.exec(spark, "INSERT INTO f2 VALUES ('b', 'y')",
      batchId = Some(1L))
    val r2 = cat.exec(spark, "REFRESH MATERIALIZED VIEW m2")
    assert(modeOf(r2) == "full:multi-source definition",
      r2.collect().mkString)
    assert(cat.query(spark, "SELECT k, t FROM m2 ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 13L)))
    // COUNT(DISTINCT …) does not decompose → full, loudly
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW m3 AS SELECT k, " +
        "COUNT(DISTINCT n) AS m FROM f1 GROUP BY k",
      batchId = Some(102L))
    cat.exec(spark, "INSERT INTO f1 VALUES ('a', 9)",
      batchId = Some(2L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW m3"))
      == "full:non-decomposable definition")
    assert(cat.query(spark, "SELECT m FROM m3 WHERE k = 'a'")
      .as[Long].head() == 2L)
  }

  test("guards: direct DML refuses, DROP TABLE refuses with the MV " +
      "verb, RENAME refuses, namespace is shared, DROP MATERIALIZED " +
      "VIEW removes sidecar + backing, unknown names refuse") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE g1 (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO g1 VALUES ('a', 1)",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW gm AS SELECT k, COUNT(*) AS c " +
        "FROM g1 GROUP BY k", batchId = Some(100L))
    val e1 = intercept[IllegalArgumentException] {
      cat.exec(spark, "INSERT INTO gm VALUES ('z', 9)",
        batchId = Some(50L))
    }
    assert(e1.getMessage.contains("MATERIALIZED VIEW"), e1.getMessage)
    intercept[IllegalArgumentException] {
      cat.exec(spark, "DELETE FROM gm WHERE k = 'a'")
    }
    val e2 = intercept[IllegalArgumentException] {
      cat.exec(spark, "DROP TABLE gm")
    }
    assert(e2.getMessage.contains("DROP MATERIALIZED VIEW"),
      e2.getMessage)
    // content-DESYNCING verbs refuse too: TRUNCATE / REPLACE /
    // RESTORE would change the backing while the sidecar still
    // records the sources as refreshed — the next REFRESH would
    // report 'current' over wrong data
    intercept[IllegalArgumentException] {
      cat.exec(spark, "TRUNCATE TABLE gm")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE OR REPLACE TABLE gm (x INT) USING graft_store")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark, "RESTORE TABLE gm TO VERSION AS OF 1")
    }
    // content-preserving maintenance stays allowed
    cat.exec(spark, "OPTIMIZE gm")
    // and the MV's own writes still run (internal bypass): the fold,
    // which drops the emptied group, and the full recompute
    cat.exec(spark, "INSERT INTO g1 VALUES ('b', 2)",
      batchId = Some(1L))
    cat.exec(spark, "DELETE FROM g1 WHERE k = 'a'")
    assert(cat.exec(spark, "REFRESH MATERIALIZED VIEW gm")
      .head().getString(0) == "incremental")
    assert(cat.query(spark, "SELECT k, c FROM gm")
      .as[(String, Long)].collect().toSeq == Seq(("b", 1L)))
    assert(cat.exec(spark, "REFRESH MATERIALIZED VIEW gm FULL")
      .head().getString(0) == "full:forced")
    assert(cat.query(spark, "SELECT k, c FROM gm")
      .as[(String, Long)].collect().toSeq == Seq(("b", 1L)))
    intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE gm RENAME TO gm2")
    }
    // namespace shared: a table/view/MV name collision refuses
    intercept[Exception] {
      cat.exec(spark, "CREATE TABLE gm (x INT) USING graft_store")
    }
    intercept[Exception] {
      cat.exec(spark, "CREATE VIEW gm AS SELECT 1")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE MATERIALIZED VIEW gm AS SELECT k FROM g1")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark, "REFRESH MATERIALIZED VIEW nosuch")
    }
    cat.exec(spark, "DROP MATERIALIZED VIEW gm")
    assert(cat.exec(spark, "SHOW MATERIALIZED VIEWS").count() == 0L)
    assert(!cat.listTables(spark).contains("gm"))
    intercept[IllegalArgumentException] {
      cat.exec(spark, "DROP MATERIALIZED VIEW gm")
    }
    cat.exec(spark, "DROP MATERIALIZED VIEW IF EXISTS gm")
  }

  test("an MV pins its referenced names: renaming a source table (or " +
      "a view the definition uses) refuses; an MV OVER a view tracks " +
      "the view's underlying tables and refreshes (full recompute)") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE src9 (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO src9 VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE VIEW v9 AS SELECT k, n FROM src9 WHERE n > 0")
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW mv9 AS SELECT k, SUM(n) AS t " +
        "FROM v9 GROUP BY k", batchId = Some(100L))
    assert(cat.query(spark, "SELECT k, t FROM mv9 ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    // the MV tracks the UNDERLYING table: an append there flips
    // staleness and REFRESH picks it up (through the view = full)
    cat.exec(spark, "INSERT INTO src9 VALUES ('a', 10)",
      batchId = Some(1L))
    val mode = cat.exec(spark, "REFRESH MATERIALIZED VIEW mv9")
      .head().getString(0)
    assert(mode.startsWith("full:"), mode)
    assert(cat.query(spark, "SELECT t FROM mv9 WHERE k = 'a'")
      .as[Long].head() == 11L)
    // renaming the source table refuses (the view guard catches the
    // transitive reference first — v9 names src9); renaming the view
    // refuses with the MV hint (the MV names v9 directly)
    val e1 = intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE src9 RENAME TO src9x")
    }
    assert(e1.getMessage.contains("v9"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER VIEW v9 RENAME TO v9x")
    }
    assert(e2.getMessage.contains("mv9"), e2.getMessage)
    // an MV DIRECTLY over a table pins the table's name too
    cat.exec(spark,
      "CREATE TABLE src10 (k STRING) USING graft_store")
    cat.exec(spark, "INSERT INTO src10 VALUES ('x')",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW mv10 AS SELECT k, COUNT(*) AS c " +
        "FROM src10 GROUP BY k", batchId = Some(101L))
    val e3 = intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE src10 RENAME TO src10x")
    }
    assert(e3.getMessage.contains("mv10"), e3.getMessage)
    // drop the MVs, the renames proceed
    cat.exec(spark, "DROP MATERIALIZED VIEW mv9")
    cat.exec(spark, "ALTER VIEW v9 RENAME TO v9x")
    cat.exec(spark, "DROP MATERIALIZED VIEW mv10")
    cat.exec(spark, "ALTER TABLE src10 RENAME TO src10x")
  }

  test("a VACUUMED source CDF window degrades REFRESH to a loud " +
      "full recompute (never a hard failure), VACUUM DRY RUN reports " +
      "the at-risk MVs in advance, and the incremental path resumes " +
      "afterwards") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE vs (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO vs VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total " +
      "FROM vs GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW vmv AS $defn",
      batchId = Some(100L))
    // two more source commits so the vacuum horizon passes the MV's
    // recorded window start
    cat.exec(spark, "INSERT INTO vs VALUES ('a', 10)",
      batchId = Some(1L))
    cat.exec(spark, "INSERT INTO vs VALUES ('c', 5)",
      batchId = Some(2L))
    // the dry run WARNS about the MV before anything is deleted
    // (sub-default retention needs the explicit Delta-style override)
    val dry = cat.resolve(spark, "vs").get
      .vacuum(spark, retainLast = 1, minAgeMs = 0, dryRun = true)
    spark.conf.set(
      "spark.graft.vacuum.retentionCheck.enabled", "false")
    val advisory =
      try cat.exec(spark, "VACUUM vs RETAIN 0 HOURS DRY RUN")
      finally spark.conf.unset(
        "spark.graft.vacuum.retentionCheck.enabled")
    assert(dry.isEmpty) // every dir still referenced: the vacuum's
    // work here is retiring the old MANIFESTS (the CDF window)
    val advRows = advisory.collect().map(_.getString(0))
      .filter(_.startsWith("advisory"))
    assert(advRows.exists(r => r.contains("vmv") &&
      r.contains("full-recompute")), advRows.mkString("\n"))
    // the retention-check conf guards the SQL verb; the direct API
    // call expresses the same destructive intent explicitly
    cat.resolve(spark, "vs").get
      .vacuum(spark, retainLast = 1, minAgeMs = 0)
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW vmv")
    assert(modeOf(r) == "full:cdf window vacuumed",
      r.collect().mkString)
    def asMap() = cat.query(spark,
      "SELECT k, cnt, total FROM vmv").collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(asMap() == Map("a" -> ((2L, 11L)), "b" -> ((1L, 2L)),
      "c" -> ((1L, 5L))))
    // a fresh insert-only window folds incrementally again
    cat.exec(spark, "INSERT INTO vs VALUES ('b', 7)",
      batchId = Some(3L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW vmv"))
      == "incremental")
    assert(asMap()("b") == ((2L, 9L)))
  }

  test("realistic gold shape decomposes: multi-column GROUP BY with " +
      "a deterministic expression key and AVG — incremental refresh " +
      "equals the full recompute, the avg serves from its folded " +
      "sum/count pair, and ordinal/alias group references work") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE gk (src STRING, ts TIMESTAMP, v BIGINT) " +
        "USING graft_store")
    cat.exec(spark,
      "INSERT INTO gk VALUES " +
        "('app', TIMESTAMP '2026-01-01 03:00:00', 10), " +
        "('app', TIMESTAMP '2026-01-01 17:00:00', 20), " +
        "('web', TIMESTAMP '2026-01-02 09:00:00', 7)",
      batchId = Some(0L))
    val defn = "SELECT src, date_trunc('DAY', ts) AS day, " +
      "COUNT(*) AS cnt, SUM(v) AS total, AVG(v) AS m " +
      "FROM gk GROUP BY src, date_trunc('DAY', ts)"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW gold2 AS $defn",
      batchId = Some(100L))
    def served() = cat.query(spark,
      "SELECT src, day, cnt, total, m FROM gold2")
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    def recomputed() = cat.query(spark, defn)
      .collect().map(r => (r.getString(0), r.get(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(served() == recomputed())
    // the fold pair is materialized in the BACKING but storage-
    // internal: SELECT * serves exactly the declared outputs (a
    // vintage upgrade adding pairs mid-life must never widen a
    // user's star), while the backing table carries the pairs
    val cols = cat.query(spark, "SELECT * FROM gold2").columns.toSet
    assert(cols == Set("src", "day", "cnt", "total", "m"), cols)
    val backingCols =
      cat.resolve(spark, "gold2").get.read(spark).columns.toSet
    assert(backingCols.contains("m__sum") &&
      backingCols.contains("m__cnt"), backingCols)
    // grow an existing (src, day) group and open a new one
    cat.exec(spark,
      "INSERT INTO gk VALUES " +
        "('app', TIMESTAMP '2026-01-01 23:00:00', 40), " +
        "('web', TIMESTAMP '2026-01-03 01:00:00', 9)",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW gold2")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    assert(served() == recomputed())
    assert(served()(("app", "2026-01-01 00:00:00.0")) ==
      ((3L, 70L, 70.0 / 3)))
    // ordinal + group-by-alias references decompose too
    cat.exec(spark, "CREATE MATERIALIZED VIEW gold3 AS " +
      "SELECT src, date_trunc('DAY', ts) AS day, COUNT(*) AS cnt " +
      "FROM gk GROUP BY 1, day", batchId = Some(101L))
    cat.exec(spark,
      "INSERT INTO gk VALUES " +
        "('app', TIMESTAMP '2026-01-04 05:00:00', 1)",
      batchId = Some(2L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW gold3"))
      == "incremental")
    assert(cat.query(spark,
      "SELECT SUM(cnt) AS s FROM gold3").head().getLong(0) ==
      cat.query(spark, "SELECT COUNT(*) AS c FROM gk")
        .head().getLong(0))
    // a TIME-DEPENDENT expression key refuses the incremental path
    // (current_date() analyzes as deterministic but evaluates per
    // statement — delta partials keyed on refresh-day would never
    // fold into backing rows keyed on create-day): full, loudly
    cat.exec(spark, "CREATE MATERIALIZED VIEW gold4 AS " +
      "SELECT current_date() AS rk, COUNT(*) AS cnt " +
      "FROM gk GROUP BY current_date()",
      batchId = Some(102L))
    cat.exec(spark,
      "INSERT INTO gk VALUES " +
        "('web', TIMESTAMP '2026-01-04 06:00:00', 2)",
      batchId = Some(3L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW gold4"))
      == "full:non-decomposable definition")
    // decimal AVG stays on the full path (the double ratio could
    // drift from the exact decimal average)
    cat.exec(spark,
      "CREATE TABLE gd (k STRING, p DECIMAL(18,2)) USING graft_store")
    cat.exec(spark, "INSERT INTO gd VALUES ('a', 1.50)",
      batchId = Some(0L))
    cat.exec(spark, "CREATE MATERIALIZED VIEW gold5 AS " +
      "SELECT k, AVG(p) AS m FROM gd GROUP BY k",
      batchId = Some(103L))
    cat.exec(spark, "INSERT INTO gd VALUES ('a', 2.50)",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW gold5"))
      == "full:non-decomposable definition")
    assert(cat.query(spark, "SELECT m FROM gold5").head()
      .getDecimal(0).doubleValue() == 2.0)
  }

  test("a NULL group key folds incrementally like any other group: " +
      "the backing keeps ONE null-key row across refreshes, whether " +
      "the null group is in the delta or in the backing alone") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE nk (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO nk VALUES ('x', 1), (NULL, 2)", batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total " +
      "FROM nk GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW nmv AS $defn",
      batchId = Some(100L))
    def served() = cat.query(spark,
      "SELECT COALESCE(k, '<null>') AS k2, cnt, total FROM nmv")
      .as[(String, Long, Long)].collect().toSeq.sorted
    // delta without a null key: the backing's null group is untouched
    cat.exec(spark, "INSERT INTO nk VALUES ('x', 3)",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW nmv"))
      == "incremental")
    // delta WITH a null key, twice: it folds into the one null row
    cat.exec(spark, "INSERT INTO nk VALUES (NULL, 5)",
      batchId = Some(2L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW nmv")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    assert(served() == Seq(("<null>", 2L, 7L), ("x", 2L, 4L)), served())
    cat.exec(spark, "INSERT INTO nk VALUES (NULL, 10)",
      batchId = Some(3L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW nmv"))
      == "incremental")
    assert(served() == Seq(("<null>", 3L, 17L), ("x", 2L, 4L)), served())
  }

  test("NULL keys fold incrementally through both aggregate paths: " +
      "COUNT/SUM over a composite key with a NULL part, and MIN over " +
      "a bare stats key under delete windows with a NULL key — one " +
      "backing row per group and one backing dir after each refresh, " +
      "content equal to the recompute") {
    val (cat, _) = freshCat()
    var bid = 10L
    def check(mv: String, keys: String, out: String, defn: String,
        change: Seq[String]): Unit = {
      change.foreach { sql =>
        if (!sql.startsWith("INSERT")) cat.exec(spark, sql)
        else { cat.exec(spark, sql, batchId = Some(bid)); bid += 1 }
      }
      val r = cat.exec(spark, s"REFRESH MATERIALIZED VIEW $mv")
      assert(modeOf(r) == "incremental", s"$change: ${r.collect().mkString}")
      def rows(q: String) = cat.query(spark, q).collect()
        .map(_.toSeq.map(Option(_))).toSeq.sortBy(_.toString)
      val served = rows(s"SELECT $out FROM $mv")
      assert(served == rows(defn), change)
      val groups = rows(s"SELECT $keys FROM $mv")
      assert(groups.distinct.size == groups.size, s"$change: $groups")
      val backingDirs = cat.resolve(spark, mv).get.read(spark).inputFiles
        .map(_.split("/data/").last.split('/').head).toSet
      assert(backingDirs.size == 1, s"$change: $backingDirs")
    }
    // the retractable fold: a composite key, one part NULL
    cat.exec(spark,
      "CREATE TABLE ck (a STRING, b STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO ck VALUES (NULL, 'x', 1), " +
      "('p', 'x', 2), ('p', NULL, 3)", batchId = Some(0L))
    val cdefn = "SELECT a, b, COUNT(*) AS cnt, SUM(n) AS total FROM ck " +
      "GROUP BY a, b"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW cmv AS $cdefn",
      batchId = Some(100L))
    val cout = "a, b, cnt, total"
    check("cmv", "a, b", cout, cdefn, Seq(
      "INSERT INTO ck VALUES (NULL, 'x', 4), ('p', NULL, 5)"))
    check("cmv", "a, b", cout, cdefn, Seq("DELETE FROM ck WHERE n = 1"))
    // the (NULL, 'x') group empties while a new null-part group opens
    check("cmv", "a, b", cout, cdefn, Seq(
      "INSERT INTO ck VALUES ('q', NULL, 6)",
      "DELETE FROM ck WHERE n = 4"))
    // the group-bounded MIN recompute over a bare key with dir stats:
    // the key span must admit the NULL group's rows, also in a dir
    // whose key range lies outside it
    cat.exec(spark, "CREATE TABLE mk (k STRING, n BIGINT) USING " +
      "graft_store TBLPROPERTIES ('statsColumns'='k')")
    cat.exec(spark, "INSERT INTO mk VALUES ('a', 1), ('a', 5), " +
      "(NULL, 2)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO mk VALUES ('m', 3), ('z', 4), " +
      "(NULL, 7)", batchId = Some(1L))
    val mdefn = "SELECT k, MIN(n) AS lo FROM mk GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW mmv AS $mdefn",
      batchId = Some(101L))
    check("mmv", "k", "k, lo", mdefn, Seq(
      "DELETE FROM mk WHERE n IN (1, 2)"))
    // 'm' empties; the null group's minimum moves to an inserted row
    check("mmv", "k", "k, lo", mdefn, Seq(
      "INSERT INTO mk VALUES (NULL, 9), ('b', 6)",
      "DELETE FROM mk WHERE n IN (3, 7)"))
    check("mmv", "k", "k, lo", mdefn, Seq(
      "DELETE FROM mk WHERE k IS NULL"))
    assert(cat.query(spark, "SELECT k, lo FROM mmv ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 5L), ("b", 6L), ("z", 4L)))
  }

  test("crash between the refresh's data commit and its sidecar " +
      "publish never double-folds: the applied window recovers from " +
      "the backing table's reserved batch ids, and a lagging sidecar " +
      "heals on the next refresh") {
    val (cat, base) = freshCat()
    cat.exec(spark,
      "CREATE TABLE cw (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO cw VALUES ('a', 1)",
      batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total " +
      "FROM cw GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW cmv AS $defn",
      batchId = Some(100L))
    val sidecar = java.nio.file.Paths.get(base, "_catalog",
      "_mviews", "cmv")
    val preBytes = java.nio.file.Files.readAllBytes(sidecar)
    cat.exec(spark, "INSERT INTO cw VALUES ('a', 10)",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW cmv"))
      == "incremental")
    // simulate the crash: the data commit survived, the sidecar
    // publish did not
    java.nio.file.Files.write(sidecar, preBytes)
    // no new source commit: the refresh detects the backing already
    // folded the window, reports 'current', and HEALS the sidecar
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW cmv"))
      == "current")
    assert(cat.query(spark, "SELECT total FROM cmv WHERE k = 'a'")
      .as[Long].head() == 11L)
    // again, now with a NEW commit after the simulated crash: the
    // window must start AFTER the already-folded batch (sidecar says
    // otherwise; the backing's batch ids win)
    java.nio.file.Files.write(sidecar, preBytes)
    cat.exec(spark, "INSERT INTO cw VALUES ('a', 100)",
      batchId = Some(2L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW cmv")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    assert(cat.query(spark, "SELECT cnt, total FROM cmv " +
      "WHERE k = 'a'").as[(Long, Long)].head() == ((3L, 111L)))
  }

  test("DELETE and CoW UPDATE windows fold incrementally for " +
      "COUNT/SUM/AVG shapes: retraction through the pair columns, " +
      "NULL served when the last non-null value leaves, a fully " +
      "emptied group leaves the backing") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE rt (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO rt VALUES ('a', 1), ('a', 3), ('b', 5), " +
        "('b', NULL)", batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, COUNT(n) AS nn, " +
      "SUM(n) AS total, AVG(n) AS m FROM rt GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW rmv2 AS $defn",
      batchId = Some(100L))
    def served() = cat.query(spark,
      "SELECT k, cnt, nn, total, m FROM rmv2").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    def recomputed() = cat.query(spark, defn).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4)))).toMap
    // plain DELETE retracts
    cat.exec(spark, "DELETE FROM rt WHERE n = 3")
    val r1 = cat.exec(spark, "REFRESH MATERIALIZED VIEW rmv2")
    assert(modeOf(r1) == "incremental", r1.collect().mkString)
    assert(served() == recomputed())
    assert(served()("a") == ((1L, 1L, 1L, 1.0)))
    // CoW UPDATE travels as delete+insert and folds exactly
    cat.exec(spark, "UPDATE rt SET n = 10 WHERE n = 5")
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW rmv2"))
      == "incremental")
    assert(served() == recomputed())
    assert(served()("b") == ((2L, 1L, 10L, 10.0)))
    // retracting the LAST non-null value serves NULL, not 0 — the
    // group survives on its null row
    cat.exec(spark, "DELETE FROM rt WHERE n = 10")
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW rmv2"))
      == "incremental")
    assert(served() == recomputed())
    assert(served()("b") == ((1L, 0L, null, null)))
    // a group whose LAST row leaves folds to zero rows and leaves the
    // backing
    cat.exec(spark, "DELETE FROM rt WHERE k = 'a'")
    val r4 = cat.exec(spark, "REFRESH MATERIALIZED VIEW rmv2")
    assert(modeOf(r4) == "incremental", r4.collect().mkString)
    assert(served() == recomputed())
    assert(!served().contains("a"))
    // a group inserted AND deleted inside one window is invisible to
    // the endpoint-diff feed (it exists in neither endpoint version)
    // — the fold never sees it, stays incremental, content exact
    cat.exec(spark, "INSERT INTO rt VALUES ('c', 7)",
      batchId = Some(1L))
    cat.exec(spark, "DELETE FROM rt WHERE k = 'c'")
    val r5 = cat.exec(spark, "REFRESH MATERIALIZED VIEW rmv2")
    assert(modeOf(r5) == "incremental", r5.collect().mkString)
    assert(served() == recomputed())
    assert(!served().contains("c"))
  }

  test("a full refresh crashed between its REPLACE commit and its " +
      "data load (empty backing, stale sidecar) recovers by FULL " +
      "recompute — never an incremental fold that would resurrect " +
      "only the window") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE fr (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO fr VALUES ('a', 1), ('b', 2)", batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total " +
      "FROM fr GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW fmv AS $defn",
      batchId = Some(100L))
    // simulate the crash: the REPLACE metadata commit retired every
    // backing row, the RTAS data load never ran, the sidecar still
    // claims the old window — exactly the mid-full-refresh failpoint
    val backing = cat.resolve(spark, "fmv").get
    backing.replaceSchema(spark,
      backing.read(spark).drop("batch_id").schema, Nil)
    assert(backing.countRows(spark).contains(0L))
    // a new insert-only window arrives; a naive incremental fold
    // would serve ONLY these rows
    cat.exec(spark, "INSERT INTO fr VALUES ('a', 10)",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW fmv")
    assert(modeOf(r) ==
      "full:backing empty at a non-zero window start",
      r.collect().mkString)
    assert(cat.query(spark, "SELECT k, cnt, total FROM fmv")
      .collect().map(x =>
        x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap ==
      Map("a" -> ((2L, 11L)), "b" -> ((1L, 2L))))
    // and the next window folds incrementally again
    cat.exec(spark, "INSERT INTO fr VALUES ('b', 5)",
      batchId = Some(2L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW fmv"))
      == "incremental")
    assert(cat.query(spark, "SELECT total FROM fmv WHERE k = 'b'")
      .as[Long].head() == 7L)
  }

  test("a crashed full refresh of a MULTI-SOURCE aggregate (empty " +
      "backing, stale sidecar) recovers by FULL recompute through the " +
      "same gate as one source — never a fold into the emptied " +
      "backing") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE xa (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "CREATE TABLE xb (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO xa VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark, "INSERT INTO xb VALUES ('a', 30)",
      batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total FROM (" +
      "SELECT k, n FROM xa UNION ALL SELECT k, n FROM xb) GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW xmv AS $defn",
      batchId = Some(100L))
    // the mid-full-refresh failpoint: REPLACE retired every backing
    // row, the data load never ran, the sidecar claims the old windows
    val backing = cat.resolve(spark, "xmv").get
    backing.replaceSchema(spark,
      backing.read(spark).drop("batch_id").schema, Nil)
    assert(backing.countRows(spark).contains(0L))
    cat.exec(spark, "INSERT INTO xb VALUES ('c', 5)",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW xmv")
    assert(modeOf(r) ==
      "full:backing empty at a non-zero window start",
      r.collect().mkString)
    def asMap(q: String) = cat.query(spark, q).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(asMap("SELECT k, cnt, total FROM xmv") == asMap(defn))
    assert(asMap(defn) == Map("a" -> ((2L, 31L)), "b" -> ((1L, 2L)),
      "c" -> ((1L, 5L))))
  }

  test("AVG over a column a subselect renames folds incrementally: " +
      "the decomposer probes the aggregate's input, not the raw " +
      "source") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ar (k STRING, v BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO ar VALUES ('a', 1), ('b', 4)",
      batchId = Some(0L))
    val defn = "SELECT k2, COUNT(*) AS c, AVG(w) AS m FROM (" +
      "SELECT upper(k) AS k2, v AS w FROM ar) t GROUP BY k2"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW amv AS $defn",
      batchId = Some(100L))
    cat.exec(spark, "INSERT INTO ar VALUES ('a', 6), ('c', 2)",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW amv")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    def asMap(q: String) = cat.query(spark, q).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(asMap("SELECT k2, c, m FROM amv") == asMap(defn))
    assert(asMap(defn)("A") == ((2L, 3.5)))
  }

  test("width is pinned at CREATE: a naked SELECT * refuses (top " +
      "level and through a spliced view); the CTAS load reads the " +
      "snapshotted source versions") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE sw (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO sw VALUES ('a', 1)",
      batchId = Some(0L))
    val e1 = intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE MATERIALIZED VIEW swm AS SELECT * FROM sw")
    }
    assert(e1.getMessage.contains("`*`"), e1.getMessage)
    cat.exec(spark, "CREATE VIEW swv AS SELECT * FROM sw")
    val e2 = intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE MATERIALIZED VIEW swm AS SELECT k FROM " +
          "(SELECT * FROM swv) x")
    }
    assert(e2.getMessage.contains("`*`"), e2.getMessage)
    // COUNT(*) is fine — its star lives inside the function
    cat.exec(spark, "CREATE MATERIALIZED VIEW swm AS " +
      "SELECT k, COUNT(*) AS cnt FROM sw GROUP BY k",
      batchId = Some(100L))
    assert(cat.query(spark, "SELECT cnt FROM swm").as[Long]
      .head() == 1L)
  }

  test("MV refresh across source schema evolution: a governed ADD " +
      "COLUMNS between refreshes leaves the definition's explicit " +
      "projection stable — the wider CDF window folds incrementally " +
      "and equals the full recompute") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE se (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO se VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    val defn = "SELECT k, COUNT(*) AS cnt, SUM(n) AS total " +
      "FROM se GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW sev AS $defn",
      batchId = Some(100L))
    // the source widens AFTER the MV exists
    cat.exec(spark, "ALTER TABLE se ADD COLUMNS (extra STRING)")
    cat.exec(spark,
      "INSERT INTO se VALUES ('a', 10, 'x'), ('c', 5, 'y')",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW sev")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    def asMap(q: String) = cat.query(spark, q).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(asMap("SELECT k, cnt, total FROM sev") == asMap(defn))
    assert(asMap("SELECT k, cnt, total FROM sev")("a") == ((2L, 11L)))
    // the row-map shape survives evolution the same way
    cat.exec(spark, "CREATE MATERIALIZED VIEW sev2 AS " +
      "SELECT k, n FROM se WHERE n > 1", batchId = Some(101L))
    cat.exec(spark, "ALTER TABLE se ADD COLUMNS (extra2 BIGINT)")
    cat.exec(spark,
      "INSERT INTO se VALUES ('d', 9, 'z', 42)", batchId = Some(2L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW sev2"))
      == "incremental")
    assert(cat.query(spark, "SELECT k, n FROM sev2").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSet ==
      cat.query(spark, "SELECT k, n FROM se WHERE n > 1").collect()
        .map(x => (x.getString(0), x.getLong(1))).toSet)
  }

  test("time travel reads THROUGH an MV: VERSION AS OF serves the " +
      "backing's history behind the declared projection (fold pairs " +
      "hidden at every version); TIMESTAMP AS OF routes the same way") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE tv (k STRING, v BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO tv VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark, "CREATE MATERIALIZED VIEW tgold AS " +
      "SELECT k, COUNT(*) AS cnt, SUM(v) AS total, AVG(v) AS m " +
      "FROM tv GROUP BY k", batchId = Some(100L))
    cat.exec(spark, "INSERT INTO tv VALUES ('a', 10)",
      batchId = Some(1L))
    cat.exec(spark, "REFRESH MATERIALIZED VIEW tgold")
    // current state reflects both waves
    assert(cat.query(spark,
      "SELECT total FROM tgold WHERE k = 'a'").head().getLong(0) == 11L)
    // version 1 of the BACKING is the CREATE-time materialization
    val v1 = cat.query(spark, "SELECT * FROM tgold VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "cnt", "total", "m"),
      v1.columns.mkString(","))
    assert(v1.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      == Map("a" -> 1L, "b" -> 2L))
    // a far-future instant serves the current version, same projection
    val now = cat.query(spark,
      "SELECT * FROM tgold TIMESTAMP AS OF '2099-01-01 00:00:00'")
    assert(now.columns.toSeq == Seq("k", "cnt", "total", "m"))
    assert(now.collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      == Map("a" -> 11L, "b" -> 2L))
    // DESCRIBE shows the declared outputs only — the fold pairs are
    // storage-internal
    val described = cat.exec(spark, "DESCRIBE tgold").collect()
      .map(_.getString(0)).toSet
    assert(!described.exists(_.contains("__")), described)
    assert(Set("k", "cnt", "total", "m").subsetOf(described), described)
  }

  test("UNION ALL of row-map legs over two sources refreshes " +
      "INCREMENTALLY: only moved sources' windows fold, the legs' " +
      "differing output names land positionally, deletes in any " +
      "window degrade to a loud full recompute, and UNION (distinct) " +
      "never takes the append path") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ua (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "CREATE TABLE ub (kk STRING, m BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO ua VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark, "INSERT INTO ub VALUES ('c', 30), ('d', 41)",
      batchId = Some(0L))
    val defn = "SELECT k AS key, n AS v FROM ua UNION ALL " +
      "SELECT kk, m FROM ub WHERE m % 2 = 0"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW uni AS $defn",
      batchId = Some(100L))
    def asSet() = cat.query(spark,
      "SELECT key, v FROM uni").as[(String, Long)].collect().toSet
    assert(asSet() == Set(("a", 1L), ("b", 2L), ("c", 30L)))
    // only ONE source moves: its window folds; the other contributes
    // nothing (and its leg's filter applies to the delta)
    cat.exec(spark, "INSERT INTO ub VALUES ('e', 50), ('f', 51)",
      batchId = Some(1L))
    val r1 = cat.exec(spark, "REFRESH MATERIALIZED VIEW uni")
    assert(modeOf(r1) == "incremental", r1.collect().mkString)
    assert(asSet() ==
      Set(("a", 1L), ("b", 2L), ("c", 30L), ("e", 50L)))
    // both move
    cat.exec(spark, "INSERT INTO ua VALUES ('g', 7)",
      batchId = Some(1L))
    cat.exec(spark, "INSERT INTO ub VALUES ('h', 80)",
      batchId = Some(2L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW uni"))
      == "incremental")
    assert(asSet() == Set(("a", 1L), ("b", 2L), ("c", 30L),
      ("e", 50L), ("g", 7L), ("h", 80L)))
    // re-refresh: nothing moved
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW uni"))
      == "current")
    // a delete in EITHER window: full, loudly — appends can't retract
    cat.exec(spark, "DELETE FROM ua WHERE k = 'a'")
    val r2 = cat.exec(spark, "REFRESH MATERIALIZED VIEW uni")
    assert(modeOf(r2) == "full:deletes in a multi-source window",
      r2.collect().mkString)
    assert(asSet() == Set(("b", 2L), ("c", 30L),
      ("e", 50L), ("g", 7L), ("h", 80L)))
    // UNION (distinct) = Distinct(Union): dedup does not commute
    // with appends — full recompute path only
    cat.exec(spark, "CREATE MATERIALIZED VIEW unid AS " +
      "SELECT k AS key FROM ua UNION SELECT kk FROM ub",
      batchId = Some(101L))
    cat.exec(spark, "INSERT INTO ua VALUES ('b', 99)",
      batchId = Some(2L))
    val r3 = cat.exec(spark, "REFRESH MATERIALIZED VIEW unid")
    assert(modeOf(r3) == "full:multi-source definition",
      r3.collect().mkString)
    assert(cat.query(spark, "SELECT key FROM unid").as[String]
      .collect().toSet == Set("b", "c", "d", "e", "f", "g", "h"))
  }

  test("AGGREGATE over a UNION ALL of row-map legs (gold over " +
      "silver-union) refreshes INCREMENTALLY: insert windows fold as " +
      "partials, delete windows retract through the pair columns, " +
      "AVG serves from the folded pair, and the content always " +
      "equals the recompute") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ga (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "CREATE TABLE gb (kk STRING, m BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO ga VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark, "INSERT INTO gb VALUES ('a', 30), ('c', 41)",
      batchId = Some(0L))
    val defn = "SELECT key, COUNT(*) AS cnt, SUM(v) AS total, " +
      "AVG(v) AS m FROM (" +
      "SELECT k AS key, n AS v FROM ga UNION ALL " +
      "SELECT kk, m FROM gb WHERE m % 2 = 0) GROUP BY key"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW gu AS $defn",
      batchId = Some(100L))
    def served() = cat.query(spark,
      "SELECT key, cnt, total, m FROM gu").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def recomputed() = cat.query(spark, defn).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(served() == recomputed())
    assert(served()("a") == ((2L, 31L, 15.5)))
    // the backing carries the pairs; SELECT * hides them
    assert(cat.query(spark, "SELECT * FROM gu").columns.toSeq ==
      Seq("key", "cnt", "total", "m"))
    // one source moves: its window's partial folds
    cat.exec(spark, "INSERT INTO gb VALUES ('a', 10), ('d', 5)",
      batchId = Some(1L))
    val r1 = cat.exec(spark, "REFRESH MATERIALIZED VIEW gu")
    assert(modeOf(r1) == "incremental", r1.collect().mkString)
    assert(served() == recomputed())
    assert(served()("a") == ((3L, 41L, 41.0 / 3)))
    // both move, one with a DELETE: retraction folds incrementally
    cat.exec(spark, "INSERT INTO ga VALUES ('c', 7)",
      batchId = Some(1L))
    cat.exec(spark, "DELETE FROM gb WHERE m = 30")
    val r2 = cat.exec(spark, "REFRESH MATERIALIZED VIEW gu")
    assert(modeOf(r2) == "incremental", r2.collect().mkString)
    assert(served() == recomputed())
    assert(served()("a") == ((2L, 11L, 5.5)))
    // a group emptied across the union folds out of the backing
    cat.exec(spark, "DELETE FROM ga WHERE k = 'b'")
    val r3 = cat.exec(spark, "REFRESH MATERIALIZED VIEW gu")
    assert(modeOf(r3) == "incremental", r3.collect().mkString)
    assert(served() == recomputed())
  }

  test("multi-source crash recovery: a union fold's data commit " +
      "surviving a lost sidecar publish HEALS when nothing moved " +
      "('current'), and recomputes FULLY when a source moved (the " +
      "overlap is not provably idempotent from the version sum) — " +
      "content exact in both cases") {
    val (cat, base) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ca (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "CREATE TABLE cb (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO ca VALUES ('a', 1)",
      batchId = Some(0L))
    cat.exec(spark, "INSERT INTO cb VALUES ('b', 2)",
      batchId = Some(0L))
    val defn = "SELECT k, n FROM ca UNION ALL SELECT k, n FROM cb"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW cu AS $defn",
      batchId = Some(100L))
    val sidecar = java.nio.file.Paths.get(base, "_catalog",
      "_mviews", "cu")
    val preBytes = java.nio.file.Files.readAllBytes(sidecar)
    cat.exec(spark, "INSERT INTO ca VALUES ('a', 10)",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW cu"))
      == "incremental")
    def contents() = cat.query(spark, "SELECT k, n FROM cu")
      .as[(String, Long)].collect().toSeq.sorted
    val afterFold = contents()
    // crash A: data commit survived, sidecar publish lost, nothing
    // moved since → heal and report 'current'; content unchanged
    java.nio.file.Files.write(sidecar, preBytes)
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW cu"))
      == "current")
    assert(contents() == afterFold)
    // crash B: sidecar lost AND a source moved after the crash — the
    // already-applied overlap is not recoverable per source from the
    // version sum: full recompute, loudly, content exact
    java.nio.file.Files.write(sidecar, preBytes)
    cat.exec(spark, "INSERT INTO cb VALUES ('b', 20)",
      batchId = Some(1L))
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW cu")
    assert(modeOf(r) == "full:recovering a crashed multi-source " +
      "refresh", r.collect().mkString)
    assert(contents() ==
      Seq(("a", 1L), ("a", 10L), ("b", 2L), ("b", 20L)))
  }

  test("REFRESH MATERIALIZED VIEW ... FULL forces the rebuild " +
      "(mode full:forced) even when nothing moved, repairs an " +
      "out-of-band corrupted backing, and the incremental path " +
      "resumes afterwards") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE fr (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO fr VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark, "CREATE MATERIALIZED VIEW fmv AS " +
      "SELECT k, COUNT(*) AS cnt, SUM(n) AS total FROM fr GROUP BY k",
      batchId = Some(100L))
    // nothing moved: a plain refresh is 'current', FULL still rebuilds
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW fmv"))
      == "current")
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW fmv FULL")
    assert(modeOf(r) == "full:forced", r.collect().mkString)
    def served() = cat.query(spark,
      "SELECT k, cnt, total FROM fmv ORDER BY k")
      .as[(String, Long, Long)].collect().toSeq
    assert(served() == Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    // out-of-band corruption (direct write bypassing the MV guard —
    // the scenario the verb exists for): FULL repairs it
    cat.store("fmv").delete(spark, "k = 'a'")
    assert(served() == Seq(("b", 1L, 2L))) // corrupted
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW fmv FULL"))
      == "full:forced")
    assert(served() == Seq(("a", 1L, 1L), ("b", 1L, 2L)))
    // and the incremental path resumes on the next window
    cat.exec(spark, "INSERT INTO fr VALUES ('a', 10)",
      batchId = Some(1L))
    assert(modeOf(cat.exec(spark, "REFRESH MATERIALIZED VIEW fmv"))
      == "incremental")
    assert(served() == Seq(("a", 2L, 11L), ("b", 1L, 2L)))
  }

  test("GROUP BY <literal> with spark.sql.groupByOrdinal OFF is a " +
      "CONSTANT key, not an ordinal: the decomposer refuses and " +
      "REFRESH recomputes fully with contents matching the " +
      "constant-grouped recompute") {
    val (cat, _) = freshCat()
    spark.conf.set("spark.sql.groupByOrdinal", "false")
    try {
      cat.exec(spark,
        "CREATE TABLE go (k STRING, v BIGINT) USING graft_store")
      cat.exec(spark, "INSERT INTO go VALUES ('a', 1), ('b', 2)",
        batchId = Some(0L))
      val defn =
        "SELECT COUNT(*) AS cnt, SUM(v) AS total FROM go GROUP BY 1"
      cat.exec(spark, s"CREATE MATERIALIZED VIEW cgold AS $defn",
        batchId = Some(100L))
      cat.exec(spark, "INSERT INTO go VALUES ('c', 4)",
        batchId = Some(1L))
      val mode = modeOf(cat.exec(spark,
        "REFRESH MATERIALIZED VIEW cgold"))
      assert(mode.startsWith("full:"), mode)
      assert(cat.query(spark, "SELECT cnt, total FROM cgold").head()
        .toSeq == Seq(3L, 7L))
    } finally spark.conf.set("spark.sql.groupByOrdinal", "true")
  }

  test("group-bounded MIN/MAX retraction composes through a row-map " +
      "child: renaming subselects fold incrementally on the MAP's " +
      "key space (incl. a key name that shadows a raw column with " +
      "different content), and deletes the MV's WHERE clause " +
      "excludes stay incremental instead of tripping the " +
      "emptied-group rebuild") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE rm (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO rm VALUES ('a', 1), ('a', 5), ('b', 3)",
      batchId = Some(0L))
    // renamed + computed key: keyExprs name the SUBSELECT's outputs
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW rmv AS SELECT kk, MIN(v) AS lo " +
        "FROM (SELECT upper(k) AS kk, n AS v FROM rm) GROUP BY kk",
      batchId = Some(100L))
    cat.exec(spark, "DELETE FROM rm WHERE n = 1")
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW rmv")
    assert(modeOf(r) == "incremental", r.collect().mkString)
    assert(cat.query(spark, "SELECT kk, lo FROM rmv ORDER BY kk")
      .as[(String, Long)].collect().toSeq ==
      Seq(("A", 5L), ("B", 3L)))

    // adversarial shadowing: the MAP's `k` is the raw `v` column and
    // vice versa — touched groups must come from the MAPPED key (the
    // numeric-as-string), never the raw column that shares its name
    cat.exec(spark,
      "CREATE TABLE sh (k STRING, v BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO sh VALUES ('x', 1), ('x', 2), ('y', 2)",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW shv AS SELECT k, MIN(v) AS lo " +
        "FROM (SELECT CAST(v AS STRING) AS k, " +
        "CAST(length(k) AS BIGINT) AS v FROM sh) GROUP BY k",
      batchId = Some(100L))
    // delete one of the two v=2 rows: mapped group '2' is touched and
    // must be RECOMPUTED (still one '2' row left), group '1' untouched
    cat.exec(spark, "DELETE FROM sh WHERE k = 'y'")
    val r2 = cat.exec(spark, "REFRESH MATERIALIZED VIEW shv")
    assert(modeOf(r2) == "incremental", r2.collect().mkString)
    assert(cat.query(spark, "SELECT k, lo FROM shv ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("1", 1L), ("2", 1L)))

    // a delete entirely OUTSIDE the MV's WHERE clause touches no
    // visible group: incremental, and the backing is unchanged
    cat.exec(spark,
      "CREATE TABLE fw (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO fw VALUES ('a', 1), ('a', 50), ('b', 60)",
      batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW fwv AS SELECT k, MAX(n) AS hi " +
        "FROM (SELECT k, n FROM fw WHERE n >= 10) GROUP BY k",
      batchId = Some(100L))
    cat.exec(spark, "DELETE FROM fw WHERE n = 1")
    val r3 = cat.exec(spark, "REFRESH MATERIALIZED VIEW fwv")
    assert(modeOf(r3) == "incremental", r3.collect().mkString)
    assert(cat.query(spark, "SELECT k, hi FROM fwv ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 50L), ("b", 60L)))
    // ...and a delete of a filtered MV's visible row still recomputes
    // its group correctly through the map: emptied, it leaves
    cat.exec(spark, "DELETE FROM fw WHERE n = 60")
    val r4 = cat.exec(spark, "REFRESH MATERIALIZED VIEW fwv")
    assert(modeOf(r4) == "incremental", r4.collect().mkString)
    assert(cat.query(spark, "SELECT k, hi FROM fwv ORDER BY k")
      .as[(String, Long)].collect().toSeq == Seq(("a", 50L)))
    assert(cat.query(spark, "SELECT k, MAX(n) AS hi FROM (SELECT k, n " +
      "FROM fw WHERE n >= 10) GROUP BY k").as[(String, Long)].collect()
      .toSeq == Seq(("a", 50L)))
  }

  test("DESCRIBE and the read path agree on batch_id: hidden for " +
      "fold-pair MVs (reads serve exactly the declared projection), " +
      "served for row-map MVs") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE dsrc (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO dsrc VALUES ('a', 1)",
      batchId = Some(0L))
    // AVG generates fold pairs → declared projection applies
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW dagg AS SELECT k, AVG(n) AS m " +
        "FROM dsrc GROUP BY k", batchId = Some(100L))
    val aggCols = cat.exec(spark, "DESCRIBE TABLE dagg")
      .select("col_name").as[String].collect()
      .takeWhile(_.nonEmpty)
    assert(aggCols.toSeq == Seq("k", "m"), aggCols.mkString(","))
    assert(cat.query(spark, "SELECT * FROM dagg").columns.toSeq ==
      Seq("k", "m"))
    // every DESCRIBEd column is selectable; batch_id is neither
    intercept[Exception] {
      cat.query(spark, "SELECT batch_id FROM dagg").collect()
    }
    // row-map MV: no generated columns, batch_id serves and DESCRIBEs
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW drow AS SELECT k, n FROM dsrc " +
        "WHERE n > 0", batchId = Some(101L))
    val rowCols = cat.exec(spark, "DESCRIBE TABLE drow")
      .select("col_name").as[String].collect()
      .takeWhile(_.nonEmpty)
    assert(rowCols.contains("batch_id"), rowCols.mkString(","))
    assert(cat.query(spark, "SELECT batch_id FROM drow").count() == 1L)
  }

  test("ALTER MATERIALIZED VIEW ... RENAME TO: backing renames at the " +
      "pointer level, refresh watermarks travel, the first " +
      "post-rename REFRESH folds incrementally; SHOW MATERIALIZED " +
      "VIEWS tracks staleness per source for multi-source MVs") {
    val (cat, _) = freshCat()
    cat.exec(spark,
      "CREATE TABLE ra (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark,
      "CREATE TABLE rb (k STRING, n BIGINT) USING graft_store")
    cat.exec(spark, "INSERT INTO ra VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO rb VALUES ('b', 2)", batchId = Some(0L))
    cat.exec(spark,
      "CREATE MATERIALIZED VIEW u0 AS SELECT k, SUM(n) AS total " +
        "FROM (SELECT k, n FROM ra UNION ALL SELECT k, n FROM rb) " +
        "GROUP BY k", batchId = Some(100L))
    // rename; the sidecar's per-source watermarks must survive
    cat.exec(spark, "ALTER MATERIALIZED VIEW u0 RENAME TO u1")
    assert(cat.query(spark, "SELECT k, total FROM u1 ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 2L)))
    intercept[Exception] {
      cat.query(spark, "SELECT * FROM u0").collect()
    }
    // fresh after CREATE: not stale; one source moves: stale
    def staleOf(): Map[String, Boolean] =
      cat.exec(spark, "SHOW MATERIALIZED VIEWS")
        .select("mvName", "stale").as[(String, Boolean)]
        .collect().toMap
    assert(staleOf() == Map("u1" -> false), staleOf().toString)
    cat.exec(spark, "INSERT INTO rb VALUES ('b', 10)",
      batchId = Some(1L))
    assert(staleOf() == Map("u1" -> true))
    // the post-rename refresh is INCREMENTAL — watermarks traveled
    val r = cat.exec(spark, "REFRESH MATERIALIZED VIEW u1")
    assert(r.head().getString(0) == "incremental",
      r.collect().mkString)
    assert(cat.query(spark, "SELECT total FROM u1 WHERE k = 'b'")
      .as[Long].head() == 12L)
    assert(staleOf() == Map("u1" -> false))
    // plain ALTER TABLE rename still refuses, pointing at the MV verb
    val e = intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE u1 RENAME TO u2")
    }
    assert(e.getMessage.contains("ALTER MATERIALIZED VIEW"))
    // the old name is reserved by the rename tombstone until dropped
    intercept[Exception] {
      cat.exec(spark, "ALTER MATERIALIZED VIEW u1 RENAME TO u0")
    }
    cat.exec(spark, "ALTER MATERIALIZED VIEW u1 RENAME TO u3")
    assert(cat.query(spark, "SELECT k, total FROM u3 ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("a", 1L), ("b", 12L)))
    cat.exec(spark, "DROP MATERIALIZED VIEW u3")
    assert(cat.exec(spark, "SHOW MATERIALIZED VIEWS").count() == 0L)
  }
}
