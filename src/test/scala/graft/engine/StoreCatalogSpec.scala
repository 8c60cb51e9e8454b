package graft.engine

import java.nio.file.Files

import graft.SparkSpec

/** A SQL-ONLY session against the store catalog: CREATE TABLE / CTAS
  * construct stores from Spark's parsed DDL, INSERT loads them, SQL
  * queries (with time travel) read them, OPTIMIZE/VACUUM maintain them
  * — zero API calls end to end.
  */
class StoreCatalogSpec extends SparkSpec {

  import spark.implicits._

  private def freshCatalog(): StoreCatalog = {
    val p = Files.createTempDirectory("catalog-")
    p.toFile.deleteOnExit()
    new StoreCatalog(p.toString)
  }

  test("CREATE TABLE declares a readable empty schema; INSERT loads " +
      "it positionally; the declared CHECK gates writes; TBLPROPERTIES " +
      "configure stats columns") {
    val cat = freshCatalog()
    cat.exec(spark,
      """CREATE TABLE events (k STRING, n INT,
        |  CONSTRAINT positive CHECK (n > 0))
        |USING graft_store
        |TBLPROPERTIES ('statsColumns'='n')""".stripMargin)
    // empty but typed: readable before any data
    val empty = cat.query(spark, "SELECT * FROM events")
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("k", "n", "batch_id"))
    cat.exec(spark, "INSERT INTO events VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    assert(cat.query(spark,
      "SELECT k, n FROM events ORDER BY n").as[(String, Int)]
      .collect().toSeq == Seq(("a", 1), ("b", 2)))
    // the declared constraint is live at the write choke point
    intercept[IllegalArgumentException] {
      cat.exec(spark, "INSERT INTO events VALUES ('c', -3)",
        batchId = Some(1L))
    }
    // statsColumns property took: a narrow predicate prunes the
    // violating-range dir set once more batches land
    cat.exec(spark, "INSERT INTO events VALUES ('c', 1000)",
      batchId = Some(2L))
    val pruned = cat.store("events").readWhere(spark, "n <= 2")
    assert(pruned.count() == 2)
    // a second CREATE refuses; IF NOT EXISTS no-ops
    intercept[IllegalArgumentException] {
      cat.exec(spark, "CREATE TABLE events (x INT) USING graft_store")
    }
    cat.exec(spark,
      "CREATE TABLE IF NOT EXISTS events (x INT) USING graft_store")
    assert(cat.query(spark, "SELECT * FROM events").count() == 3)
  }

  test("a table survives the catalog that created it: a FRESH catalog " +
      "over the same base path sees it via IF NOT EXISTS (no clobber) " +
      "and refuses a bare CREATE") {
    val base = Files.createTempDirectory("catalog2-")
    base.toFile.deleteOnExit()
    val cat1 = new StoreCatalog(base.toString)
    cat1.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat1.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    val cat2 = new StoreCatalog(base.toString)
    intercept[IllegalArgumentException] {
      cat2.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    }
    cat2.exec(spark,
      "CREATE TABLE IF NOT EXISTS t (k STRING, n INT) USING graft_store")
    assert(cat2.query(spark, "SELECT k, n FROM t").as[(String, Int)]
      .collect().toSeq == Seq(("a", 1)),
      "the re-attached table serves the ORIGINAL data")
  }

  test("re-attach uses the PERSISTED creation spec, not the " +
      "re-attaching statement's: a bare IF NOT EXISTS cannot strip " +
      "partitioning or the merge-on-read key") {
    val base = Files.createTempDirectory("catalog3-")
    base.toFile.deleteOnExit()
    val cat1 = new StoreCatalog(base.toString)
    cat1.exec(spark,
      """CREATE TABLE t (day STRING, k STRING, n INT)
        |USING graft_store PARTITIONED BY (day)
        |TBLPROPERTIES ('morDeleteKey'='k', 'statsColumns'='n')"""
        .stripMargin)
    cat1.exec(spark, "INSERT INTO t VALUES ('d1', 'a', 1)",
      batchId = Some(0L))
    // fresh catalog, PROPERTY-LESS re-attach
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark,
      "CREATE TABLE IF NOT EXISTS t (day STRING, k STRING, n INT) " +
        "USING graft_store")
    // partitioning survived: a new batch lays out hive dirs
    cat2.exec(spark, "INSERT INTO t VALUES ('d2', 'b', 2)",
      batchId = Some(1L))
    assert(cat2.store("t").read(spark).inputFiles
      .exists(_.contains("day=d2")),
      "the re-attached table must still partition by day")
    // the merge-on-read key survived: DELETE takes the MoR path (a
    // delete FILE commits; no data dir is rewritten)
    cat2.exec(spark, "DELETE FROM t WHERE k = 'a'")
    assert(cat2.query(spark, "SELECT k FROM t").as[String]
      .collect().toSeq == Seq("b"))
    assert(cat2.store("t").read(spark).inputFiles
      .exists(_.contains("day=d1")),
      "MoR delete must not rewrite the d1 data dir")
  }

  test("catalog INSERT ... SELECT and MERGE read OTHER catalog " +
      "tables: the bronze-to-silver derive works without any view " +
      "registration") {
    val cat = freshCatalog()
    cat.exec(spark, "CREATE TABLE bronze (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO bronze VALUES ('a', 1), ('b', -2)",
      batchId = Some(0L))
    cat.exec(spark, "CREATE TABLE silver (k STRING, n INT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO silver SELECT k, n FROM bronze WHERE n > 0",
      batchId = Some(0L))
    assert(cat.query(spark, "SELECT k, n FROM silver")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1)))
    // MERGE with a catalog table as the SOURCE
    cat.exec(spark, "INSERT INTO bronze VALUES ('a', 10)",
      batchId = Some(1L)) // bronze now has a twice — dedupe via merge?
    cat.exec(spark, "CREATE TABLE delta_src (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO delta_src VALUES ('a', 100), ('z', 9)",
      batchId = Some(0L))
    // the CONDITIONAL clause forces the general mergeClauses path
    // (the unconditioned star form takes the anti-join fast path,
    // where replaced rows legitimately re-attribute to the new batch)
    cat.exec(spark,
      """MERGE INTO silver USING delta_src ON silver.k = delta_src.k
        |WHEN MATCHED AND delta_src.n > 0 THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      batchId = Some(1L))
    assert(cat.query(spark, "SELECT k, n FROM silver ORDER BY k")
      .as[(String, Int)].collect().toSeq ==
      Seq(("a", 100), ("z", 9)))
    // batch_id attribution survives a STORE-sourced SET *: the updated
    // row keeps its ORIGINAL id (the source store's own batch_id must
    // never assign through the star — CDF/replay attribution would
    // corrupt), the inserted row carries the merge's id
    assert(cat.store("silver").read(spark)
      .select("k", "batch_id").as[(String, Long)].collect().toSet ==
      Set(("a", 0L), ("z", 1L)),
      "SET * from a store source must not clobber batch_id")
  }

  test("a second VACUUM never crashes on history a more aggressive " +
      "earlier vacuum already deleted") {
    val cat = freshCatalog()
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    cat.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO t VALUES ('b', 2)", batchId = Some(1L))
    cat.store("t").compact(spark)
    cat.exec(spark, "VACUUM t RETAIN 0 HOURS") // deletes v1..v3
    cat.exec(spark, "INSERT INTO t VALUES ('c', 3)", batchId = Some(2L))
    // default horizon (168 h) keeps every existing version; the keep
    // window spans the deleted v1..v3 — must not throw
    assert(cat.exec(spark, "VACUUM t").count() == 0)
    assert(cat.query(spark, "SELECT count(*) AS c FROM t")
      .as[Long].head() == 3L)
    assert(cat.exec(spark, "DESCRIBE HISTORY t").count() == 2)
  }

  test("VACUUM RETAIN 0 HOURS keeps only the current version when the " +
      "manifest mtimes read ahead of the JVM clock") {
    val cat = freshCatalog()
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    cat.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO t VALUES ('b', 2)", batchId = Some(1L))
    cat.store("t").compact(spark)
    assert(cat.exec(spark, "DESCRIBE HISTORY t").count() > 1)
    // a filesystem clock an hour ahead of the JVM's: every commit
    // reads as younger than "now", in commit order
    val mdir = new org.apache.hadoop.fs.Path(
      s"${cat.store("t").tablePath}/manifest")
    val mfs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ahead = System.currentTimeMillis() + 3600000L
    mfs.listStatus(mdir).filter(_.getPath.getName.startsWith("v"))
      .foreach { st =>
        val v = st.getPath.getName.drop(1).toLong
        mfs.setTimes(st.getPath, ahead + v * 1000L, -1L)
      }
    cat.exec(spark, "VACUUM t RETAIN 0 HOURS")
    assert(cat.exec(spark, "DESCRIBE HISTORY t").count() == 1)
    assert(cat.query(spark, "SELECT k, n FROM t ORDER BY k")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1), ("b", 2)))
  }

  test("custom-LOCATION tables stay addressable across catalogs via " +
      "the name pointer: property-less re-attach and DROP both work") {
    val base = Files.createTempDirectory("catalog4-")
    base.toFile.deleteOnExit()
    val loc = Files.createTempDirectory("external-loc-")
    loc.toFile.deleteOnExit()
    val extPath = s"${loc.toString}/tbl"
    val cat1 = new StoreCatalog(base.toString)
    cat1.exec(spark,
      s"""CREATE TABLE ext (k STRING, n INT) USING graft_store
         |LOCATION '$extPath'
         |TBLPROPERTIES ('statsColumns'='n')""".stripMargin)
    cat1.exec(spark, "INSERT INTO ext VALUES ('a', 1)",
      batchId = Some(0L))
    // a FRESH catalog with no LOCATION in the statement finds it
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark,
      "CREATE TABLE IF NOT EXISTS ext (k STRING, n INT) USING graft_store")
    assert(cat2.query(spark, "SELECT k, n FROM ext").as[(String, Int)]
      .collect().toSeq == Seq(("a", 1)),
      "the pointer must re-attach the external location")
    // ... and can DROP it: the external dir actually deletes
    val cat3 = new StoreCatalog(base.toString)
    cat3.exec(spark, "DROP TABLE ext")
    val f = new org.apache.hadoop.fs.Path(extPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(extPath)),
      "DROP TABLE must delete the external root, not report success " +
        "while leaving it intact")
  }

  test("VACUUM RETAIN n HOURS is a version-retention horizon: recent " +
      "history stays time-travelable, RETAIN 0 reclaims it, and " +
      "DESCRIBE HISTORY lists the survivors instead of crashing") {
    val cat = freshCatalog()
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    cat.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO t VALUES ('b', 2)", batchId = Some(1L))
    val st = cat.store("t")
    st.compact(spark) // supersede the small dirs (v4)
    // a WEEK-long horizon: nothing reclaimed, history fully readable
    assert(cat.exec(spark, "VACUUM t RETAIN 168 HOURS").count() == 0,
      "every version is within the horizon — nothing may be deleted")
    assert(st.readVersion(spark, 2L).count() == 1,
      "v2 must remain time-travelable under the horizon")
    assert(cat.exec(spark, "DESCRIBE HISTORY t").count() == 4)
    // horizon 0: superseded manifests + dirs reclaim; the ledger
    // lists the SURVIVING version instead of throwing
    assert(cat.exec(spark, "VACUUM t RETAIN 0 HOURS").count() > 0)
    val hist = cat.exec(spark, "DESCRIBE HISTORY t")
    assert(hist.count() == 1 &&
      hist.select("version").as[Long].head() == 4L,
      "post-vacuum history = the current version only, no exception")
    assert(cat.query(spark, "SELECT count(*) AS c FROM t")
      .as[Long].head() == 2L)
  }

  test("CTAS loads the routed SELECT (reading other catalog tables) " +
      "under an explicit batchId; PARTITIONED BY lays out hive dirs; " +
      "the whole lifecycle including OPTIMIZE/VACUUM runs SQL-only") {
    val cat = freshCatalog()
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    cat.exec(spark,
      "CREATE TABLE src (day STRING, n INT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO src VALUES ('d1', 1), ('d1', 2), ('d2', 3)",
      batchId = Some(0L))
    // CTAS without a batchId refuses (committing statement)
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE TABLE agg AS SELECT day, SUM(n) AS total FROM src " +
          "GROUP BY day")
    }
    cat.exec(spark,
      """CREATE TABLE agg USING graft_store PARTITIONED BY (day)
        |AS SELECT day, CAST(SUM(n) AS INT) AS total FROM src
        |GROUP BY day""".stripMargin, batchId = Some(0L))
    assert(cat.query(spark,
      "SELECT day, total FROM agg ORDER BY day").as[(String, Int)]
      .collect().toSeq == Seq(("d1", 3), ("d2", 3)))
    // hive layout: the partition value appears in the data paths
    assert(cat.store("agg").read(spark).inputFiles
      .exists(_.contains("day=d1")))
    // SQL-only maintenance against the created table
    cat.exec(spark, "INSERT INTO src VALUES ('d3', 4)",
      batchId = Some(1L))
    val actions = cat.exec(spark, "OPTIMIZE src").as[String]
      .collect().toSet
    assert(actions == Set("compactSmall"))
    assert(cat.exec(spark, "VACUUM src RETAIN 0 HOURS DRY RUN")
      .count() >= 2)
    assert(cat.query(spark, "SELECT * FROM src").count() == 4)
  }

  test("DROP TABLE completes the lifecycle: the table unregisters and " +
      "its root deletes; IF EXISTS no-ops on a missing name; the name " +
      "is then free to CREATE again, empty") {
    val cat = freshCatalog()
    cat.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "DROP TABLE t")
    intercept[Exception] { // unrouted name -> analyzer's NOT_FOUND
      cat.query(spark, "SELECT * FROM t").collect()
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark, "DROP TABLE t") // already gone
    }
    cat.exec(spark, "DROP TABLE IF EXISTS t") // no-op
    // re-creation starts from nothing — no resurrected rows or spec
    cat.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    assert(cat.query(spark, "SELECT * FROM t").count() == 0)
  }

  test("ALTER TABLE ADD CONSTRAINT / DROP CONSTRAINT route Spark's " +
      "parsed constraint to the store's check registry") {
    val cat = freshCatalog()
    cat.exec(spark, "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark,
      "ALTER TABLE t ADD CONSTRAINT positive CHECK (n > 0)")
    assert(cat.store("t").listChecks(spark)
      .exists(_._1 == "positive"))
    intercept[IllegalArgumentException] {
      cat.exec(spark, "INSERT INTO t VALUES ('bad', -1)",
        batchId = Some(1L))
    }
    // a constraint the existing rows violate refuses to register
    intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE t ADD CONSTRAINT big CHECK (n > 10)")
    }
    cat.exec(spark, "ALTER TABLE t DROP CONSTRAINT positive")
    cat.exec(spark, "INSERT INTO t VALUES ('neg', -1)",
      batchId = Some(2L))
    assert(cat.query(spark, "SELECT * FROM t").count() == 2)
    // DROP CONSTRAINT IF EXISTS on a missing name no-ops
    cat.exec(spark, "ALTER TABLE t DROP CONSTRAINT IF EXISTS nope")
  }

  test("SQL-only discoverability: a FRESH session lists, inspects, and " +
      "queries tables it never created — SHOW TABLES, DESCRIBE TABLE " +
      "[EXTENDED], lazy attach on reference") {
    val base = Files.createTempDirectory("catalog-disc-")
    base.toFile.deleteOnExit()
    val writer = new StoreCatalog(base.toString)
    writer.exec(spark,
      """CREATE TABLE sensors (site STRING, reading INT,
        |  CONSTRAINT nonneg CHECK (reading >= 0))
        |USING graft_store PARTITIONED BY (site)
        |TBLPROPERTIES ('statsColumns'='reading')""".stripMargin)
    writer.exec(spark,
      "INSERT INTO sensors VALUES ('a', 1), ('b', 2)", batchId = Some(0L))
    writer.exec(spark, "CREATE TABLE other (k STRING) USING graft_store")
    // --- a completely fresh session: no registry state ---
    val reader = new StoreCatalog(base.toString)
    val listed = reader.exec(spark, "SHOW TABLES")
    assert(listed.columns.toSeq ==
      Seq("namespace", "tableName", "isTemporary"))
    assert(listed.select("tableName").as[String].collect().toSet ==
      Set("sensors", "other"))
    // LIKE pattern filters
    assert(reader.exec(spark, "SHOW TABLES LIKE 'sen*'")
      .select("tableName").as[String].collect().toSeq == Seq("sensors"))
    // DESCRIBE: schema rows for a table this session never attached
    val desc = reader.exec(spark, "DESCRIBE TABLE sensors")
    val types = desc.select("col_name", "data_type").as[(String, String)]
      .collect().toMap
    assert(types("site") == "string" && types("reading") == "int" &&
      types.contains("batch_id"))
    // EXTENDED: partitioning, location, properties, constraints
    val ext = reader.exec(spark, "DESCRIBE TABLE EXTENDED sensors")
      .select("col_name", "data_type").as[(String, String)]
      .collect().toMap
    assert(ext("Partition Columns") == "site")
    assert(ext("statsColumns") == "reading")
    assert(ext("Type") == "graft_store")
    assert(ext("Constraint nonneg").contains("reading"))
    assert(ext("Location").contains("sensors"))
    // ...and QUERY it, lazily attached by name — zero CREATE statements
    assert(reader.query(spark,
      "SELECT site, reading FROM sensors ORDER BY reading")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1), ("b", 2)))
    // the attached handle carries the spec: partition layout + check
    intercept[IllegalArgumentException] {
      reader.exec(spark, "INSERT INTO sensors VALUES ('c', -1)",
        batchId = Some(1L))
    }
  }

  test("SET/UNSET TBLPROPERTIES re-point the physical knobs on a LIVE " +
      "table: a post-create stats column starts pruning, the updated " +
      "spec survives re-attach, unknown keys refuse") {
    val base = Files.createTempDirectory("catalog-props-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      "CREATE TABLE t (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO t SELECT 'k' || i, CAST(i AS INT) " +
      "FROM range(1, 101) AS r(i)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO t SELECT 'k' || i, CAST(i AS INT) " +
      "FROM range(1000, 1101) AS r(i)", batchId = Some(1L))
    // created WITHOUT statsColumns: nothing prunes
    val all = cat.store("t").read(spark).inputFiles.length
    assert(cat.store("t").readWhere(spark, "n >= 1000")
      .inputFiles.length == all, "no stats yet — nothing may prune")
    // post-create re-point: stats on n, live immediately
    cat.exec(spark,
      "ALTER TABLE t SET TBLPROPERTIES ('statsColumns'='n')")
    val slice = cat.store("t").readWhere(spark, "n >= 1000")
    assert(slice.count() == 101)
    assert(slice.inputFiles.length < all,
      "SET TBLPROPERTIES + refreshStats must restore pruning " +
        "without any data rewrite")
    // a fresh catalog re-attaches with the UPDATED spec
    val cat2 = new StoreCatalog(base.toString)
    assert(cat2.resolve(spark, "t").get.statsColumnNames == Seq("n"))
    // typo'd column and foreign keys refuse
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "ALTER TABLE t SET TBLPROPERTIES ('statsColumns'='typo')")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "ALTER TABLE t SET TBLPROPERTIES ('retention'='7d')")
    }
    // UNSET drops the knob; IF EXISTS tolerates a missing key
    cat.exec(spark, "ALTER TABLE t UNSET TBLPROPERTIES ('statsColumns')")
    assert(new StoreCatalog(base.toString).resolve(spark, "t").get
      .statsColumnNames.isEmpty)
    intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE t UNSET TBLPROPERTIES ('nope')")
    }
    cat.exec(spark,
      "ALTER TABLE t UNSET TBLPROPERTIES IF EXISTS ('nope')")
  }

  test("SHOW CREATE TABLE reconstructs runnable DDL that CLONES the " +
      "table: schema sans batch_id, constraints, partitioning, knobs") {
    val base = Files.createTempDirectory("catalog-showcreate-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      """CREATE TABLE src (site STRING, n BIGINT,
        |  CONSTRAINT nonneg CHECK (n >= 0))
        |USING graft_store PARTITIONED BY (site)
        |TBLPROPERTIES ('statsColumns'='n')""".stripMargin)
    cat.exec(spark, "INSERT INTO src VALUES ('a', 1)", batchId = Some(0L))
    val stmt = cat.exec(spark, "SHOW CREATE TABLE src")
      .select("createtab_stmt").as[String].head()
    assert(!stmt.contains("batch_id"),
      "the internal attribution column must not leak into the DDL")
    // the emitted DDL is RUNNABLE: clone under a new name in a fresh
    // catalog and verify the physicals carried over
    val base2 = Files.createTempDirectory("catalog-showcreate2-")
    base2.toFile.deleteOnExit()
    val cat2 = new StoreCatalog(base2.toString)
    cat2.exec(spark, stmt
      .replace("CREATE TABLE src", "CREATE TABLE clone")
      .replaceAll("(?s)\nLOCATION '[^']*'", "")) // clone gets its own dir
    val clone = cat2.store("clone")
    assert(clone.partitionColumns == Seq("site"))
    assert(clone.statsColumnNames == Seq("n"))
    assert(clone.listChecks(spark).exists(_._1 == "nonneg"))
    assert(clone.read(spark).schema.fieldNames.toSet ==
      Set("site", "n", "batch_id"))
    intercept[IllegalArgumentException] {
      cat2.exec(spark, "INSERT INTO clone VALUES ('x', -1)",
        batchId = Some(0L))
    }
  }

  test("DROP TABLE refuses a name-colliding directory that is not a " +
      "graft table, and the '_catalog' name is reserved both ways") {
    val base = Files.createTempDirectory("catalog-guard-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    // an unrelated directory under basePath — a DROP by name must not
    // recursively wipe it
    val f = new org.apache.hadoop.fs.Path(base.toString).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val stray = new org.apache.hadoop.fs.Path(s"$base/notatable")
    f.mkdirs(stray)
    val inner = new org.apache.hadoop.fs.Path(stray, "precious.txt")
    val out = f.create(inner); out.write(42); out.close()
    val e = intercept[IllegalArgumentException] {
      cat.exec(spark, "DROP TABLE notatable")
    }
    assert(e.getMessage.contains("not a graft table"))
    assert(f.exists(inner), "the stray directory must survive")
    // '_catalog' is the pointer directory, never a table name
    intercept[IllegalArgumentException] {
      cat.exec(spark, "DROP TABLE _catalog")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE TABLE _catalog (k STRING) USING graft_store")
    }
    // a REAL table still drops
    cat.exec(spark, "CREATE TABLE t (k STRING) USING graft_store")
    cat.exec(spark, "DROP TABLE t")
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$base/t")))
  }

  test("a crashed CREATE's stale spec sidecar does not survive a " +
      "re-CREATE with a different declaration") {
    val base = Files.createTempDirectory("catalog-stale-")
    base.toFile.deleteOnExit()
    val f = new org.apache.hadoop.fs.Path(base.toString).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate the crash window: spec + pointer published, first commit
    // never landed (zero versions on disk)
    val tdir = new org.apache.hadoop.fs.Path(s"$base/t")
    f.mkdirs(tdir)
    AtomicCreate.publish(f, new org.apache.hadoop.fs.Path(tdir,
      "table_spec"),
      """{"partitionBy":["k"],"statsColumns":"k"}"""
        .getBytes("UTF-8"))
    val cat = new StoreCatalog(base.toString)
    // the re-CREATE declares DIFFERENT physicals: unpartitioned, stats
    // on n
    cat.exec(spark,
      """CREATE TABLE t (k STRING, n INT) USING graft_store
        |TBLPROPERTIES ('statsColumns'='n')""".stripMargin)
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    // a FRESH catalog re-attaches from the persisted spec — it must see
    // the re-create's declaration, not the dead create's
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark,
      "CREATE TABLE IF NOT EXISTS t (k STRING, n INT) USING graft_store")
    assert(cat2.query(spark, "SELECT k, n FROM t").as[(String, Int)]
      .collect().toSeq == Seq(("a", 1)))
    val spec = new String(f.open(new org.apache.hadoop.fs.Path(tdir,
      "table_spec")).readAllBytes(), "UTF-8")
    assert(spec.contains("\"statsColumns\":\"n\"") &&
      !spec.contains("\"k\""),
      s"the stale spec must be replaced by the live declaration: $spec")
  }

  test("TBLPROPERTIES naming columns the table does not declare are " +
      "refused at create time") {
    val cat = freshCatalog()
    Seq(
      "TBLPROPERTIES ('statsColumns'='typo')",
      "TBLPROPERTIES ('bloomColumns'='n,typo')",
      "TBLPROPERTIES ('morDeleteKey'='typo')").foreach { props =>
      val e = intercept[IllegalArgumentException] {
        cat.exec(spark,
          s"CREATE TABLE bad (k STRING, n INT) USING graft_store $props")
      }
      assert(e.getMessage.contains("typo"), s"$props must name the typo")
    }
    // valid properties still create (case-insensitive match)
    cat.exec(spark,
      """CREATE TABLE ok (k STRING, n INT) USING graft_store
        |TBLPROPERTIES ('statsColumns'='N', 'morDeleteKey'='k')"""
        .stripMargin)
  }

  test("a plain CREATE declaring a DIFFERENT location over a live " +
      "custom-LOCATION table refuses — it must not silently re-point " +
      "the name and orphan the committed data") {
    val base = Files.createTempDirectory("catalog-")
    val oldLoc = Files.createTempDirectory("loc-old-")
    val newLoc = Files.createTempDirectory("loc-new-")
    Seq(base, oldLoc, newLoc).foreach(_.toFile.deleteOnExit())
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark, s"CREATE TABLE t (k STRING, n INT) " +
      s"USING graft_store LOCATION '$oldLoc'")
    cat.exec(spark, "INSERT INTO t VALUES ('a', 1)", batchId = Some(0L))
    // a FRESH catalog (empty registry) sees the table ONLY through its
    // name pointer; the declared path itself has zero commits — the
    // exact shape that used to slip past the existence check
    val cat2 = new StoreCatalog(base.toString)
    val e = intercept[IllegalArgumentException] {
      cat2.exec(spark, s"CREATE TABLE t (k STRING, n INT) " +
        s"USING graft_store LOCATION '$newLoc'")
    }
    assert(e.getMessage.contains("already exists"))
    // the pointer survived the refused CREATE: the name still serves
    // the ORIGINAL data from a fresh catalog
    val cat3 = new StoreCatalog(base.toString)
    assert(cat3.query(spark, "SELECT k, n FROM t").as[(String, Int)]
      .collect().toSeq == Seq(("a", 1)))
    // IF NOT EXISTS with the divergent location re-attaches the
    // EXISTING table (pointer target), never the declared path
    cat3.exec(spark, s"CREATE TABLE IF NOT EXISTS t (k STRING, n INT) " +
      s"USING graft_store LOCATION '$newLoc'")
    assert(cat3.store("t").tablePath == oldLoc.toString)
  }

  test("a fresh session's FIRST statement can be time travel: the " +
      "VERSION AS OF relation lazy-attaches from disk like a plain " +
      "SELECT (RelationTimeTravel is a leaf node)") {
    val base = Files.createTempDirectory("catalog-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark, "CREATE TABLE tt (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO tt VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO tt VALUES ('b', 2)", batchId = Some(1L))
    val cat2 = new StoreCatalog(base.toString)
    assert(cat2.query(spark, "SELECT k, n FROM tt VERSION AS OF 2")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1)))
  }

  test("SET TBLPROPERTIES refuses the internal batch_id column — the " +
      "same gate the CREATE path applies") {
    val cat = freshCatalog()
    cat.exec(spark, "CREATE TABLE p (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO p VALUES ('a', 1)", batchId = Some(0L))
    val e = intercept[IllegalArgumentException] {
      cat.exec(spark,
        "ALTER TABLE p SET TBLPROPERTIES ('statsColumns'='batch_id')")
    }
    assert(e.getMessage.contains("batch_id"))
  }

  test("SHOW TBLPROPERTIES / SHOW COLUMNS serve the live knob map and " +
      "column list as their own statements; a named missing key " +
      "refuses; UNSET shows through") {
    val cat = freshCatalog()
    cat.exec(spark,
      """CREATE TABLE st (k STRING, n INT) USING graft_store
        |TBLPROPERTIES ('statsColumns'='n', 'morDeleteKey'='k')"""
        .stripMargin)
    val props = cat.exec(spark, "SHOW TBLPROPERTIES st").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props == Map("statsColumns" -> "n", "morDeleteKey" -> "k"))
    assert(cat.exec(spark, "SHOW TBLPROPERTIES st ('statsColumns')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("statsColumns", "n")))
    intercept[IllegalArgumentException] {
      cat.exec(spark, "SHOW TBLPROPERTIES st ('nope')")
    }
    assert(cat.exec(spark, "SHOW COLUMNS IN st").collect()
      .map(_.getString(0)).toSet == Set("k", "n", "batch_id"))
    cat.exec(spark, "ALTER TABLE st UNSET TBLPROPERTIES ('morDeleteKey')")
    assert(cat.exec(spark, "SHOW TBLPROPERTIES st").collect()
      .map(_.getString(0)).toSet == Set("statsColumns"))
  }

  test("NOT NULL column constraints enforce at the write gate like " +
      "declared CHECKs, and survive re-attach") {
    val base = Files.createTempDirectory("catalog-nn-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      "CREATE TABLE nn (k STRING NOT NULL, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO nn VALUES ('a', 1)", batchId = Some(0L))
    intercept[IllegalArgumentException] {
      cat.exec(spark, "INSERT INTO nn VALUES (NULL, 2)",
        batchId = Some(1L))
    }
    // a NULL in the nullable column is fine
    cat.exec(spark, "INSERT INTO nn VALUES ('b', NULL)",
      batchId = Some(2L))
    assert(cat.query(spark, "SELECT k FROM nn").count() == 2)
    // enforcement is durable: a fresh catalog's attach still refuses
    val cat2 = new StoreCatalog(base.toString)
    intercept[IllegalArgumentException] {
      cat2.exec(spark, "INSERT INTO nn VALUES (NULL, 3)",
        batchId = Some(3L))
    }
  }

  test("column DEFAULTs fill omitted INSERT columns, render in SHOW " +
      "CREATE TABLE, and survive re-attach and SET TBLPROPERTIES") {
    val base = Files.createTempDirectory("catalog-dfl-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      """CREATE TABLE d (k STRING, n INT DEFAULT 42,
        |  tag STRING DEFAULT 'none') USING graft_store""".stripMargin)
    cat.exec(spark, "INSERT INTO d (k) VALUES ('a')", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO d VALUES ('b', 7, 'x')",
      batchId = Some(1L))
    def rows(c: StoreCatalog) = c.query(spark,
      "SELECT k, n, tag FROM d ORDER BY k")
      .as[(String, Int, String)].collect().toSeq
    assert(rows(cat) == Seq(("a", 42, "none"), ("b", 7, "x")),
      "omitted columns fill with defaults; full-width inserts ignore them")
    val ddl = cat.exec(spark, "SHOW CREATE TABLE d")
      .head().getString(0)
    assert(ddl.contains("n INT DEFAULT 42") &&
      ddl.contains("tag STRING DEFAULT 'none'"), ddl)
    // a FRESH catalog re-attaches the defaults from the spec sidecar
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark, "INSERT INTO d (k) VALUES ('c')",
      batchId = Some(2L))
    assert(rows(cat2).contains(("c", 42, "none")))
    // SET TBLPROPERTIES republishes the spec WITHOUT dropping defaults
    cat2.exec(spark, "ALTER TABLE d SET TBLPROPERTIES " +
      "('statsColumns'='n')")
    val cat3 = new StoreCatalog(base.toString)
    cat3.exec(spark, "INSERT INTO d (k) VALUES ('e')",
      batchId = Some(3L))
    assert(rows(cat3).contains(("e", 42, "none")))
    // ALTER COLUMN SET DEFAULT changes the fill for LATER omitting
    // inserts only (no version, no rewrite — write-time sugar); DROP
    // DEFAULT reverts the column to NULL-fill; both survive a fresh
    // catalog, and the TBLPROPERTIES knob set from above carries
    // through the republished spec
    cat3.exec(spark, "ALTER TABLE d ALTER COLUMN n SET DEFAULT 99")
    cat3.exec(spark, "ALTER TABLE d ALTER COLUMN tag DROP DEFAULT")
    val v = cat3.store("d").currentVersion(spark)
    val cat4 = new StoreCatalog(base.toString)
    cat4.exec(spark, "INSERT INTO d (k) VALUES ('f')",
      batchId = Some(4L))
    assert(cat4.store("d").currentVersion(spark) == v + 1,
      "the default edits themselves committed no version")
    val f = cat4.query(spark,
      "SELECT n, tag FROM d WHERE k = 'f'").collect().head
    assert(f.getInt(0) == 99 && f.isNullAt(1),
      s"new default fills, dropped default NULL-fills: $f")
    assert(rows(cat4).contains(("e", 42, "none")),
      "earlier rows keep the values they were written with")
    // unknown column / combined TYPE+DEFAULT refuse
    intercept[IllegalArgumentException] {
      cat4.exec(spark, "ALTER TABLE d ALTER COLUMN zz SET DEFAULT 1")
    }
    // ADD COLUMNS with DEFAULT/COMMENT: the type evolves through the
    // governed marker AND the declarations land in the registry —
    // existing rows read NULL (the default is write-time only), a
    // later omitting insert fills, and the sidecar persists both
    cat4.exec(spark,
      "ALTER TABLE d ADD COLUMNS (grade INT DEFAULT 3 " +
        "COMMENT 'quality tier')")
    assert(cat4.query(spark, "SELECT grade FROM d WHERE k = 'a'")
      .collect().head.isNullAt(0),
      "pre-existing rows read NULL, never the new default")
    val cat5 = new StoreCatalog(base.toString)
    cat5.exec(spark, "INSERT INTO d (k) VALUES ('g')",
      batchId = Some(5L))
    assert(cat5.query(spark,
      "SELECT grade FROM d WHERE k = 'g'").as[Int].head() == 3)
    // ALTER COLUMN ... COMMENT is a catalog edit too
    cat5.exec(spark,
      "ALTER TABLE d ALTER COLUMN k COMMENT 'the key'")
    val desc = cat5.exec(spark, "DESCRIBE TABLE d").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("k") == "the key" && desc("grade") == "quality tier",
      desc.toString)
    // the bare StoreSql surface refuses metadata-carrying ADD COLUMNS
    // instead of silently dropping the declarations
    val bare = intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("d" -> cat5.store("d")),
        "ALTER TABLE d ADD COLUMNS (oops INT DEFAULT 1)")
    }
    assert(bare.getMessage.contains("StoreCatalog"), bare.getMessage)
  }

  test("CREATE OR REPLACE TABLE redeclares the schema in place: rows " +
      "retired but time-travelable, checks and defaults swap, bare " +
      "REPLACE refuses on a missing table, self-referential RTAS " +
      "reads the pre-replace snapshot") {
    val base = Files.createTempDirectory("catalog-replace-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      """CREATE TABLE r (k STRING, n INT,
        |  CONSTRAINT n_pos CHECK (n > 0)) USING graft_store"""
        .stripMargin)
    cat.exec(spark, "INSERT INTO r VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L)) // v2
    cat.exec(spark,
      """CREATE OR REPLACE TABLE r (id BIGINT NOT NULL,
        |  tag STRING DEFAULT 'fresh') USING graft_store""".stripMargin)
    // the replaced table: empty, NEW schema, same version chain (v3)
    assert(cat.query(spark, "SELECT id, tag FROM r").count() == 0)
    assert(cat.store("r").currentVersion(spark) == 3L)
    // pre-replace history survives in place
    assert(cat.query(spark,
      "SELECT k, n FROM r VERSION AS OF 2").as[(String, Int)]
      .collect().toSet == Set(("a", 1), ("b", 2)))
    // the OLD check (n_pos) is gone — n no longer exists; the NEW
    // NOT NULL gate is live; the NEW default fills
    intercept[Exception] {
      cat.exec(spark, "INSERT INTO r VALUES (CAST(NULL AS BIGINT), 'y')",
        batchId = Some(1L))
    }
    cat.exec(spark, "INSERT INTO r (id) VALUES (7)", batchId = Some(1L))
    assert(cat.query(spark, "SELECT id, tag FROM r")
      .as[(Long, String)].collect().toSeq == Seq((7L, "fresh")))
    // a FRESH catalog re-attaches the REPLACED spec (defaults live)
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark, "INSERT INTO r (id) VALUES (8)", batchId = Some(2L))
    assert(cat2.query(spark,
      "SELECT id, tag FROM r WHERE id = 8").as[(Long, String)]
      .collect().toSeq == Seq((8L, "fresh")))
    // bare REPLACE TABLE refuses on a missing table; CREATE OR
    // REPLACE of a missing table is a plain create
    intercept[IllegalArgumentException] {
      cat.exec(spark, "REPLACE TABLE nope (k STRING) USING graft_store")
    }
    cat.exec(spark,
      "CREATE OR REPLACE TABLE born (k STRING) USING graft_store")
    assert(cat.query(spark, "SELECT k FROM born").count() == 0)
    // self-referential RTAS: the SELECT reads the PRE-replace rows
    cat.exec(spark,
      """CREATE OR REPLACE TABLE r USING graft_store AS
        |SELECT id * 10 AS id10 FROM r""".stripMargin,
      batchId = Some(3L))
    assert(cat.query(spark, "SELECT id10 FROM r").as[Long]
      .collect().toSet == Set(70L, 80L))
    // star-select RTAS over a store relation: the frame carries the
    // internal batch_id column — the replace must shed it (append
    // re-stamps it), exactly as CTAS does
    cat.exec(spark,
      "CREATE OR REPLACE TABLE born USING graft_store AS " +
        "SELECT * FROM r", batchId = Some(4L))
    assert(cat.query(spark, "SELECT id10 FROM born").as[Long]
      .collect().toSet == Set(70L, 80L))
  }

  test("a recreated same-name table does not inherit the dropped " +
      "table's column DEFAULTs, and broken defaults refuse at DDL " +
      "time (non-constant, lossy cast)") {
    val base = Files.createTempDirectory("catalog-dfl-leak-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      "CREATE TABLE lk (k STRING, n INT DEFAULT 42) USING graft_store")
    cat.exec(spark, "DROP TABLE lk")
    cat.exec(spark, "CREATE TABLE lk (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO lk (k) VALUES ('a')",
      batchId = Some(0L))
    assert(cat.query(spark, "SELECT n FROM lk").head().isNullAt(0),
      "the dead table's DEFAULT 42 must not fill the recreated table")
    // a default referencing a column would copy per-row values at
    // fill time — refused at declaration (Delta's constancy rule)
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE TABLE bad1 (a INT, b INT DEFAULT a) USING graft_store")
    }
    // a default the column type cannot represent would silently fill
    // NULL — refused at declaration
    intercept[IllegalArgumentException] {
      cat.exec(spark,
        "CREATE TABLE bad2 (c INT DEFAULT 'abc') USING graft_store")
    }
    intercept[IllegalArgumentException] {
      cat.exec(spark, "ALTER TABLE lk ALTER COLUMN n SET DEFAULT 'xy'")
    }
  }

  test("DESCRIBE DETAIL lazy-attaches its target in a fresh session " +
      "even though the text parses in Spark's grammar") {
    val base = Files.createTempDirectory("catalog-detail-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark, "CREATE TABLE dd (k STRING) USING graft_store")
    cat.exec(spark, "INSERT INTO dd VALUES ('a')", batchId = Some(0L))
    val fresh = new StoreCatalog(base.toString)
    val r = fresh.exec(spark, "DESCRIBE DETAIL dd").head()
    assert(r.getAs[String]("format") == "graft-store" &&
      r.getAs[Long]("version") == 2L)
  }

  test("GENERATED columns + column COMMENTs: omitted generated " +
      "columns fill from the insert frame, supplied mismatches refuse " +
      "at the write gate, partition-by-generated lays out hive dirs, " +
      "declarations round-trip and survive re-attach, identity and " +
      "broken declarations refuse") {
    val base = Files.createTempDirectory("catalog-gen-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      """CREATE TABLE g (
        |  ts TIMESTAMP COMMENT 'event time',
        |  day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)),
        |  v INT) USING graft_store PARTITIONED BY (day)""".stripMargin)
    // omitted generated column computes FROM THE INSERT FRAME (the
    // derived-partition-day pattern) and the row lands in its hive dir
    cat.exec(spark,
      "INSERT INTO g (ts, v) VALUES " +
        "(TIMESTAMP '2026-02-03 04:05:06', 1)", batchId = Some(0L))
    assert(cat.query(spark, "SELECT CAST(day AS STRING) AS day, v FROM g")
      .as[(String, Int)].collect().toSeq == Seq(("2026-02-03", 1)))
    assert(cat.exec(spark, "SHOW PARTITIONS g").collect()
      .map(_.getString(0)).contains("day=2026-02-03"))
    // a supplied value that MATCHES the expression passes
    cat.exec(spark,
      "INSERT INTO g (ts, day, v) VALUES " +
        "(TIMESTAMP '2026-02-04 00:00:01', DATE '2026-02-04', 2)",
      batchId = Some(1L))
    // a supplied MISMATCH refuses at the write gate (the invariant is
    // a check, so API writes are governed too) and commits nothing
    val v = cat.store("g").currentVersion(spark)
    intercept[Exception] {
      cat.exec(spark,
        "INSERT INTO g (ts, day, v) VALUES " +
          "(TIMESTAMP '2026-02-05 00:00:01', DATE '1999-01-01', 3)",
        batchId = Some(2L))
    }
    assert(cat.store("g").currentVersion(spark) == v)
    // DESCRIBE carries the comment and the generation expression
    val desc = cat.exec(spark, "DESCRIBE TABLE g").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("ts") == "event time")
    assert(desc("day").startsWith("generated:"), desc("day"))
    // SHOW CREATE TABLE renders both clauses, and the generated
    // invariant does NOT double-render as a CONSTRAINT line
    val ddl = cat.exec(spark, "SHOW CREATE TABLE g")
      .head().getString(0)
    assert(ddl.contains("GENERATED ALWAYS AS") &&
      ddl.contains("COMMENT 'event time'") &&
      !ddl.contains("CONSTRAINT day_generated"), ddl)
    // a FRESH catalog re-attaches the declarations from the sidecar
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark,
      "INSERT INTO g (ts, v) VALUES " +
        "(TIMESTAMP '2026-02-06 12:00:00', 4)", batchId = Some(3L))
    assert(cat2.query(spark,
      "SELECT CAST(day AS STRING) AS day FROM g WHERE v = 4")
      .as[String].head() == "2026-02-06")
    // refusals: generated-referencing-generated, undeclared reference,
    // constant generation (BY DEFAULT identity is supported since
    // round 14 — IdentitySpec covers both flavors)
    intercept[IllegalArgumentException] {
      cat2.exec(spark,
        """CREATE TABLE gg (a INT,
          |  b INT GENERATED ALWAYS AS (a + 1),
          |  c INT GENERATED ALWAYS AS (b + 1)) USING graft_store"""
          .stripMargin)
    }
    intercept[IllegalArgumentException] {
      cat2.exec(spark,
        "CREATE TABLE gu (a INT, b INT GENERATED ALWAYS AS (zz + 1)) " +
          "USING graft_store")
    }
    intercept[IllegalArgumentException] {
      cat2.exec(spark,
        "CREATE TABLE gc (a INT, b INT GENERATED ALWAYS AS (1)) " +
          "USING graft_store")
    }
    // SET DEFAULT on a generated column refuses
    intercept[IllegalArgumentException] {
      cat2.exec(spark, "ALTER TABLE g ALTER COLUMN day SET DEFAULT 'x'")
    }
    // DROP COLUMN of the generation's SOURCE refuses (the invariant
    // check references it; dropping would leave the table unwritable)
    val dc = intercept[IllegalArgumentException] {
      cat2.exec(spark, "ALTER TABLE g DROP COLUMN ts")
    }
    assert(dc.getMessage.contains("check constraint"), dc.getMessage)
    // a NON-DETERMINISTIC generation refuses at declaration (the fill
    // and the write-gate check would evaluate it differently)
    intercept[IllegalArgumentException] {
      cat2.exec(spark,
        "CREATE TABLE gr (a INT, b DOUBLE GENERATED ALWAYS AS " +
          "(a + rand())) USING graft_store")
    }
    // declaration ORDER does not matter, and a generated expression
    // referencing an OMITTED column sees its DEFAULT (or a typed NULL
    // when it has none) — never an unresolved-column error
    cat2.exec(spark,
      """CREATE TABLE gord (
        |  gen INT GENERATED ALWAYS AS (a + 1),
        |  a INT DEFAULT 5,
        |  gnull INT GENERATED ALWAYS AS (b + 1),
        |  b INT, v INT) USING graft_store""".stripMargin)
    cat2.exec(spark, "INSERT INTO gord (v) VALUES (1)",
      batchId = Some(0L))
    val r = cat2.query(spark,
      "SELECT gen, a, gnull, b, v FROM gord").collect().head
    assert(r.getInt(0) == 6 && r.getInt(1) == 5 &&
      r.isNullAt(2) && r.isNullAt(3) && r.getInt(4) == 1, r.toString)
  }

  test("MERGE into a generated-column table is governed by the write " +
      "gate: a correct explicit value passes, a wrong or missing one " +
      "refuses loudly and commits nothing — never silent corruption") {
    val base = Files.createTempDirectory("catalog-genmerge-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      """CREATE TABLE gm (k STRING,
        |  klen INT GENERATED ALWAYS AS (length(k)),
        |  v INT) USING graft_store""".stripMargin)
    cat.exec(spark, "INSERT INTO gm (k, v) VALUES ('ab', 1)",
      batchId = Some(0L))
    spark.createDataFrame(Seq(("xyz", 2))).toDF("k", "v")
      .createOrReplaceTempView("gm_src")
    // the MERGE fill path does not run the catalog's INSERT-boundary
    // fill — the invariant CHECK is what governs it: a correct
    // explicit value commits
    cat.exec(spark,
      """MERGE INTO gm USING gm_src ON gm.k = gm_src.k
        |WHEN NOT MATCHED THEN INSERT (k, klen, v)
        |VALUES (gm_src.k, length(gm_src.k), gm_src.v)""".stripMargin,
      batchId = Some(1L))
    assert(cat.query(spark, "SELECT k, klen, v FROM gm ORDER BY k")
      .as[(String, Int, Int)].collect().toSeq ==
      Seq(("ab", 2, 1), ("xyz", 3, 2)))
    // a WRONG explicit value refuses at the gate, nothing commits
    spark.createDataFrame(Seq(("qq", 9))).toDF("k", "v")
      .createOrReplaceTempView("gm_src2")
    val v = cat.store("gm").currentVersion(spark)
    intercept[Exception] {
      cat.exec(spark,
        """MERGE INTO gm USING gm_src2 ON gm.k = gm_src2.k
          |WHEN NOT MATCHED THEN INSERT (k, klen, v)
          |VALUES (gm_src2.k, 99, gm_src2.v)""".stripMargin,
        batchId = Some(2L))
    }
    assert(cat.store("gm").currentVersion(spark) == v)
    assert(cat.query(spark, "SELECT COUNT(*) AS c FROM gm")
      .as[Long].head() == 2L)
  }

  test("REPLACE interplay: RESTORE rolls back across a replace (old " +
      "schema and rows come back), and a table_changes window " +
      "spanning the replace reports the full turnover") {
    val base = Files.createTempDirectory("catalog-repint-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      "CREATE TABLE ri (k STRING, n INT) USING graft_store")
    cat.exec(spark, "INSERT INTO ri VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L)) // v2
    cat.exec(spark,
      "CREATE OR REPLACE TABLE ri (id BIGINT) USING graft_store") // v3
    cat.exec(spark, "INSERT INTO ri VALUES (7)", batchId = Some(1L)) // v4
    // CDF across the replace: the old rows retire, the new ones land —
    // the feed speaks the END version's schema (id), so the retired
    // k/n rows surface as deletes with NULL id columns projected off
    val feed = cat.query(spark,
      """SELECT _change_type, COUNT(*) AS n
        |FROM table_changes('ri', 3, 4)
        |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 2L, "insert" -> 1L), feed.toString)
    // RESTORE to the pre-replace version: the ORIGINAL schema and rows
    // serve again (restore is the metadata rollback — the replace,
    // like any commit, is undoable until vacuum)
    cat.exec(spark, "RESTORE TABLE ri TO VERSION AS OF 2")
    assert(cat.query(spark, "SELECT k, n FROM ri ORDER BY k")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1), ("b", 2)))
    // NOTE the unversioned surfaces (checks, column metadata) do NOT
    // roll back with the data — the replacing declaration's gates
    // stay in force; a restore across a replace that changed them
    // should be followed by the matching DDL (documented contract:
    // restore rolls back DATA+SCHEMA, constraints are files)
  }

  test("SHALLOW CLONE: zero-copy clone point, free divergence both " +
      "ways, config and checks travel, compact severs, clone vacuum " +
      "never touches source files, VERSION AS OF clones history") {
    val base = Files.createTempDirectory("catalog-clone-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    cat.exec(spark,
      """CREATE TABLE src (k STRING, n INT DEFAULT 7,
        |  CONSTRAINT n_pos CHECK (n > 0))
        |USING graft_store TBLPROPERTIES ('statsColumns'='n')"""
        .stripMargin)
    cat.exec(spark, "INSERT INTO src VALUES ('a', 1)", batchId = Some(0L))
    cat.exec(spark, "INSERT INTO src VALUES ('b', 2)", batchId = Some(1L))
    cat.exec(spark, "CREATE TABLE cl SHALLOW CLONE src")
    // the clone point: same rows, and ZERO copied data — every input
    // file of the clone's first version lives under the SOURCE's root
    val srcPath = cat.store("src").tablePath
    assert(cat.query(spark, "SELECT k, n FROM cl ORDER BY k")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1), ("b", 2)))
    val cloneFiles = cat.store("cl").read(spark).inputFiles
    assert(cloneFiles.nonEmpty && cloneFiles.forall(_.contains(srcPath)),
      s"zero-copy: clone v1 must serve the source's files: " +
        cloneFiles.mkString(","))
    // an INHERITED batch id (0 came with the source's files) REFUSES
    // loudly instead of silently no-op'ing as an "idempotent replay"
    // of data this pipeline never wrote — Delta's clone contract:
    // application transaction ids do not transfer
    val inh = intercept[IllegalArgumentException] {
      cat.exec(spark, "INSERT INTO cl (k) VALUES ('zz')",
        batchId = Some(0L))
    }
    assert(inh.getMessage.contains("INHERITED"), inh.getMessage)
    // divergence: writes on either side do not see each other; the
    // clone's DEFAULT and CHECK travelled
    cat.exec(spark, "INSERT INTO cl (k) VALUES ('c')", batchId = Some(5L))
    intercept[IllegalArgumentException] {
      cat.exec(spark, "INSERT INTO cl VALUES ('x', -1)",
        batchId = Some(6L))
    }
    cat.exec(spark, "DELETE FROM cl WHERE k = 'a'")
    assert(cat.query(spark, "SELECT k, n FROM cl ORDER BY k")
      .as[(String, Int)].collect().toSeq == Seq(("b", 2), ("c", 7)))
    assert(cat.query(spark, "SELECT k FROM src ORDER BY k")
      .as[String].collect().toSeq == Seq("a", "b"),
      "the clone's insert+delete must not leak into the source")
    cat.exec(spark, "INSERT INTO src VALUES ('s', 9)", batchId = Some(2L))
    assert(cat.query(spark, "SELECT COUNT(*) AS c FROM cl").as[Long]
      .head() == 2L, "the source's insert must not leak into the clone")
    // sever: compact materializes the clone under its OWN root; an
    // aggressive clone vacuum then reclaims only clone-rooted dirs —
    // the source's files all survive
    cat.store("cl").compact(spark)
    val severed = cat.store("cl").read(spark).inputFiles
    assert(severed.nonEmpty && !severed.exists(_.contains(srcPath)))
    spark.conf.set("spark.graft.vacuum.retentionCheck.enabled", "false")
    try cat.exec(spark, "VACUUM cl RETAIN 0 HOURS")
    finally spark.conf
      .unset("spark.graft.vacuum.retentionCheck.enabled")
    assert(cat.query(spark, "SELECT k FROM src ORDER BY k")
      .as[String].collect().toSeq == Seq("a", "b", "s"),
      "clone vacuum must never delete source data")
    // VERSION AS OF: clone the source's v2 (first insert only)
    cat.exec(spark,
      "CREATE TABLE cl2 SHALLOW CLONE src VERSION AS OF 2")
    assert(cat.query(spark, "SELECT k, n FROM cl2")
      .as[(String, Int)].collect().toSeq == Seq(("a", 1)))
    // a FRESH catalog re-attaches the clone with its travelled spec
    val cat2 = new StoreCatalog(base.toString)
    cat2.exec(spark, "INSERT INTO cl2 (k) VALUES ('d')",
      batchId = Some(1L))
    assert(cat2.query(spark, "SELECT n FROM cl2 WHERE k = 'd'")
      .as[Int].head() == 7, "the DEFAULT must survive re-attach")
    // refusals: existing target, unknown source
    intercept[IllegalArgumentException] {
      cat2.exec(spark, "CREATE TABLE cl SHALLOW CLONE src")
    }
    cat2.exec(spark, "CREATE TABLE IF NOT EXISTS cl SHALLOW CLONE src")
    intercept[IllegalArgumentException] {
      cat2.exec(spark, "CREATE TABLE nn SHALLOW CLONE ghost")
    }
  }

  test("SHOW PARTITIONS lists the hive-layout partition values from " +
      "listings alone; multi-batch duplicates collapse; a " +
      "non-partitioned table refuses") {
    val cat = freshCatalog()
    cat.exec(spark,
      """CREATE TABLE pt (k STRING, n INT) USING graft_store
        |PARTITIONED BY (k)""".stripMargin)
    cat.exec(spark, "INSERT INTO pt VALUES ('a', 1), ('b', 2)",
      batchId = Some(0L))
    cat.exec(spark, "INSERT INTO pt VALUES ('a', 3)", batchId = Some(1L))
    assert(cat.exec(spark, "SHOW PARTITIONS pt").collect()
      .map(_.getString(0)).toSeq == Seq("k=a", "k=b"))
    cat.exec(spark, "CREATE TABLE np (k STRING) USING graft_store")
    intercept[IllegalArgumentException] {
      cat.exec(spark, "SHOW PARTITIONS np")
    }
  }

  test("negative lookups are cached per catalog; this catalog's own " +
      "CREATE clears them and refresh() forgets cross-session misses") {
    val base = Files.createTempDirectory("catalog-")
    base.toFile.deleteOnExit()
    val cat = new StoreCatalog(base.toString)
    assert(cat.resolve(spark, "ghost").isEmpty)
    // the miss cache must not mask our own later create
    cat.exec(spark, "CREATE TABLE ghost (k STRING) USING graft_store")
    assert(cat.resolve(spark, "ghost").nonEmpty)
    // a table ANOTHER catalog creates after this one cached the miss
    // stays invisible until refresh() — the documented staleness
    // contract (same as Spark's relation cache)
    val cat2 = new StoreCatalog(base.toString)
    assert(cat2.resolve(spark, "late").isEmpty)
    cat.exec(spark, "CREATE TABLE late (k STRING) USING graft_store")
    assert(cat2.resolve(spark, "late").isEmpty, "miss is cached")
    cat2.refresh()
    assert(cat2.resolve(spark, "late").nonEmpty)
  }
}
