package graft.engine

import java.nio.file.Files

import graft.SparkSpec

/** `INSERT OVERWRITE` on the manifest store: full-table replacement,
  * dynamic partition overwrite (only carried partitions replaced,
  * rewrite scans pruned to overlapping subdirs), static PARTITION
  * specs, replay refusal, and the concurrency contract (appends rebase
  * or conflict per mode; maintenance aborts cleanly).
  */
class StoreOverwriteSpec extends SparkSpec {

  import spark.implicits._

  private def partStore(): ManifestTableStore = {
    val p = Files.createTempDirectory("ovw-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      partitionBy = Seq("day"), statsColumns = Seq("n"))
    store.append(Seq(("d1", "a", 1), ("d1", "b", 2), ("d2", "c", 3))
      .toDF("day", "k", "n"), 0L)
    store.append(Seq(("d3", "d", 4)).toDF("day", "k", "n"), 1L)
    store
  }

  private def state(store: ManifestTableStore): Set[(String, String, Int)] =
    store.read(spark).select("day", "k", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("dynamic overwrite replaces ONLY the carried partitions; " +
      "others carry forward; replayed batch ids no-op") {
    val store = partStore()
    def ovw(): Unit = store.overwritePartitions(
      Seq(("d1", "x", 10)).toDF("day", "k", "n"), 7L)
    ovw()
    assert(state(store) ==
      Set(("d1", "x", 10), ("d2", "c", 3), ("d3", "d", 4)))
    val v = store.currentVersion(spark)
    ovw() // replay
    assert(store.currentVersion(spark) == v)
    assert(state(store) ==
      Set(("d1", "x", 10), ("d2", "c", 3), ("d3", "d", 4)))
    // pre-overwrite state stays time-travelable
    assert(store.readVersion(spark, v - 1)
      .filter("day = 'd1'").count() == 2)
  }

  test("the rewrite scope is partition-layout-bounded: a dir without " +
      "the touched partition is never rewritten") {
    val store = partStore()
    val dirsBefore = store.read(spark).inputFiles
      .filter(_.contains("day=d3"))
      .map(_.split("/data/").last.split('/').head).toSet
    store.overwritePartitions(
      Seq(("d1", "x", 10)).toDF("day", "k", "n"), 7L)
    val dirsAfter = store.read(spark).inputFiles
      .filter(_.contains("day=d3"))
      .map(_.split("/data/").last.split('/').head).toSet
    assert(dirsBefore == dirsAfter,
      "the d3-only dir must carry forward byte-identical")
  }

  test("NULL partition values are null-safe under dynamic overwrite: " +
      "untouched null-partition rows carry forward, and a batch " +
      "carrying the null partition REPLACES existing null rows") {
    val p = Files.createTempDirectory("ovwnull-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      partitionBy = Seq("day"))
    store.append(
      Seq((Option("d1"), "a", 1), (Option.empty[String], "n1", 2),
        (Option.empty[String], "n2", 3)).toDF("day", "k", "n"), 0L)
    def st(): Set[(Option[String], String, Int)] =
      store.read(spark).select("day", "k", "n").collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getInt(2)))
        .toSet
    // overwriting d1 rewrites the shared dir; a plain === keep filter
    // evaluates NULL for the null-day rows and would silently DROP them
    store.overwritePartitions(
      Seq(("d1", "x", 10)).toDF("day", "k", "n"), 1L)
    assert(st() == Set((Some("d1"), "x", 10), (None, "n1", 2),
      (None, "n2", 3)),
      "null-partition rows must survive an overwrite of another partition")
    // a batch CARRYING the null partition (hive dir
    // __HIVE_DEFAULT_PARTITION__) must replace the existing null rows,
    // not duplicate alongside them
    store.overwritePartitions(
      Seq(("n9", 9)).toDF("k", "n")
        .selectExpr("CAST(NULL AS STRING) AS day", "k", "n"), 2L)
    assert(st() == Set((Some("d1"), "x", 10), (None, "n9", 9)),
      "the null partition must replace, not duplicate")
  }

  test("dynamic overwrite of a leading-zero STRING partition replaces " +
      "its old rows") {
    val p = Files.createTempDirectory("ovw007-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      partitionBy = Seq("p"))
    store.append(Seq(("007", "old"), ("010", "kept")).toDF("p", "k"), 0L)
    store.overwritePartitions(Seq(("007", "new")).toDF("p", "k"), 1L)
    assert(store.read(spark).selectExpr("cast(p as string)", "k")
      .as[(String, String)].collect().toSet ==
      Set(("007", "new"), ("010", "kept")))
  }

  test("full-table overwrite replaces everything in one commit and " +
      "conflicts with a concurrent write instead of clobbering it") {
    val store = partStore()
    store.overwrite(Seq(("d9", "z", 9)).toDF("day", "k", "n"), 7L)
    assert(state(store) == Set(("d9", "z", 9)))
    // inject a concurrent append between snapshot and commit
    store.beforeDmlCommit = () => {
      store.beforeDmlCommit = () => ()
      store.append(Seq(("d8", "w", 8)).toDF("day", "k", "n"), 8L)
    }
    intercept[java.util.ConcurrentModificationException] {
      store.overwrite(Seq(("d7", "q", 7)).toDF("day", "k", "n"), 9L)
    }
    // the racing append WON; the aborted overwrite applied nothing
    assert(state(store) == Set(("d9", "z", 9), ("d8", "w", 8)))
  }

  test("a concurrent APPEND rebases around a dynamic overwrite (the " +
      "overwrite replaces its snapshot's partitions, later writes " +
      "land after)") {
    val store = partStore()
    store.beforeDmlCommit = () => {
      store.beforeDmlCommit = () => ()
      store.append(Seq(("d4", "e", 5)).toDF("day", "k", "n"), 2L)
    }
    store.overwritePartitions(
      Seq(("d1", "x", 10)).toDF("day", "k", "n"), 7L)
    assert(state(store) == Set(("d1", "x", 10), ("d2", "c", 3),
      ("d3", "d", 4), ("d4", "e", 5)))
  }

  test("SQL: INSERT OVERWRITE in dynamic mode replaces carried " +
      "partitions; in static mode truncates; PARTITION spec scopes " +
      "to one partition; replay through SQL is a no-op") {
    val store = partStore()
    val t = Map("t" -> store)
    val prev = spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "dynamic")
      val stmt = "INSERT OVERWRITE t SELECT 'x' AS k, 10 AS n, " +
        "'d1' AS day"
      StoreSql.exec(spark, t, stmt, batchId = Some(7L))
      assert(state(store) ==
        Set(("d1", "x", 10), ("d2", "c", 3), ("d3", "d", 4)))
      StoreSql.exec(spark, t, stmt, batchId = Some(7L)) // replay
      assert(state(store) ==
        Set(("d1", "x", 10), ("d2", "c", 3), ("d3", "d", 4)))
      // static PARTITION spec: the query omits the partition column
      StoreSql.exec(spark, t,
        "INSERT OVERWRITE t PARTITION (day = 'd2') " +
          "SELECT 'y' AS k, 20 AS n", batchId = Some(8L))
      assert(state(store) ==
        Set(("d1", "x", 10), ("d2", "y", 20), ("d3", "d", 4)))
      // static mode truncates the whole table (Spark's own semantics)
      spark.conf.set("spark.sql.sources.partitionOverwriteMode",
        "static")
      StoreSql.exec(spark, t,
        "INSERT OVERWRITE t SELECT 'z' AS k, 30 AS n, 'd9' AS day",
        batchId = Some(9L))
      assert(state(store) == Set(("d9", "z", 30)))
    } finally prev match {
      case Some(m) => spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", m)
      case None => spark.conf.unset(
        "spark.sql.sources.partitionOverwriteMode")
    }
    // a missing batch id refuses before any mutation
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, t,
        "INSERT OVERWRITE t SELECT 'q' AS k, 1 AS n, 'd1' AS day")
    }
  }

  test("multi-column partitioning: the touched tuple is the FULL " +
      "(day, region) pair — sibling partitions sharing one day carry") {
    val p = Files.createTempDirectory("ovw2-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      partitionBy = Seq("day", "region"))
    store.append(Seq(
      ("d1", "eu", "a", 1), ("d1", "us", "b", 2),
      ("d2", "eu", "c", 3)).toDF("day", "region", "k", "n"), 0L)
    store.overwritePartitions(
      Seq(("d1", "eu", "x", 10)).toDF("day", "region", "k", "n"), 1L)
    val state = store.read(spark).select("day", "region", "k", "n")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getInt(3))).toSet
    assert(state == Set(("d1", "eu", "x", 10), ("d1", "us", "b", 2),
      ("d2", "eu", "c", 3)),
      "only the exact (d1,eu) tuple may be replaced")
  }

  test("an empty dynamic-overwrite batch and a PARTITION spec on an " +
      "unknown column are refused") {
    val store = partStore()
    intercept[IllegalArgumentException] {
      store.overwritePartitions(
        Seq.empty[(String, String, Int)].toDF("day", "k", "n"), 7L)
    }
    intercept[IllegalArgumentException] {
      StoreSql.exec(spark, Map("t" -> store),
        "INSERT OVERWRITE t PARTITION (nope = '1') SELECT 'y', 2",
        batchId = Some(8L))
    }
  }
}
