package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** One snapshot, one projection: every read path of the manifest store
  * derives the logical table from a version's entries the same way, a
  * missing version is refused with one typed exception, and the write
  * path's edge cases (a provably-empty batch, schema-cache eviction)
  * hold.
  */
class StoreSnapshotSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def columns(df: DataFrame): Seq[(String, DataType)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The file scans of a frame's physical plan. */
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }

  test("every read path serves the same columns over ADD, RENAME, " +
      "WIDEN and DROP markers plus a merge-on-read delete") {
    val root = tmp("snap-paths-")
    val store = new ManifestTableStore(root.toString)
    store.append(Seq(("a", 1, "x1", "t1"), ("b", 2, "x2", "t2"))
      .toDF("k", "n", "old", "tmp"), 0L)                          // v1
    store.addColumns(spark, Seq("extra" -> StringType))           // v2
    store.renameColumn(spark, "old", "renamed")                   // v3
    store.widenColumn(spark, "n", LongType)                       // v4
    store.dropColumn(spark, "tmp")                                // v5
    store.append(Seq(("c", 3L, "x3", "e3"))
      .toDF("k", "n", "renamed", "extra"), 1L)                    // v6
    store.deleteMoR(spark, "k = 'b'", "k")                        // v7
    val cur = store.currentVersion(spark)
    assert(cur == 7L)
    val expected = columns(store.read(spark))
    assert(expected.toMap == Map("k" -> StringType, "n" -> LongType,
      "renamed" -> StringType, "extra" -> StringType,
      "batch_id" -> LongType), expected)
    val paths = Seq(
      "readWhere" -> store.readWhere(spark, "n >= 1"),
      "readVersion" -> store.readVersion(spark, cur),
      "readChanges" -> store.readChanges(spark, 0L, cur),
      "readChangeFeed" ->
        store.readChangeFeed(spark, 0L, cur).drop("_change_type"))
    paths.foreach { case (name, df) =>
      assert(columns(df) == expected, s"$name serves ${columns(df)}")
    }
    assert(store.read(spark).select("k").as[String].collect().sorted
      .toSeq == Seq("a", "c"))

    // a fresh process: no cached schema and no cached listing
    val served: Seq[(String, () => DataFrame)] = Seq(
      "read" -> (() => store.read(spark)),
      "readWhere" -> (() => store.readWhere(spark, "n >= 1")),
      "readVersion" -> (() => store.readVersion(spark, 6L)),
      "readChangeFeed" -> (() => store.readChangeFeed(spark, 1L, cur)))
    def shape(df: DataFrame) = (columns(df), rows(df))
    val warm = served.map { case (_, df) => shape(df()) }
    assert(ManifestTableStore.DirSchemas.listed(root.toString))
    ManifestTableStore.DirSchemas.evictUnder(root.toString)
    assert(!ManifestTableStore.DirSchemas.listed(root.toString))
    served.zip(warm).foreach { case ((n, df), w) =>
      ManifestTableStore.DirSchemas.evictUnder(root.toString)
      assert(shape(df()) == w, s"$n cold")
    }
  }

  test("vacuum and abortStaged evict the dirs they delete from the " +
      "listing cache") {
    val root = tmp("snap-listing-")
    val store = new ManifestTableStore(root.toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 2)).toDF("k", "n"), 1L)
    val staged = store.stage(Seq(("c", 3)).toDF("k", "n"), 2L)
    assert(store.readStaged(spark, staged).count() == 1L)
    assert(ManifestTableStore.DirSchemas.listed(staged))
    store.abortStaged(spark, staged)
    assert(!ManifestTableStore.DirSchemas.listed(staged))

    import scala.jdk.CollectionConverters._
    def dataDirs(): Seq[String] = Files.list(root.resolve("data"))
      .iterator().asScala.map(_.toString).toSeq
    assert(store.read(spark).count() == 2L)
    val before = dataDirs()
    assert(before.size == 2 &&
      before.forall(ManifestTableStore.DirSchemas.listed))
    store.compact(spark)
    assert(store.read(spark).count() == 2L)
    val deleted = store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    assert(deleted.size == 2, deleted)
    assert(!before.exists(ManifestTableStore.DirSchemas.listed))
    assert(dataDirs().size == 1 &&
      dataDirs().forall(ManifestTableStore.DirSchemas.listed))
  }

  test("a read is one file scan per schema version: 20 appends are one " +
      "scan, and an ADD COLUMNS between appends makes two") {
    val one = new ManifestTableStore(tmp("snap-scan1-").toString)
    (0 until 20).foreach(i => one.append(Seq(("a", i)).toDF("k", "n"), i))
    val read = one.read(spark)
    assert(scans(read).size == 1)
    assert(scans(read).head.relation.location.inputFiles.length == 20)
    assert(read.count() == 20L)

    val two = new ManifestTableStore(tmp("snap-scan2-").toString)
    (0 until 10).foreach(i => two.append(Seq(("a", i)).toDF("k", "n"), i))
    two.addColumns(spark, Seq("extra" -> StringType))
    (10 until 20).foreach(i =>
      two.append(Seq(("b", i, s"e$i")).toDF("k", "n", "extra"), i))
    val evolved = two.read(spark)
    assert(scans(evolved).size == 2)
    assert(evolved.columns.toSeq == Seq("k", "n", "batch_id", "extra"))
    assert(evolved.filter("extra IS NULL").count() == 10L)
    assert(evolved.filter("extra IS NOT NULL").count() == 10L)
  }

  test("partitioned commits read as one scan that serves a STRING " +
      "'007' and prunes by partition filter") {
    val store = new ManifestTableStore(tmp("snap-scanp-").toString,
      partitionBy = Seq("p"))
    (0 until 5).foreach(i =>
      store.append(Seq(("007", i), ("010", i)).toDF("p", "n"), i))
    val read = store.read(spark)
    assert(scans(read).size == 1)
    // partition columns last, as a one-dir hive read orders them
    assert(read.columns.toSeq == Seq("n", "batch_id", "p"))
    assert(read.schema("p").dataType == StringType)
    assert(read.select("p").distinct().as[String].collect().sorted.toSeq ==
      Seq("007", "010"))
    val only007 = read.filter("p = '007'")
    val scan = scans(only007).head
    assert(scan.partitionFilters.nonEmpty)
    val files = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files)
    assert(files.size == 5)
    assert(files.forall(_.getPath.getParent.getName == "p=007"))
    assert(only007.count() == 5L)
  }

  test("readWhere drops stats-pruned dirs from its scan, a merge-on-read " +
      "delete still masks, and a three-version change feed is one scan") {
    val store = new ManifestTableStore(tmp("snap-scanw-").toString,
      statsColumns = Seq("n"))
    (0 until 5).foreach(i =>
      store.append(Seq(("k" + i, i * 10), ("x" + i, i * 10 + 5))
        .toDF("k", "n"), i))
    val pruned = store.readWhere(spark, "n >= 40")
    assert(scans(pruned).size == 1)
    assert(pruned.inputFiles.map(f => f.take(f.lastIndexOf('/')))
      .distinct.length == 1)
    assert(rows(pruned.select("k")) == Seq("k4", "x4"))

    val feed = store.readChangeFeed(spark, 2L, 5L)
    assert(scans(feed).size == 1)
    assert(rows(feed.select("k", "_change_type")) ==
      Seq("k2|insert", "k3|insert", "k4|insert", "x2|insert", "x3|insert",
        "x4|insert"))

    store.deleteMoR(spark, "n = 25", "k")
    assert(rows(store.read(spark).filter("n >= 20").select("k")) ==
      Seq("k2", "k3", "k4", "x3", "x4"))
    assert(rows(store.readWhere(spark, "n >= 20").select("k")) ==
      Seq("k2", "k3", "k4", "x3", "x4"))
  }

  test("a missing or incomplete version is one typed refusal on every " +
      "time-travel path, and still an IllegalArgumentException") {
    val store = new ManifestTableStore(tmp("snap-missing-").toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    val refusals: Seq[(String, () => Any)] = Seq(
      "readVersion" -> (() => store.readVersion(spark, 9L)),
      "readVersionWhere" -> (() => store.readVersionWhere(spark, 9L, "n = 1")),
      "readChanges" -> (() => store.readChanges(spark, 0L, 9L)),
      "readChangeFeed" -> (() => store.readChangeFeed(spark, 0L, 9L)),
      "versionTimestampMs" -> (() => store.versionTimestampMs(spark, 9L)),
      "tag" -> (() => store.tag(spark, "t", 9L)),
      "createBranch" -> (() => store.createBranch(spark, "b", 9L)),
      "restore" -> (() => store.restore(spark, 9L)))
    refusals.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.isInstanceOf[ManifestTableStore.VersionUnavailableException],
        s"$name refused with ${e.getClass.getName}: ${e.getMessage}")
    }
    assert(store.currentVersion(spark) == 1L) // nothing committed
  }

  test("a provably-empty batch into a partitioned table loses its write " +
      "observation, and the append still commits a dir whose recorded " +
      "count is 0") {
    // the premise: the clustering exchange of a partitioned write over a
    // constant-false filter folds the metrics node away, so the store's
    // write takes its lost-metrics branch (an unpartitioned write of the
    // same frame still reports a count of 0)
    val obs = org.apache.spark.sql.Observation()
    Seq(("b", 2)).toDF("k", "n").filter(lit(false))
      .withColumn("batch_id", lit(1L))
      .observe(obs, count(lit(1)).as("__cnt"))
      .repartition(col("k")).write.mode("overwrite").partitionBy("k")
      .parquet(tmp("snap-obs-").resolve("d").toString)
    scala.concurrent.Await.ready(obs.future,
      ManifestTableStore.ObservationWait)
    assert(!obs.get.contains("__cnt"), obs.get)

    val store = new ManifestTableStore(tmp("snap-empty-").toString,
      partitionBy = Seq("k"))
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 2)).toDF("k", "n").filter(lit(false)), 1L)
    assert(store.currentVersion(spark) == 2L)
    val v2 = store.history(spark).filter("version = 2").head()
    assert(v2.getAs[Long]("n_dirs") == 2L)
    assert(v2.getAs[Long]("n_rows") == 1L) // 1 + the empty dir's 0
    assert(store.countRows(spark).contains(1L))
    assert(store.read(spark).filter("batch_id = 1").isEmpty)
  }

  test("a cold schema cache (a fresh process) reads partitioned dirs " +
      "with the writer's types: after an append, after " +
      "compactClustered, and for a provably-empty commit") {
    val root = tmp("snap-cold-")
    val store = new ManifestTableStore(root.toString,
      partitionBy = Seq("p"))
    def coldRead(): DataFrame = {
      ManifestTableStore.DirSchemas.evictUnder(root.toString)
      store.read(spark)
    }
    def codes(): Set[String] = {
      val df = coldRead()
      assert(df.schema("p").dataType == StringType, df.schema)
      df.select("p").as[String].collect().toSet
    }
    store.append(Seq(("007", 1L), ("010", 2L)).toDF("p", "n"), 0L)
    assert(codes() == Set("007", "010"))
    // no part files at all: only the recorded schema makes it readable
    store.append(Seq(("b", 3L)).toDF("p", "n").filter(lit(false)), 1L)
    import scala.jdk.CollectionConverters._
    val emptyDir = Files.list(root.resolve("data")).iterator().asScala
      .find(_.getFileName.toString.startsWith("batch-1-")).get.toString
    ManifestTableStore.DirSchemas.evictUnder(root.toString)
    val empty = ManifestTableStore.DirSchemas.read(spark, emptyDir)
    assert(empty.isEmpty)
    assert(empty.schema.map(f => f.name -> f.dataType).toSet ==
      Set("p" -> StringType, "n" -> LongType, "batch_id" -> LongType))
    assert(coldRead().count() == 2L)
    store.compactClustered(spark, "n", 2)
    assert(codes() == Set("007", "010"))
    assert(coldRead().count() == 2L)
  }

  test("schema-cache eviction matches on a path boundary: evicting " +
      "batch-1 keeps its sibling batch-10 cached") {
    val root = tmp("snap-evict-")
    val Seq(d1, d10) = Seq("batch-1", "batch-10").map { n =>
      val d = root.resolve(n).toString
      Seq(1).toDF("x").write.parquet(d)
      d
    }
    // a cached schema the footer does not have, so a hit is visible
    val marked = StructType(Seq(StructField("x", IntegerType),
      StructField("cached", StringType)))
    Seq(d1, d10).foreach(ManifestTableStore.DirSchemas.put(_, marked))
    def cached(d: String): Boolean =
      ManifestTableStore.DirSchemas.read(spark, d).columns.contains("cached")
    ManifestTableStore.DirSchemas.evictUnder(d1)
    assert(!cached(d1))
    assert(cached(d10))
  }

  test("a cold read of 50 unpartitioned appends reads their footers in " +
      "one driver-side pass: at most 2 Spark jobs, the same schema and " +
      "rows as the warm read") {
    val root = tmp("snap-cold-flat-")
    val store = new ManifestTableStore(root.toString)
    (0 until 50).foreach(i =>
      store.append(Seq((i.toLong, s"v$i", i * 0.5)).toDF("k", "s", "w"),
        i.toLong))
    val warm = store.read(spark)
    val warmRows = rows(warm)
    ManifestTableStore.DirSchemas.evictUnder(root.toString)
    var cold: DataFrame = null
    val jobs = jobsDuring { cold = store.read(spark) }
    assert(jobs <= 2, s"cold read ran $jobs jobs")
    assert(columns(cold) == columns(warm))
    assert(scans(cold).size == 1)
    assert(rows(cold) == warmRows)
  }
}
