package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
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

  test("every read path serves the same columns over ADD, RENAME, " +
      "WIDEN and DROP markers plus a merge-on-read delete") {
    val store = new ManifestTableStore(tmp("snap-paths-").toString)
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
}
