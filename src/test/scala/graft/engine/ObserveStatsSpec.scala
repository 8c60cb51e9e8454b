package graft.engine

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.SparkSpec

/** The write job folds commit stats in via `observe` (count, min/max;
  * checks too) instead of re-reading the just-written dir, for
  * unpartitioned and partitioned tables alike. This spec pins EXACT
  * parity with the read-back collector: `refreshStats` recomputes every
  * data dir's stats through the read-back path (`collectStatsOf` over
  * the committed bytes), so an append followed by a stats refresh must
  * leave every manifest stats string BYTE-identical — min/max
  * normalization (timestamps as epoch micros), bloom bitsets, row
  * counts, JSON field order, NaN-column skipping, partition columns
  * read back through the recorded writer schema, all of it. A job
  * count pins that stats columns add no job to a partitioned append.
  * Plus: the staged-stats sidecar is invisible to audit reads and
  * serves publish; zero-row markers prune like the job-computed empty
  * stats always did.
  */
class ObserveStatsSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  /** dir -> statsJson of the HIGHEST manifest version. */
  private def manifestStats(root: Path): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val mdir = root.resolve("manifest")
    val top = Files.list(mdir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong).max
    Files.readString(mdir.resolve(s"v$top")).linesIterator
      .filter(l => l.nonEmpty && l != "#END")
      .map { l =>
        val p = l.split("\t", 3)
        p(1) -> (if (p.length > 2) p(2) else "")
      }.toMap
  }

  test("observe-folded append stats are byte-identical to the " +
      "read-back recompute (min/max, ts micros, bloom, count, NaN skip)") {
    val root = tmp("obs-parity")
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("k", "v", "ts", "x"),
      bloomColumns = Seq("k", "v"), bloomBits = 1 << 10)
    val rows = Seq(
      (3L, "w3", Timestamp.valueOf("2031-03-01 10:00:00"), 1.5),
      (9L, "w9", Timestamp.valueOf("2031-03-02 10:00:00"), Double.NaN),
      (5L, null.asInstanceOf[String],
        Timestamp.valueOf("2031-03-03 10:00:00"), 2.5))
    store.append(rows.toDF("k", "v", "ts", "x"), 0L)
    // second batch: an all-null stats column (no min/max entry)
    store.append(Seq((11L, null.asInstanceOf[String],
      null.asInstanceOf[Timestamp], 0.25))
      .toDF("k", "v", "ts", "x"), 1L)
    val observed = manifestStats(root)
    assert(observed.size == 2)
    store.refreshStats(spark) // read-back recompute, same dirs
    val recomputed = manifestStats(root)
    assert(recomputed.keySet == observed.keySet)
    observed.foreach { case (dir, json) =>
      assert(recomputed(dir) == json,
        s"observe-path stats diverge from read-back for $dir:\n" +
          s"observe : $json\nreadback: ${recomputed(dir)}")
    }
    // and the stats actually carry content (not two empty strings)
    assert(observed.values.forall(_.contains("\"__n__\"")))
    assert(observed.values.exists(_.contains("\"__bloom__\"")))
  }

  test("partitioned append stats (a partition column, a data column, " +
      "bloom) are byte-identical to a cold read-back recompute") {
    val root = tmp("obs-part-parity")
    val store = new ManifestTableStore(root.toString,
      partitionBy = Seq("p"), statsColumns = Seq("p", "v"),
      bloomColumns = Seq("v"), bloomBits = 1 << 10)
    store.append(Seq(("007", "w3"), ("010", "w9"), ("007", "w5"))
      .toDF("p", "v"), 0L)
    // a null-only partition column: no min/max entry for it
    store.append(Seq((null.asInstanceOf[String], "w1")).toDF("p", "v"), 1L)
    val observed = manifestStats(root)
    assert(observed.size == 2)
    // the recompute reads the dirs back through their recorded schema
    ManifestTableStore.DirSchemas.evictUnder(root.toString)
    store.refreshStats(spark)
    val recomputed = manifestStats(root)
    assert(recomputed.keySet == observed.keySet)
    observed.foreach { case (dir, json) =>
      assert(recomputed(dir) == json,
        s"observe-path stats diverge from read-back for $dir:\n" +
          s"observe : $json\nreadback: ${recomputed(dir)}")
    }
    // the partition column's stats are the written STRING values
    assert(observed.values.exists(_.contains(
      "\"p\":{\"min\":\"007\",\"max\":\"010\"}")), observed)
    assert(observed.values.forall(_.contains("\"__bloom__\"")))
  }

  /** Spark jobs started while `body` runs. A marker job submitted after
    * it drains the listener bus: events arrive in submission order.
    */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "obs-jobs-marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      Iterator.continually(
        seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile { d =>
          assert(d != null, "listener bus stalled")
          d != marker
        }.size
    } finally sc.removeSparkListener(listener)
  }

  test("a partitioned append with stats columns runs exactly as many " +
      "Spark jobs as the same append without them") {
    def jobsOfSecondAppend(statsColumns: Seq[String]): Int = {
      val store = new ManifestTableStore(tmp("obs-jobs").toString,
        partitionBy = Seq("p"), statsColumns = statsColumns)
      store.append(Seq(("a", 1L)).toDF("p", "v"), 0L)
      jobsDuring(store.append(
        Seq(("a", 2L), ("b", 3L)).toDF("p", "v"), 1L))
    }
    val bare = jobsOfSecondAppend(Nil)
    val withStats = jobsOfSecondAppend(Seq("p", "v"))
    assert(bare > 0)
    assert(withStats == bare,
      s"stats columns cost ${withStats - bare} extra job(s)")
  }

  test("staged sidecar: invisible to the audit read, serves publish " +
      "with stats byte-identical to the read-back recompute") {
    val root = tmp("obs-staged")
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("k"), bloomColumns = Seq("k"),
      bloomBits = 1 << 10)
    val stagedDir = store.stage(
      (1 to 8).map(i => (i.toLong, s"w$i")).toDF("k", "v"), 0L)
    assert(Files.exists(
      java.nio.file.Paths.get(stagedDir, "_graft_stats.json")))
    // the audit sees exactly the staged rows, no sidecar artifacts
    val audited = store.readStaged(spark, stagedDir)
    assert(audited.count() == 8L)
    assert(audited.columns.toSet == Set("k", "v", "batch_id"))
    store.publishStaged(spark, stagedDir, 0L)
    assert(store.countRows(spark).contains(8L))
    val published = manifestStats(root)
    store.refreshStats(spark)
    assert(manifestStats(root) == published,
      "sidecar-served publish stats diverge from the read-back recompute")
    // the recorded min/max prune like always
    val (kept, skipped) = store.pruneDirs(spark, "k = 100")
    assert(kept.isEmpty && skipped.size == 1)
  }

  test("zero-row markers (truncate) commit job-free stats that still " +
      "count and prune") {
    val root = tmp("obs-empty")
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("k"), bloomColumns = Seq("k"),
      bloomBits = 1 << 10)
    store.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    store.truncate(spark)
    assert(store.countRows(spark).contains(0L))
    assert(store.read(spark).count() == 0L)
    // the all-zero bloom serialized without a job prunes equality
    // probes exactly like the job-computed one did
    val (kept, _) = store.pruneDirs(spark, "k = 1")
    assert(kept.isEmpty,
      s"zero-row marker failed to prune an equality probe: $kept")
  }

  test("check constraints ride the observation: a violating batch " +
      "deletes the dir, throws, and commits nothing") {
    val root = tmp("obs-check")
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("k"))
    store.append(Seq((1L, "a")).toDF("k", "v"), 0L)
    store.addCheck(spark, "k_pos", "k > 0")
    val v = store.currentVersion(spark)
    val e = intercept[IllegalArgumentException] {
      store.append(Seq((-5L, "bad")).toDF("k", "v"), 1L)
    }
    assert(e.getMessage.contains("k_pos") &&
      e.getMessage.contains("violated by 1 row"))
    assert(store.currentVersion(spark) == v)
    assert(store.read(spark).count() == 1L)
    // no orphan dir survives the refused batch
    import scala.jdk.CollectionConverters._
    val dataDirs = Files.list(root.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(dataDirs.count(_.startsWith("batch-")) == 1,
      s"refused batch left an orphan: $dataDirs")
  }
}
