package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Copy-on-write row-level DML on the manifest store: DELETE / UPDATE /
  * MERGE must (1) produce exactly the declarative result, (2) rewrite
  * ONLY the data dirs whose manifest stats admit a match — the pruning
  * contract that bounds mutation cost at 100 TB — and (3) preserve the
  * store's invariants: one-version commits, time travel to pre-DML
  * state, replay refusal, exactly-once read-back.
  */
class StoreDmlSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  /** Data dirs referenced by the current manifest version, via the read
    * plan's file listing (the reader-visible truth).
    */
  private def currentDirs(store: ManifestTableStore): Set[String] =
    store.read(spark).inputFiles
      .map(f => f.split("/data/").last.split('/').head).toSet

  /** The batch ids each current data dir holds. */
  private def idsByDir(store: ManifestTableStore): Map[String, Set[Long]] =
    store.read(spark)
      .select(input_file_name().as("f"), col("batch_id")).distinct()
      .as[(String, Long)].collect()
      .groupBy(_._1.split("/data/").last.split('/').head)
      .map { case (d, rs) => d -> rs.map(_._2).toSet }

  /** Two key-ranged batches with stats on n: dir0 holds n in [0,99],
    * dir1 holds n in [100,199].
    */
  private def seeded(root: Path): ManifestTableStore = {
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("n"))
    store.append((0 until 100).map(i => (s"k$i", i)).toDF("k", "n"), 0L)
    store.append((100 until 200).map(i => (s"k$i", i)).toDF("k", "n"), 1L)
    store
  }

  test("delete removes exactly the matching rows and rewrites only the " +
      "dirs whose stats admit a match (CoW scope is stats-bounded)") {
    val store = seeded(tmp("dml-delete-"))
    val before = currentDirs(store)
    store.delete(spark, "n >= 150")
    val after = currentDirs(store)
    // dir0's range [0,99] proves it untouchable: same physical dir
    assert(before.intersect(after).exists(_.startsWith("batch-0-")))
    // dir1 was rewritten under a delete- prefix
    assert(after.exists(_.startsWith("delete-")))
    assert(!after.exists(_.startsWith("batch-1-")))
    val got = store.read(spark).select("n").as[Int].collect().sorted
    assert(got.toSeq == (0 until 150))
    // one new version; time travel to v2 still sees the deleted rows
    assert(store.currentVersion(spark) == 3L)
    assert(store.readVersion(spark, 2).count() == 200L)
  }

  test("delete whose predicate is provably empty against every dir's " +
      "stats is a no-op (no rewrite, no new version)") {
    val store = seeded(tmp("dml-delete-noop-"))
    store.delete(spark, "n >= 1000")
    assert(store.currentVersion(spark) == 2L)
    assert(store.read(spark).count() == 200L)
  }

  test("delete/update whose predicate stats ADMIT but no row MATCHES " +
      "is a row-probed no-op: no dir rewritten, no version minted — " +
      "an idempotent DML replay leaves versions (and every downstream " +
      "MV window) untouched") {
    val store = seeded(tmp("dml-probe-noop-"))
    // `% 2 = 1` admits every dir (stats cannot reason about modulo);
    // first run deletes the odd rows and commits ONE version
    store.delete(spark, "n % 2 = 1")
    assert(store.currentVersion(spark) == 3L)
    assert(store.read(spark).count() == 100L)
    val dirs = currentDirs(store)
    // replayed statement: stats still admit every dir, but no odd row
    // remains — the probe stops the rewrite AND the commit
    store.delete(spark, "n % 2 = 1")
    assert(store.currentVersion(spark) == 3L, "no-match delete minted")
    assert(currentDirs(store) == dirs, "no-match delete rewrote dirs")
    // same for update: first run hits, replay no-ops (the shifted
    // rows left the predicate range)
    store.update(spark, "n % 100 = 0 AND n < 1000",
      Map("n" -> (col("n") + 1000)))
    assert(store.currentVersion(spark) == 4L)
    val dirs2 = currentDirs(store)
    store.update(spark, "n % 100 = 0 AND n < 1000",
      Map("n" -> (col("n") + 1000)))
    assert(store.currentVersion(spark) == 4L, "no-match update minted")
    assert(currentDirs(store) == dirs2)
    assert(store.read(spark).select("n").as[Int].collect().sorted
      .toSeq == (2 to 98 by 2) ++ (102 to 198 by 2) ++ Seq(1000, 1100))
  }

  test("update reassigns only matching rows, rewrites only admitting " +
      "dirs, and recomputes stats so the updated column stays prunable") {
    val store = seeded(tmp("dml-update-"))
    val before = currentDirs(store)
    store.update(spark, "n >= 190", Map("n" -> lit(-1)))
    val after = currentDirs(store)
    assert(before.intersect(after).exists(_.startsWith("batch-0-")))
    assert(after.exists(_.startsWith("update-")))
    val got = store.read(spark).select("n").as[Int].collect().sorted
    assert(got.toSeq == Seq.fill(10)(-1) ++ (0 until 190))
    // fresh stats on the rewritten dir: a read for the updated value
    // must NOT prune it away (its new min is -1)
    assert(store.readWhere(spark, "n < 0").count() == 10L)
    // ...and a predicate beyond the new max prunes BOTH dirs
    val (kept, skipped) = store.pruneDirs(spark, "n >= 195")
    assert(kept.isEmpty && skipped.size == 2)
  }

  test("merge replaces matched keys, inserts unmatched ones, skips " +
      "dirs whose key stats cannot intersect the source range, and " +
      "refuses a replayed merge batch id") {
    val store = seeded(tmp("dml-merge-"))
    val before = currentDirs(store)
    // keyed on the stats column n; source keys 150-249 with refreshed
    // payloads — 150-199 replace, 200-249 insert; dir0's key stats
    // [0,99] prove it disjoint from the source range
    val src = (150 until 250).map(i => (s"new$i", i)).toDF("k", "n")
    store.merge(spark, src, "n", batchId = 7L)
    val after = currentDirs(store)
    val dir0 = before.find(_.startsWith("batch-0-")).get
    assert(after.contains(dir0)) // carried forward, never rewritten
    // the key stats keep the per-dir layout: the touched batch-1 dir
    // is rewritten on its own and the source rows get their own dir
    val fresh = after -- before
    assert(fresh.size == 2 && after.size == 3, after)
    val rewritten = fresh.find(_.startsWith("merge-")).get
    val inserted = fresh.find(_.startsWith("batch-7-")).get
    assert(idsByDir(store) == Map(dir0 -> Set(0L),
      rewritten -> Set(1L), inserted -> Set(7L)))
    assert(store.committedBatchIds(spark) == Set(0L, 1L, 7L))
    // every dir keeps a narrow key range: a lookup of a key the merge
    // left alone opens the rewritten batch-1 dir [100,149] only
    val (kept, _) = store.pruneDirs(spark, "n = 120")
    assert(kept.map(_.split("/data/").last.split('/').head) ==
      Seq(rewritten), kept)
    val got = store.read(spark).select("n", "k").as[(Int, String)]
      .collect().toMap
    assert(got.size == 250)
    assert(got(10) == "k10") // untouched
    assert(got(120) == "k120") // touched dir, unmatched key
    assert(got(175) == "new175") // replaced
    assert(got(225) == "new225") // inserted
    // replay of the same merge batch id is refused at write time: no
    // version, no row
    val v = store.currentVersion(spark)
    val replay = (150 until 250).map(i => (s"ghost$i", i)).toDF("k", "n")
    store.merge(spark, replay, "n", batchId = 7L)
    assert(store.currentVersion(spark) == v)
    assert(store.read(spark).filter(col("k").startsWith("ghost"))
      .count() == 0L)
  }

  test("a merge over dirs without key stats writes ONE dir holding " +
      "every touched batch id and the merge's own, and refuses a " +
      "replayed merge batch id") {
    // stats on k only: nothing proves a dir disjoint on the key n, so
    // every merge touches every dir and one dir loses no pruning
    val store = new ManifestTableStore(tmp("dml-merge-nostats-").toString,
      statsColumns = Seq("k"))
    store.append((0 until 100).map(i => (s"k$i", i)).toDF("k", "n"), 0L)
    store.append((100 until 200).map(i => (s"k$i", i)).toDF("k", "n"), 1L)
    val src = (150 until 250).map(i => (s"new$i", i)).toDF("k", "n")
    store.merge(spark, src, "n", batchId = 7L)
    val after = currentDirs(store)
    assert(after.size == 1 && after.head.startsWith("merge-"), after)
    assert(idsByDir(store) == Map(after.head -> Set(0L, 1L, 7L)))
    assert(store.committedBatchIds(spark) == Set(0L, 1L, 7L))
    val got = store.read(spark).select("n", "k").as[(Int, String)]
      .collect().toMap
    assert(got.size == 250)
    assert(got(10) == "k10" && got(120) == "k120") // kept
    assert(got(175) == "new175") // replaced
    assert(got(225) == "new225") // inserted
    // a second merge rewrites that one dir again: still one dir
    store.merge(spark, Seq(("again", 10)).toDF("k", "n"), "n", 8L)
    assert(currentDirs(store).size == 1)
    assert(store.read(spark).filter(col("n") === 10)
      .select("k").as[String].collect().toSeq == Seq("again"))
    val v = store.currentVersion(spark)
    store.merge(spark, Seq(("ghost", 10)).toDF("k", "n"), "n", 7L)
    assert(store.currentVersion(spark) == v)
    assert(store.read(spark).filter(col("k") === "ghost").count() == 0L)
  }

  test("merge key-range pruning works on string keys (UTF8 stats order)") {
    val root = tmp("dml-merge-str-")
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("k"))
    store.append(Seq(("a1", 1), ("a9", 2)).toDF("k", "n"), 0L)
    store.append(Seq(("m1", 3), ("m9", 4)).toDF("k", "n"), 1L)
    val before = currentDirs(store)
    store.merge(spark, Seq(("m5", 99)).toDF("k", "n"), "k", batchId = 2L)
    val after = currentDirs(store)
    // the a-range dir's stats ["a1","a9"] prove it disjoint from "m5"
    assert(before.intersect(after).exists(_.startsWith("batch-0-")))
    assert(!after.exists(_.startsWith("batch-1-")))
    val got = store.read(spark).select("k", "n").as[(String, Int)]
      .collect().toMap
    assert(got == Map("a1" -> 1, "a9" -> 2, "m1" -> 3, "m9" -> 4,
      "m5" -> 99))
  }

  test("compactSmall merges ONLY the sub-threshold dirs: the big dir " +
      "carries forward byte-identical (never read, never rewritten), " +
      "values and replay refusal survive") {
    val root = tmp("dml-compact-small-")
    val store = new ManifestTableStore(root.toString,
      statsColumns = Seq("n"))
    // one big dir (10k rows) + three streaming-sized crumbs
    store.append((0 until 10000).map(i => (s"k$i", i)).toDF("k", "n"), 0L)
    store.append(Seq(("a", -1)).toDF("k", "n"), 1L)
    store.append(Seq(("b", -2)).toDF("k", "n"), 2L)
    store.append(Seq(("c", -3)).toDF("k", "n"), 3L)
    val before = currentDirs(store)
    val bigDir = before.find(_.startsWith("batch-0-")).get
    val v = store.currentVersion(spark)
    store.compactSmall(spark, smallBytes = 64 * 1024)
    val after = currentDirs(store)
    // the big dir is the SAME physical dir in the new version; the
    // three crumbs merged into one compact dir
    assert(after.contains(bigDir), "big dir was rewritten")
    assert(after.size == 2, s"expected big + one merged dir, got $after")
    assert(store.currentVersion(spark) == v + 1)
    assert(store.read(spark).count() == 10003)
    assert(store.read(spark).filter(col("n") < 0).count() == 3)
    // batch ids carried: replaying a compacted crumb is still refused
    store.append(Seq(("ghost", 9)).toDF("k", "n"), 2L)
    assert(store.read(spark).count() == 10003)
    // under-threshold backlog of one dir: no-op (nothing to merge)
    val v2 = store.currentVersion(spark)
    store.compactSmall(spark, smallBytes = 64 * 1024)
    assert(store.currentVersion(spark) == v2)
  }

  test("readChanges returns exactly the batches committed between two " +
      "versions; rewrites report no changes; merge inserts appear") {
    val store = seeded(tmp("dml-cdf-")) // v1 = batch 0, v2 = batch 1
    // since-creation and single-step reads
    assert(store.readChanges(spark, 0, 2).count() == 200L)
    assert(store.readChanges(spark, 1, 2).select("n").as[Int]
      .collect().sorted.toSeq == (100 until 200))
    // a pure rewrite step (delete) carries ids forward → no changes
    store.delete(spark, "n >= 150") // v3
    assert(store.readChanges(spark, 2, 3).count() == 0L)
    // a merge's insert batch is the only change its version adds
    store.merge(spark, Seq(("x", 500)).toDF("k", "n"), "n", 9L) // v4
    val changed = store.readChanges(spark, 3, 4)
      .select("k", "n").as[(String, Int)].collect().toSeq
    assert(changed == Seq(("x", 500)))
    // the same-version window is empty
    assert(store.readChanges(spark, 4, 4).count() == 0L)
  }

  test("vacuum after DML reclaims the superseded pre-rewrite dirs once " +
      "past the retention horizon; the live table is untouched") {
    val store = seeded(tmp("dml-vacuum-"))
    store.delete(spark, "n >= 150")
    val deleted = store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    // the rewritten dir's predecessor (batch-1) is reclaimed; batch-0
    // is still referenced by the current version and survives
    assert(deleted.exists(_.contains("/batch-1-")))
    assert(!deleted.exists(_.contains("/batch-0-")))
    assert(store.read(spark).count() == 150L)
  }

  test("delete on a hive-partitioned store rewrites through the same " +
      "layout: partition pruning still works on the rewritten dir") {
    val root = tmp("dml-part-")
    val store = new ManifestTableStore(root.toString,
      partitionBy = Seq("day"), statsColumns = Seq("n"))
    store.append((0 until 100).map(i => (i, s"d${i % 3}"))
      .toDF("n", "day"), 0L)
    store.delete(spark, "n >= 90")
    val df = store.read(spark)
    assert(df.count() == 90L)
    // the rewritten dir preserved hive layout: a partition predicate
    // reads only that partition's files
    val oneDay = df.filter(col("day") === "d1")
    assert(oneDay.count() === 30L)
    assert(oneDay.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("day=d1")))
  }

  test("z-order compaction restores data skipping in BOTH dimensions " +
      "at once — one-dimensional clustering cannot") {
    val store = new ManifestTableStore(tmp("dml-zorder-").toString,
      statsColumns = Seq("a", "b"))
    // 64×64 grid appended by parity: every batch spans the full range
    // of both columns, so pre-compaction stats prune NOTHING
    val grid = (0 until 4096).map(i => (i / 64, i % 64))
    store.append(grid.filter(p => (p._1 + p._2) % 2 == 0).toDF("a", "b"), 0L)
    store.append(grid.filter(p => (p._1 + p._2) % 2 == 1).toDF("a", "b"), 1L)
    assert(store.pruneDirs(spark, "a < 8")._2.isEmpty)
    assert(store.pruneDirs(spark, "b < 8")._2.isEmpty)
    store.compactZOrder(spark, Seq("a", "b"), buckets = 16)
    // after z-ordering, a predicate on EITHER column skips most dirs
    val (keptA, skipA) = store.pruneDirs(spark, "a < 8")
    val (keptB, skipB) = store.pruneDirs(spark, "b < 8")
    assert(skipA.size > keptA.size, s"a-predicate kept ${keptA.size}")
    assert(skipB.size > keptB.size, s"b-predicate kept ${keptB.size}")
    // and results are exactly read().filter(...)
    assert(store.readWhere(spark, "a < 8").count() == 8L * 64)
    assert(store.readWhere(spark, "b < 8").count() == 8L * 64)
    assert(store.read(spark).count() == 4096L)
  }

  test("delete composes with exactly-once read-back: batch ids carry " +
      "forward through the rewrite") {
    val store = seeded(tmp("dml-eo-"))
    store.delete(spark, "n >= 100 AND n < 110")
    val ids = store.read(spark).select("batch_id").distinct()
      .as[Long].collect().toSet
    assert(ids == Set(0L, 1L))
    assert(store.readExactlyOnce(spark, Seq("k")).count() == 190L)
  }
}
