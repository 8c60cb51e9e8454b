package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The atomic-commit contract of the manifest store: visibility only at
  * the manifest rename, write-time idempotence for replayed batch ids,
  * and governed schema evolution on read.
  */
class ManifestTableStoreSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  test("replayed micro-batch (same batch id) is a write-time no-op") {
    val store = new ManifestTableStore(tmp("manifest-replay-").toString)
    store.append(Seq(("u1", 1.0), ("u2", 2.0)).toDF("uid", "v"), 0L)
    // restart after crash-before-checkpoint: the batch recomputes with
    // DIFFERENT values (e.g. a fresh ingest_ts) but the same batch id
    store.append(Seq(("u1", 99.0), ("u2", 99.0)).toDF("uid", "v"), 0L)
    val rows = store.read(spark).select("uid", "v", "batch_id").collect()
    assert(rows.length == 2) // not 4: replay was refused at write time
    assert(rows.map(_.getDouble(1)).toSet == Set(1.0, 2.0)) // first write won
  }

  test("history lists one metadata row per complete version; compaction " +
      "shows batches preserved into one dir") {
    val store = new ManifestTableStore(tmp("manifest-history-").toString)
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    store.append(Seq(("c", 3)).toDF("k", "n"), 1L)
    store.compact(spark)
    val h = store.history(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(h == Seq((1L, 1L, 1L, 2L), (2L, 2L, 2L, 3L), (3L, 2L, 1L, 3L)),
      s"history was $h")
  }

  test("unmanifested data is invisible to readers (crash mid-write)") {
    val root = tmp("manifest-crash-")
    val store = new ManifestTableStore(root.toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    // simulate a writer that died after data files but before the commit
    // rename: a data dir with no manifest entry
    Seq(("ghost", 666)).toDF("k", "n")
      .write.parquet(s"$root/data/batch-1-dead-writer")
    val got = store.read(spark).select("k").collect().map(_.getString(0))
    assert(got.toSeq == Seq("a")) // the orphan never surfaces
  }

  test("schema evolution: later batch with a new column merges, older " +
      "rows null-padded") {
    val store = new ManifestTableStore(tmp("manifest-evolve-").toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 2, "fresh")).toDF("k", "n", "extra"), 1L)
    val df = store.read(spark)
    assert(df.columns.toSet == Set("k", "n", "extra", "batch_id"))
    assert(df.filter(col("k") === "a").head().getAs[String]("extra") == null)
    assert(df.filter(col("k") === "b").head().getAs[String]("extra") == "fresh")
  }

  test("compaction folds many batch dirs into one version atomically, " +
      "preserving rows, batch ids, and replay idempotence") {
    val root = tmp("manifest-compact-")
    val store = new ManifestTableStore(root.toString)
    (0L to 4L).foreach { b =>
      store.append(Seq((s"u$b", b.toDouble)).toDF("uid", "v"), b)
    }
    store.compact(spark)
    val df = store.read(spark)
    assert(df.count() == 5)
    assert(df.select("batch_id").distinct().count() == 5)
    // one data dir now backs the table
    assert(df.inputFiles.map(_.replaceAll("/[^/]+$", "")).distinct.length == 1)
    // replaying an already-compacted batch id is still a no-op
    store.append(Seq(("ghost", 99.0)).toDF("uid", "v"), 3L)
    assert(store.read(spark).count() == 5)
    // and fresh batches keep appending after compaction
    store.append(Seq(("u5", 5.0)).toDF("uid", "v"), 5L)
    assert(store.read(spark).count() == 6)
  }

  test("partitionBy lays data out hive-style and reader predicates prune " +
      "partitions in the executed plan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val store = new ManifestTableStore(tmp("manifest-part-").toString,
      partitionBy = Seq("source"))
    store.append(Seq(("a", "rapid7", 1), ("b", "fortisiem", 2))
      .toDF("uid", "source", "n"), 0L)
    store.append(Seq(("c", "rapid7", 3)).toDF("uid", "source", "n"), 1L)
    val filtered = store.read(spark).filter(col("source") === "rapid7")
    assert(filtered.count() == 2)
    val scan = filtered.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty,
      s"no partition filters in: ${scan.metadata}")
    // the scan only touches source=rapid7 directories
    assert(filtered.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("source=rapid7")))
  }

  test("partition columns read back with the writer's type: STRING " +
      "'007' stays '007', a later non-numeric value still reads, and " +
      "a date-like string stays STRING") {
    import org.apache.spark.sql.types.StringType
    val store = new ManifestTableStore(tmp("manifest-ptype-").toString,
      partitionBy = Seq("p"))
    def values(): Set[String] = {
      val df = store.read(spark)
      assert(df.schema("p").dataType == StringType, df.schema)
      df.select("p").as[String].collect().toSet
    }
    store.append(Seq(("007", 1)).toDF("p", "n"), 0L)
    assert(values() == Set("007"))
    store.append(Seq(("x", 2)).toDF("p", "n"), 1L)
    assert(values() == Set("007", "x"))
    store.append(Seq(("2024-01-01", 3)).toDF("p", "n"), 2L)
    assert(values() == Set("007", "x", "2024-01-01"))
  }

  test("a dominant partition value is split across write tasks") {
    // REBALANCE under AQE: with a tiny advisory size the one hot value
    // (99% of rows, from 4 map tasks) is written by several tasks, so
    // its subdir holds more than one part file
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    val root = tmp("manifest-skew-")
    val store = new ManifestTableStore(root.toString,
      partitionBy = Seq("p"))
    store.append(s.range(0, 20000, 1, 4).selectExpr(
      "if(id % 100 = 0, 'rare', 'hot') as p", "id as n"), 0L)
    val hotFiles = Files.walk(root.resolve("data")).filter(f =>
      f.getParent.getFileName.toString == "p=hot" &&
        f.getFileName.toString.endsWith(".parquet")).count()
    assert(hotFiles > 1, "the hot value was written by one task")
    assert(store.read(spark).count() == 20000L)
  }

  test("time travel: readVersion sees the table as of each commit; " +
      "vacuum removes dirs unreferenced by the retention horizon") {
    val root = tmp("manifest-tt-")
    val store = new ManifestTableStore(root.toString)
    store.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 2)).toDF("k", "n"), 1L)
    store.compact(spark)
    store.append(Seq(("c", 3)).toDF("k", "n"), 2L)
    assert(store.currentVersion(spark) == 4L)
    assert(store.readVersion(spark, 1L).count() == 1) // just batch 0
    assert(store.readVersion(spark, 2L).count() == 2)
    assert(store.readVersion(spark, 4L).count() == 3)
    // the default modification-time horizon protects freshly-written
    // dirs (they could be an in-flight writer's batch): nothing deleted
    assert(store.vacuum(spark, retainLast = 0).isEmpty)
    // retainLast=0, no age horizon: only the current version's dirs
    // survive — the two pre-compaction batch dirs go, the compacted dir
    // + batch 2 stay
    val deleted = store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    assert(deleted.length == 2, s"deleted: $deleted")
    assert(store.read(spark).count() == 3) // current read unaffected
    // vacuumed history is gone; current version still time-travels
    intercept[Exception] { store.readVersion(spark, 1L).count() }
    assert(store.readVersion(spark, 4L).count() == 3)
  }

  test("compaction preserves a partitioned layout (per-dir union write)") {
    val store = new ManifestTableStore(tmp("manifest-cpart-").toString,
      partitionBy = Seq("source"))
    store.append(Seq(("a", "rapid7", 1), ("b", "fortisiem", 2))
      .toDF("uid", "source", "n"), 0L)
    store.append(Seq(("c", "rapid7", 3)).toDF("uid", "source", "n"), 1L)
    store.compact(spark)
    val df = store.read(spark)
    assert(df.count() == 3)
    assert(df.filter(col("source") === "rapid7").count() == 2)
    // compacted dir is still hive-partitioned
    assert(df.inputFiles.forall(_.contains("source=")))
  }

  test("manifest column stats skip data dirs a predicate cannot match, " +
      "without changing results") {
    val store = new ManifestTableStore(tmp("manifest-stats-").toString,
      statsColumns = Seq("n", "h"))
    store.append(Seq((1, "a"), (10, "b")).toDF("n", "h"), 0L)
    store.append(Seq((100, "m"), (200, "q")).toDF("n", "h"), 1L)
    store.append(Seq((1000, "x"), (2000, "z")).toDF("n", "h"), 2L)

    val (kept, skipped) = store.pruneDirs(spark, "n >= 100 AND n < 1000")
    assert(kept.length == 1 && skipped.length == 2, s"kept=$kept")
    // the skipped dirs' files never reach the scan
    val df = store.readWhere(spark, "n >= 100 AND n < 1000")
    val keptNames = kept.map(_.split('/').last).toSet
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(f => keptNames.exists(f.contains)))
    // and the result is exactly the full-scan filter
    assert(df.select("n").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(100, 200))

    // string stats prune equality predicates
    val (k2, s2) = store.pruneDirs(spark, "h = 'm'")
    assert(k2.length == 1 && s2.length == 2)
    // a conjunct shape stats can't reason about prunes NOTHING
    assert(store.pruneDirs(spark, "n % 2 = 0")._2.isEmpty)
    // boundary values stay kept: max of dir 0 is exactly 10
    assert(store.pruneDirs(spark, "n >= 10")._1.length == 3)
    assert(store.pruneDirs(spark, "n > 10")._1.length == 2)
  }

  test("stats pruning survives compaction; evolution-added columns prune " +
      "conservatively") {
    val store = new ManifestTableStore(tmp("manifest-statsc-").toString,
      statsColumns = Seq("n", "extra"))
    store.append(Seq((1, "a")).toDF("n", "h"), 0L) // no `extra` column yet
    store.append(Seq((100, "m", "v1")).toDF("n", "h", "extra"), 1L)
    // old dir has no stats for `extra` → must be KEPT for extra-predicates
    val (k0, s0) = store.pruneDirs(spark, "extra = 'zzz'")
    assert(k0.length == 1 && s0.length == 1) // new dir skipped, old kept
    assert(store.readWhere(spark, "extra = 'v1'").count() == 1)

    store.compact(spark)
    // compacted dir's stats are recomputed over the union
    val (k1, s1) = store.pruneDirs(spark, "n > 100")
    assert(k1.isEmpty && s1.length == 1) // max(n)=100 proves n>100 empty
    assert(store.readWhere(spark, "n > 100").count() == 0)
    assert(store.readWhere(spark, "n <= 100").count() == 2)
  }

  test("clustered compaction rewrites interleaved appends into range-" +
      "disjoint dirs that stats-prune; ids, replay, and vacuum survive") {
    val store = new ManifestTableStore(tmp("manifest-cluster-").toString,
      statsColumns = Seq("n"))
    // streaming-shaped appends: every batch spans the whole key range,
    // so per-batch stats cannot prune a range predicate at all
    store.append(Seq((1, "a"), (500, "b"), (999, "c")).toDF("n", "h"), 0L)
    store.append(Seq((2, "d"), (501, "e"), (998, "f")).toDF("n", "h"), 1L)
    assert(store.pruneDirs(spark, "n < 10")._2.isEmpty) // nothing skippable

    store.compactClustered(spark, "n", buckets = 3)
    val (kept, skipped) = store.pruneDirs(spark, "n < 10")
    assert(kept.length == 1 && skipped.length == 2,
      s"kept=$kept skipped=$skipped")
    assert(store.readWhere(spark, "n < 10").select("n").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // full table intact, batch ids carried forward
    assert(store.read(spark).count() == 6)
    assert(store.read(spark).select("batch_id").distinct().count() == 2)
    // replaying a pre-clustering batch id is still refused
    store.append(Seq((7, "x")).toDF("n", "h"), 1L)
    assert(store.read(spark).count() == 6)
    // vacuum deletes the superseded flat batch dirs, keeps cluster dirs
    val deleted = store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    assert(deleted.length == 2, s"deleted: $deleted")
    assert(store.read(spark).count() == 6)
    assert(store.readWhere(spark, "n < 10").count() == 2)
  }

  test("timestamp stats prune time-range predicates in epoch micros, " +
      "including the bare-date midnight boundary") {
    import java.sql.Timestamp
    val store = new ManifestTableStore(tmp("manifest-ts-").toString,
      statsColumns = Seq("ts"))
    def day(s: String) = Timestamp.valueOf(s)
    store.append(Seq((1, day("2026-01-01 08:00:00")),
      (2, day("2026-01-01 23:59:59"))).toDF("k", "ts"), 0L)
    store.append(Seq((3, day("2026-01-02 00:00:00")),
      (4, day("2026-01-02 12:00:00"))).toDF("k", "ts"), 1L)
    store.append(Seq((5, day("2026-03-15 09:00:00"))).toDF("k", "ts"), 2L)

    // range predicate with bare-date literals
    val (k1, s1) =
      store.pruneDirs(spark, "ts >= '2026-01-02' AND ts < '2026-01-03'")
    assert(k1.length == 1 && s1.length == 2, s"kept=$k1")
    assert(store.readWhere(spark,
      "ts >= '2026-01-02' AND ts < '2026-01-03'")
      .select("k").collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
    // midnight equality: dir 1 STARTS at exactly 2026-01-02 00:00:00 —
    // a lexical string compare would wrongly prune it
    val (k2, _) = store.pruneDirs(spark, "ts = '2026-01-02'")
    assert(k2.length == 1)
    assert(store.readWhere(spark, "ts = '2026-01-02'").count() == 1)
    // full-timestamp literals prune too
    assert(store.pruneDirs(spark, "ts > '2026-02-01 00:00:00'")
      ._1.length == 1)
    // results always match the unpruned filter
    assert(store.readWhere(spark, "ts < '2026-01-02'").count() ==
      store.read(spark).filter(col("ts") < "2026-01-02").count())
  }

  test("property: readWhere equals read.filter for random batches and " +
      "range/equality predicates") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val batchesGen = Gen.listOfN(2, Gen.listOfN(4, Gen.choose(-50, 50)))
    val predGen = for {
      a <- Gen.choose(-60, 60); b <- Gen.choose(-60, 60)
      p <- Gen.oneOf(s"n >= $a AND n < $b", s"n = $a", s"n <= $b",
        s"n > $a AND n <= $b", s"$a < n")
    } yield p
    (0 until 6).foreach { i =>
      val (batches, pred) = Gen.zip(batchesGen, predGen)
        .apply(Gen.Parameters.default, Seed(i.toLong)).get
      val store = new ManifestTableStore(tmp(s"manifest-prop$i-").toString,
        statsColumns = Seq("n"))
      batches.zipWithIndex.foreach { case (vals, b) =>
        store.append(vals.toDF("n"), b.toLong)
      }
      val expect = store.read(spark).filter(expr(pred))
        .select("n").collect().map(_.getInt(0)).sorted.toSeq
      val got = store.readWhere(spark, pred)
        .select("n").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == expect, s"seed=$i pred=$pred batches=$batches")
    }
  }

  test("NaN/Infinity in a stats column: commit succeeds, the column " +
      "records no stats and is never pruned") {
    val store = new ManifestTableStore(tmp("manifest-nan-").toString,
      statsColumns = Seq("score", "n"))
    // quality-score column with a NaN and an Infinity — must not fail
    // the append commit
    store.append(Seq((1, 0.5), (2, Double.NaN)).toDF("n", "score"), 0L)
    store.append(Seq((3, 7.5), (4, Double.PositiveInfinity))
      .toDF("n", "score"), 1L)
    store.append(Seq((5, 0.1), (6, 0.2)).toDF("n", "score"), 2L)
    // score stats exist only for the all-finite dir; non-finite dirs are
    // conservatively kept for score predicates (NaN > any double in
    // Spark ordering, so a finite-only max could wrongly prune them)
    val (kept, skipped) = store.pruneDirs(spark, "score > 1.0")
    assert(skipped.length == 1 && kept.length == 2, s"kept=$kept")
    assert(store.readWhere(spark, "score > 1.0").count() ==
      store.read(spark).filter(col("score") > 1.0).count())
    // the integer column's stats are unaffected by its neighbor
    assert(store.pruneDirs(spark, "n >= 5")._1.length == 1)
  }

  test("string stats bounds compare in UTF8 (code-point) order: a " +
      "supplementary-plane value is not wrongly pruned") {
    val store = new ManifestTableStore(tmp("manifest-utf8-").toString,
      statsColumns = Seq("h"))
    // U+E000 (BMP private use) vs U+1F600 (emoji, supplementary plane):
    // UTF-8/code-point order has E000 < 1F600, UTF-16 code-unit order
    // has the surrogate D83D < E000 — the orders disagree, so a
    // java.lang.String comparison would prove 'h = 😀' disjoint from
    // [min=, max=😀] and silently drop the matching row
    store.append(Seq(("\uE000", 1), ("😀", 2)).toDF("h", "n"), 0L)
    store.append(Seq(("aaa", 3), ("zzz", 4)).toDF("h", "n"), 1L)
    val pred = "h = '😀'"
    val (kept, skipped) = store.pruneDirs(spark, pred)
    assert(kept.length == 1 && skipped.length == 1, s"kept=$kept")
    assert(store.readWhere(spark, pred)
      .select("n").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("optimistic concurrency: a writer losing the version race rebases " +
      "onto the winner's state; incomplete versions are never state") {
    val root = tmp("manifest-occ-")
    // two INDEPENDENT store handles on one table (≈ two writer processes)
    val a = new ManifestTableStore(root.toString)
    val b = new ManifestTableStore(root.toString)
    a.append(Seq(("a", 1)).toDF("k", "n"), 0L) // commits v1
    // our own writers can never leave a half-written version (single-
    // step publish), but an externally-corrupted / foreign-tool file
    // without the end marker must still be refused as table state
    java.nio.file.Files.writeString(
      root.resolve("manifest").resolve("v2"), "999\t/nowhere")
    // readers skip the corpse...
    assert(a.read(spark).count() == 1)
    assert(a.currentVersion(spark) == 1L)
    // ...and the next writer loses the v2 publish race to it, rebases,
    // and lands at a higher version — the corpse stays buried forever
    b.append(Seq(("b", 2)).toDF("k", "n"), 1L)
    assert(b.currentVersion(spark) == 3L)
    assert(b.read(spark).select("k").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b")) // NOTHING lost: rebase carried v1 forward
    intercept[Exception] { b.readVersion(spark, 2L) }

    // true two-writer race: interleaved appends from two handles on two
    // threads — every batch must survive, versions strictly advance
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future { (10L to 14L).foreach(i =>
      a.append(Seq((s"a$i", i.toInt)).toDF("k", "n"), i)) }
    val fb = Future { (20L to 24L).foreach(i =>
      b.append(Seq((s"b$i", i.toInt)).toDF("k", "n"), i)) }
    Await.result(fa, 120.seconds); Await.result(fb, 120.seconds)
    val all = a.read(spark)
    assert(all.count() == 12, s"lost updates: ${all.count()}")
    assert(all.select("batch_id").distinct().count() == 12)
  }

  test("drives the streaming bronze→silver path as a drop-in TableStore") {
    val src = tmp("manifest-src-"); val ckpt = tmp("manifest-ckpt-")
    Files.writeString(src.resolve("a.json"),
      """{"id": 7, "ip": "10.0.0.7", "hostName": "h7"}""")
    val store = new ManifestTableStore(tmp("manifest-silver-").toString)
    StreamRunner.runAvailableNow(spark,
      Seq((SourceSpec.rapid7, src.toString, ckpt.toString)), store)
    val silver = store.read(spark)
    assert(silver.count() == 1)
    assert(silver.select("rapid7_id").head().getString(0) == "7")
  }

  test("TWO concurrent sources into one replay-refusing store: writer-" +
      "scoped batch ids keep both (a flat id space would drop the " +
      "second source's micro-batch 0 as a replay of the first's)") {
    val srcA = tmp("m-bronze-a-"); val srcB = tmp("m-bronze-b-")
    Files.writeString(srcA.resolve("r7.json"),
      """{"id": 9, "ip": "10.9.9.9", "hostName": "r7-host"}""")
    Files.writeString(srcB.resolve("fg.json"),
      """{"_id": {"$oid": "aaa"}, "accessIp": "1.2.3.4", "name": "fg-host"}""")
    val store = new ManifestTableStore(tmp("m-silver-multi-").toString)
    StreamRunner.runAvailableNow(spark, Seq(
      (SourceSpec.rapid7, srcA.toString, tmp("m-ckpt-a-").toString),
      (SourceSpec.fortisiem, srcB.toString, tmp("m-ckpt-b-").toString)),
      store)
    val silver = store.read(spark)
    assert(silver.count() == 2, "a source's batch was replay-dropped")
    assert(silver.select("source_system").distinct().count() == 2)
    // the two queries landed under DISTINCT batch-id namespaces
    assert(silver.select("batch_id").distinct().count() == 2)
    // a restarted query replaying ITS OWN batch is still refused
    val base = store.writerBase(spark, SourceSpec.rapid7.name)
    val v = store.currentVersion(spark)
    store.append(silver.limit(1), base + 0L)
    assert(store.currentVersion(spark) == v)
  }

  test("write-audit-publish: staged data is invisible, publish commits " +
      "the audited bytes, abort leaves no trace, publish is idempotent") {
    val store = new ManifestTableStore(tmp("manifest-wap-").toString)
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    val v0 = store.currentVersion(spark)

    // stage: data lands, table state unchanged
    val staged = store.stage(Seq(("c", 3), ("d", -4)).toDF("k", "n"), 1L)
    assert(store.currentVersion(spark) == v0)
    assert(store.read(spark).count() == 2)
    // audit reads exactly the staged bytes
    val audit = store.readStaged(spark, staged)
    assert(audit.count() == 2)
    assert(audit.filter(col("n") < 0).count() == 1) // audit catches d

    // abort: files gone, manifest untouched
    store.abortStaged(spark, staged)
    assert(!new java.io.File(staged).exists())
    assert(store.currentVersion(spark) == v0)
    assert(store.read(spark).count() == 2)

    // clean retry: stage → audit passes → publish makes it visible
    val clean = store.stage(Seq(("c", 3), ("d", 4)).toDF("k", "n"), 1L)
    store.publishStaged(spark, clean, 1L)
    assert(store.currentVersion(spark) == v0 + 1)
    assert(store.read(spark).count() == 4)
    // the published dir IS the staged dir — audited bytes became state,
    // nothing was rewritten between audit and publish
    assert(store.read(spark).inputFiles.exists(_.contains(
      new java.io.File(clean).getName)))
    // idempotent: replaying the publish (crash-recovery) is a no-op
    store.publishStaged(spark, clean, 1L)
    assert(store.currentVersion(spark) == v0 + 1)
    assert(store.read(spark).count() == 4)
  }

  test("restore is a metadata-only rollback: state equals the target " +
      "version, history gains a row, pre-restore state stays readable, " +
      "and a vacuumed target is refused") {
    val store = new ManifestTableStore(tmp("manifest-restore-").toString)
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L) // v1
    store.append(Seq(("c", 3)).toDF("k", "n"), 1L)           // v2
    store.delete(spark, "n >= 2")                            // v3: bad job
    assert(store.read(spark).count() == 1)
    val filesBefore = store.readVersion(spark, 2).inputFiles.toSet
    store.restore(spark, 2L)                                 // v4
    assert(store.currentVersion(spark) == 4L)
    // state == v2 exactly, served from v2's OWN files (nothing rewritten)
    assert(store.read(spark).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet == Set(("a", 1), ("b", 2), ("c", 3)))
    assert(store.read(spark).inputFiles.toSet == filesBefore)
    // the rollback didn't destroy the audit trail: v3 is still readable
    assert(store.readVersion(spark, 3).count() == 1)
    assert(store.history(spark).count() == 4)
    // a target whose data dirs were vacuumed is refused, not half-restored
    store.delete(spark, "n >= 2")                            // v5
    store.vacuum(spark, retainLast = 1, minAgeMs = 0L)
    val before = store.currentVersion(spark)
    val e = intercept[IllegalArgumentException] {
      store.restore(spark, 2L)
    }
    assert(e.getMessage.contains("vacuum"))
    assert(store.currentVersion(spark) == before) // nothing committed
  }

  test("merge-on-read equality deletes: no data file rewritten, readers " +
      "anti-join, CoW DML is guarded, compact folds them, vacuum " +
      "retires the delete file") {
    val store = new ManifestTableStore(tmp("manifest-mor-").toString)
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L) // v1
    store.append(Seq(("c", 3), ("d", 4)).toDF("k", "n"), 1L) // v2
    val dataFiles = store.read(spark).inputFiles.toSet
    store.deleteMoR(spark, "n >= 2 AND n <= 3", "k")         // v3
    assert(store.currentVersion(spark) == 3L)
    // logical state applies the delete; physical data files untouched
    assert(store.read(spark).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet == Set(("a", 1), ("d", 4)))
    assert(dataFiles.subsetOf(store.read(spark).inputFiles.toSet),
      "data files were rewritten — not merge-on-read")
    // readWhere stays exact through pruning + deletes
    assert(store.readWhere(spark, "n >= 1").collect().length == 2)
    // metadata count would overcount → falls back (None)
    assert(store.countRows(spark).isEmpty)
    // time travel BEFORE the delete is unaffected
    assert(store.readVersion(spark, 2).count() == 4)
    // deletes compose: a second MoR delete sees the first's state
    store.deleteMoR(spark, "n = 4", "k")                     // v4
    assert(store.read(spark).collect().map(_.getString(0)).toSet
      == Set("a"))
    // a no-match delete commits nothing
    store.deleteMoR(spark, "n = 99", "k")
    assert(store.currentVersion(spark) == 4L)
    // CoW DML / clustered rewrites refuse while delete files pend
    val g = intercept[IllegalArgumentException] {
      store.update(spark, "n = 1", Map("n" -> lit(5)))
    }
    assert(g.getMessage.contains("compact"))
    // compact folds deletes into a clean rewrite: same state, delete
    // entries gone, metadata count exact again
    store.compact(spark)                                     // v5
    assert(store.read(spark).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet == Set(("a", 1)))
    assert(!store.read(spark).inputFiles.exists(_.contains("/deletes/")))
    assert(store.countRows(spark).contains(1L))
    // and the retired delete files are vacuumable garbage
    val removed = store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    assert(removed.exists(_.contains("/deletes/")),
      s"vacuum did not retire delete files: $removed")
    assert(store.read(spark).count() == 1)
  }

  test("equality deletes are sequence-scoped: rows appended after the " +
      "delete are never masked, and compact cannot resurrect rows from " +
      "batches the delete did mask") {
    val store = new ManifestTableStore(tmp("manifest-mor-seq-").toString)
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)  // v1
    store.deleteMoR(spark, "n >= 2", "k")                     // v2
    // a RE-APPEND of key b after the delete is new data the delete's
    // sequence scope must not touch (Iceberg's equality-delete contract)
    store.append(Seq(("b", 5), ("e", 6)).toDF("k", "n"), 1L)  // v3
    val expected = Set(("a", 1), ("b", 5), ("e", 6))
    assert(store.read(spark).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet == expected)
    // folding the delete in (compact drops the delete entry) must land
    // on the SAME state — (b,2) stays dead, (b,5) stays alive
    store.compact(spark)                                      // v4
    assert(store.read(spark).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet == expected)
    assert(!store.read(spark).inputFiles.exists(_.contains("/deletes/")))
    // time travel to v3 still applies the delete with its original scope
    assert(store.readVersion(spark, 3).collect().map(r =>
      (r.getString(0), r.getInt(1))).toSet == expected)
  }

  test("negative batch ids are refused (reserved for delete entries) " +
      "and a table rooted under a path containing /deletes/ still reads") {
    val store = new ManifestTableStore(tmp("manifest-neg-").toString)
    intercept[IllegalArgumentException] {
      store.append(Seq(("a", 1)).toDF("k", "n"), -1L)
    }
    intercept[IllegalArgumentException] {
      store.stage(Seq(("a", 1)).toDF("k", "n"), -7L)
    }
    intercept[IllegalArgumentException] {
      store.merge(spark, Seq(("a", 1)).toDF("k", "n"), "k", -1L)
    }
    // isDeleteEntry must match the table-RELATIVE prefix, not any
    // "/deletes/" substring in the table's own root path
    val root = tmp("manifest-root-").resolve("deletes/t")
    Files.createDirectories(root.getParent)
    val nested = new ManifestTableStore(root.toString)
    nested.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    assert(nested.read(spark).count() == 2)
    assert(nested.countRows(spark).contains(2L))
  }
}
