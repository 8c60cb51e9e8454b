package graft.engine

import java.nio.file.Files

import graft.SparkSpec

/** Multi-writer fuzz over the optimistic commit protocol: several
  * writer PROCESSES (modeled as separate store instances — the
  * instance monitor serializes nothing across them) append disjoint
  * batch ids while maintenance compacts underneath. The invariants the
  * protocol promises: every batch commits exactly once, no append is
  * lost to a rebase, no row is duplicated by a fold, and the final
  * version chain is strictly increasing and complete.
  *
  * The last tests force ONE lost race per rebase policy of the commit
  * core: a second handle on the same path commits from inside the
  * first handle's `beforeDmlCommit` failpoint, so the op's first
  * publish attempt loses. Each asserts the policy's outcome and that
  * the loser left no dir that no manifest version references.
  */
class ConcurrencyFuzzSpec extends SparkSpec {

  import spark.implicits._

  /** A two-batch table and two handles on it: `mine` runs the op under
    * test, `rival` wins its race.
    */
  private def raced(): (String, ManifestTableStore, ManifestTableStore) = {
    val p = Files.createTempDirectory("race-")
    p.toFile.deleteOnExit()
    val mine = new ManifestTableStore(p.toString, statsColumns = Seq("n"))
    mine.append(Seq(("a", 1)).toDF("k", "n"), 0L)
    mine.append(Seq(("b", 2)).toDF("k", "n"), 1L)
    (p.toString, mine,
      new ManifestTableStore(p.toString, statsColumns = Seq("n")))
  }

  /** Run `rival` inside `mine`'s next commit, before its first publish
    * attempt; the returned probe tells whether it ran.
    */
  private def loseNextCommit(mine: ManifestTableStore)(
      rival: => Unit): () => Boolean = {
    @volatile var fired = false
    mine.beforeDmlCommit = () => {
      mine.beforeDmlCommit = () => ()
      fired = true
      rival
    }
    () => fired
  }

  /** Dirs under `data/` and `staged/` that no surviving manifest
    * version of the table references.
    */
  private def orphans(path: String, store: ManifestTableStore)
      : Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    Seq("data", "staged").flatMap { sub =>
      val d = new org.apache.hadoop.fs.Path(s"$path/$sub")
      if (!f.exists(d)) Nil
      else f.listStatus(d).toSeq.map(_.getPath)
        .filterNot(p => store.referencesDirsUnder(f, p.toUri.getPath))
        .map(p => s"$sub/${p.getName}")
    }
  }

  private def keys(store: ManifestTableStore): Set[String] =
    store.read(spark).select("k").as[String].collect().toSet

  test("8 concurrent writers + interleaved compaction: every batch " +
      "lands exactly once, nothing lost, nothing doubled") {
    val p = Files.createTempDirectory("fuzz-")
    p.toFile.deleteOnExit()
    val nWriters = 8
    val perWriter = 4
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          // one store INSTANCE per writer = per-process monitor
          val mine = new ManifestTableStore(p.toString,
            statsColumns = Seq("n"))
          (0 until perWriter).foreach { b =>
            val id = w * 100L + b
            mine.append(Seq((s"w$w-b$b", w * 1000 + b, id))
              .toDF("k", "n", "expect_id"), id)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val maintenance = new Thread(() => {
      try {
        val mine = new ManifestTableStore(p.toString,
          statsColumns = Seq("n"))
        (0 until 6).foreach { _ =>
          Thread.sleep(50)
          mine.compactSmall(spark, 1L << 30) // everything is "small"
        }
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ maintenance).foreach(_.start())
    (writers :+ maintenance).foreach(_.join(300000))
    assert(errors.isEmpty, s"unexpected failures: ${errors}")
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"))
    val rows = store.read(spark)
      .select("k", "batch_id").as[(String, Long)].collect()
    // exactly once: every (writer, batch) key exactly one row,
    // committed under its own id
    assert(rows.length == nWriters * perWriter,
      s"expected ${nWriters * perWriter} rows, got ${rows.length}")
    assert(rows.map(_._1).distinct.length == rows.length,
      "a rebase or fold duplicated a batch")
    val expectedIds =
      (for (w <- 0 until nWriters; b <- 0 until perWriter)
        yield w * 100L + b).toSet
    assert(rows.map(_._2).toSet == expectedIds,
      "batch-id attribution must survive compaction")
    // replay of any id is refused post-hoc
    store.append(Seq(("ghost", -1, 0L)).toDF("k", "n", "expect_id"), 0L)
    assert(store.read(spark).count() == nWriters * perWriter)
    // the manifest chain is complete: every version file readable
    val f = new org.apache.hadoop.fs.Path(p.toString).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val versions = f.listStatus(
      new org.apache.hadoop.fs.Path(s"$p/manifest"))
      .map(_.getPath.getName).filter(_.startsWith("v"))
      .map(_.drop(1).toLong).sorted
    assert(versions.nonEmpty && versions.last >= versions.length,
      "version numbers strictly increase")
    assert(store.history(spark).count() == versions.length,
      "every published version must be complete (end-marker present)")
  }

  test("schema DDL races writers: a RENAME mid-append-storm and a " +
      "stats refresh land exactly once; every batch survives under " +
      "the renamed column") {
    val p = Files.createTempDirectory("fuzzddl-")
    p.toFile.deleteOnExit()
    val nWriters = 6
    val perWriter = 3
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // seed so the rename has a schema to act on
    new ManifestTableStore(p.toString, statsColumns = Seq("n"))
      .append(Seq(("seed", 0, -9L)).toDF("k", "n", "expect_id"), 999L)
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val mine = new ManifestTableStore(p.toString,
            statsColumns = Seq("n"))
          (0 until perWriter).foreach { b =>
            val id = w * 100L + b
            // writers keep using whatever the CURRENT schema is: after
            // the rename lands, appends under the old name simply add
            // a padded generation the read-side coalesce resolves —
            // but here they write the renamed name once visible
            val cols = mine.read(spark).columns
            val vcol = if (cols.contains("qty")) "qty" else "n"
            mine.append(Seq((s"w$w-b$b", w * 1000 + b, id))
              .toDF("k", vcol, "expect_id"), id)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val ddl = new Thread(() => {
      try {
        val mine = new ManifestTableStore(p.toString,
          statsColumns = Seq("n"))
        Thread.sleep(30)
        mine.renameColumn(spark, "n", "qty")
        Thread.sleep(30)
        new ManifestTableStore(p.toString, statsColumns = Seq("qty"))
          .refreshStats(spark)
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ ddl).foreach(_.start())
    (writers :+ ddl).foreach(_.join(300000))
    assert(errors.isEmpty, s"unexpected failures: ${errors}")
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("qty"))
    val df = store.read(spark)
    // the rename landed exactly once and governs the read
    assert(df.columns.contains("qty") && !df.columns.contains("n"))
    // nothing lost, nothing doubled, across BOTH physical generations
    val rows = df.filter(org.apache.spark.sql.functions
        .col("expect_id") >= 0)
      .select("k", "qty", "batch_id").as[(String, Int, Long)].collect()
    assert(rows.length == nWriters * perWriter,
      s"expected ${nWriters * perWriter} rows, got ${rows.length}")
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.forall { case (k, v, _) =>
      val Array(w, b) = k.stripPrefix("w").split("-b").map(_.toInt)
      v == w * 1000 + b
    }, "every value must survive the rename under the new column")
    // the refresh left data untouched and the chain complete
    assert(store.history(spark).count() ==
      store.currentVersion(spark))
  }

  test("TRUNCATE races an append storm: it commits exactly once " +
      "(retrying its blind-replacement conflicts), the truncated " +
      "version is empty, and the final state is EXACTLY the " +
      "post-truncate insert stream") {
    val p = Files.createTempDirectory("fuzztrunc-")
    p.toFile.deleteOnExit()
    val nWriters = 6
    val perWriter = 3
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    new ManifestTableStore(p.toString, statsColumns = Seq("n"))
      .append(Seq(("seed", 0, -9L)).toDF("k", "n", "expect_id"), 999L)
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val mine = new ManifestTableStore(p.toString,
            statsColumns = Seq("n"))
          (0 until perWriter).foreach { b =>
            val id = w * 100L + b
            mine.append(Seq((s"w$w-b$b", w * 1000 + b, id))
              .toDF("k", "n", "expect_id"), id)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val truncator = new Thread(() => {
      try {
        val mine = new ManifestTableStore(p.toString,
          statsColumns = Seq("n"))
        Thread.sleep(60)
        var done = false
        while (!done)
          try { mine.truncate(spark); done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
          } // a lost race applied NOTHING — retry is safe
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ truncator).foreach(_.start())
    (writers :+ truncator).foreach(_.join(300000))
    assert(errors.isEmpty, s"unexpected failures: ${errors}")
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"))
    val cur = store.currentVersion(spark)
    // the truncate landed exactly once: precisely ONE empty version
    val emptyVersions = (1L to cur).filter(v =>
      store.readVersion(spark, v).count() == 0)
    assert(emptyVersions.size == 1,
      s"expected exactly one truncated version, got $emptyVersions")
    val tv = emptyVersions.head
    // nothing doubled; the final state is exactly the insert stream
    // SINCE the truncate (appends that lost the race rebased AFTER it)
    val finalRows = store.read(spark).select("k")
      .as[String].collect().toSet
    assert(finalRows.size == store.read(spark).count(),
      "a rebase duplicated a batch")
    val sinceTruncate = store.readChanges(spark, tv, cur)
      .select("k").as[String].collect().toSet
    assert(finalRows == sinceTruncate,
      s"final state must equal the post-truncate stream: " +
        s"${finalRows.diff(sinceTruncate)} vs " +
        s"${sinceTruncate.diff(finalRows)}")
    // the chain stayed complete through the race
    assert(store.history(spark).count() == cur)
  }

  test("REPLACE races an append storm: the redeclare commits exactly " +
      "once (blind-replacement conflicts retried), the replaced " +
      "version is empty with the DECLARED schema, and the final " +
      "state is exactly the post-replace insert stream") {
    val p = Files.createTempDirectory("fuzzreplace-")
    p.toFile.deleteOnExit()
    val nWriters = 6
    val perWriter = 3
    val errors =
      new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    new ManifestTableStore(p.toString, statsColumns = Seq("n"))
      .append(Seq(("seed", 0, -9L)).toDF("k", "n", "expect_id"), 999L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("expect_id",
        org.apache.spark.sql.types.LongType)))
    val writers = (0 until nWriters).map { w =>
      new Thread(() => {
        try {
          val mine = new ManifestTableStore(p.toString,
            statsColumns = Seq("n"))
          (0 until perWriter).foreach { b =>
            val id = w * 100L + b
            mine.append(Seq((s"w$w-b$b", w * 1000 + b, id))
              .toDF("k", "n", "expect_id"), id)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    val replacer = new Thread(() => {
      try {
        val mine = new ManifestTableStore(p.toString,
          statsColumns = Seq("n"))
        Thread.sleep(60)
        var done = false
        while (!done)
          try { mine.replaceSchema(spark, schema, Nil); done = true }
          catch {
            case _: java.util.ConcurrentModificationException =>
          } // a lost race applied NOTHING — retry is safe
      } catch { case t: Throwable => errors.add(t) }
    })
    (writers :+ replacer).foreach(_.start())
    (writers :+ replacer).foreach(_.join(300000))
    assert(errors.isEmpty, s"unexpected failures: ${errors}")
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"))
    val cur = store.currentVersion(spark)
    val emptyVersions = (1L to cur).filter(v =>
      store.readVersion(spark, v).count() == 0)
    assert(emptyVersions.size == 1,
      s"expected exactly one replaced version, got $emptyVersions")
    val rv = emptyVersions.head
    assert(store.readVersion(spark, rv).schema.fieldNames.toSet
      == Set("k", "n", "expect_id", "batch_id"),
      "the replaced version serves the DECLARED schema")
    val finalRows = store.read(spark).select("k")
      .as[String].collect().toSet
    assert(finalRows.size == store.read(spark).count(),
      "a rebase duplicated a batch")
    val sinceReplace = store.readChanges(spark, rv, cur)
      .select("k").as[String].collect().toSet
    assert(finalRows == sinceReplace,
      s"final state must equal the post-replace stream: " +
        s"${finalRows.diff(sinceReplace)} vs " +
        s"${sinceReplace.diff(finalRows)}")
    assert(store.history(spark).count() == cur)
  }

  test("idempotent append loses a race: it rebases on the winner, a " +
      "replay racing its original converges, and the loser's dir is " +
      "deleted") {
    val (p, mine, rival) = raced()
    val rebased = loseNextCommit(mine) {
      rival.append(Seq(("c", 3)).toDF("k", "n"), 2L)
    }
    mine.append(Seq(("d", 4)).toDF("k", "n"), 3L)
    assert(rebased())
    assert(keys(mine) == Set("a", "b", "c", "d"))
    val converged = loseNextCommit(mine) {
      rival.append(Seq(("e", 5)).toDF("k", "n"), 4L)
    }
    mine.append(Seq(("e-replay", 5)).toDF("k", "n"), 4L)
    assert(converged())
    assert(keys(mine) == Set("a", "b", "c", "d", "e"),
      "the winner's batch 4 stands; the replay added nothing")
    assert(mine.currentVersion(spark) == 5L)
    assert(orphans(p, mine).isEmpty, orphans(p, mine))
  }

  test("schema markers re-validate on the winner: a racing identical " +
      "widen converges, a racing rename refuses, and neither leaves " +
      "its marker behind") {
    val (p, mine, rival) = raced()
    val widened = loseNextCommit(mine) {
      rival.widenColumn(spark, "n", org.apache.spark.sql.types.LongType)
    }
    mine.widenColumn(spark, "n", org.apache.spark.sql.types.LongType)
    assert(widened())
    val renamed = loseNextCommit(mine) {
      rival.renameColumn(spark, "n", "qty")
    }
    intercept[IllegalArgumentException] {
      mine.renameColumn(spark, "n", "qty")
    }
    assert(renamed())
    assert(mine.currentVersion(spark) == 4L)
    assert(mine.read(spark).schema("qty").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(orphans(p, mine).isEmpty, orphans(p, mine))
  }

  test("a publish that converges on a competitor's publish of the SAME " +
      "staged dir keeps that dir") {
    val (p, mine, rival) = raced()
    val staged = mine.stage(Seq(("s", 7)).toDF("k", "n"), 5L)
    val fired = loseNextCommit(mine) {
      rival.publishStaged(spark, staged, 5L)
    }
    mine.publishStaged(spark, staged, 5L)
    assert(fired())
    assert(keys(mine) == Set("a", "b", "s"))
    assert(orphans(p, mine).isEmpty, orphans(p, mine))
  }

  test("blind replace loses a race: overwrite, TRUNCATE and REPLACE " +
      "throw, apply nothing, and delete what they wrote") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k STRING, n INT")
    Seq[(String, ManifestTableStore => Unit)](
      "overwrite" -> (_.overwrite(Seq(("z", 9)).toDF("k", "n"), 7L)),
      "TRUNCATE" -> (_.truncate(spark)),
      "REPLACE" -> (_.replaceSchema(spark, schema, Nil))
    ).foreach { case (name, op) =>
      val (p, mine, rival) = raced()
      val fired = loseNextCommit(mine) {
        rival.append(Seq(("c", 3)).toDF("k", "n"), 2L)
      }
      intercept[java.util.ConcurrentModificationException](op(mine))
      assert(fired(), name)
      assert(mine.currentVersion(spark) == 3L, name)
      assert(keys(mine) == Set("a", "b", "c"), name)
      assert(orphans(p, mine).isEmpty, s"$name: ${orphans(p, mine)}")
    }
  }

  test("a compaction racing a compaction is a no-op that deletes what " +
      "it wrote") {
    Seq[(String, ManifestTableStore => Boolean)](
      "compact" -> (_.compact(spark)),
      "compactSmall" -> (_.compactSmall(spark, 1L << 30)),
      "compactClustered" -> (_.compactClustered(spark, "n", 2)),
      "compactZOrder" -> (_.compactZOrder(spark, Seq("n"), 2))
    ).foreach { case (name, op) =>
      val (p, mine, rival) = raced()
      val fired = loseNextCommit(mine)(rival.compact(spark))
      assert(!op(mine), s"$name reported a publish")
      assert(fired(), name)
      assert(mine.currentVersion(spark) == 3L,
        s"$name published over the rival's compaction")
      assert(keys(mine) == Set("a", "b"), name)
      assert(orphans(p, mine).isEmpty, s"$name: ${orphans(p, mine)}")
    }
  }

  test("DML racing a compaction throws, applies nothing, and deletes " +
      "what it wrote") {
    Seq[(String, ManifestTableStore => Unit)](
      "delete" -> (_.delete(spark, "n >= 2")),
      "update" -> (_.update(spark, "n = 1",
        Map("n" -> org.apache.spark.sql.functions.lit(10)))),
      "merge" -> (_.merge(spark, Seq(("b", 20)).toDF("k", "n"), "k", 5L)),
      // keyed on the stats column: one rewritten dir per touched dir
      "merge per dir" ->
        (_.merge(spark, Seq(("b", 2)).toDF("k", "n"), "n", 5L)),
      "mergeClauses" -> (_.mergeClauses(spark,
        Seq(("b", 20), ("c", 3)).toDF("k", "n"), "k",
        matched = Seq(ManifestTableStore.UpdateClause(None, None)),
        notMatched = Seq(ManifestTableStore.InsertClause(None, None)),
        bySource = Nil, batchId = 5L)),
      "rewrite" -> (_.rewrite(spark, 5L)(_.filter("n >= 2")))
    ).foreach { case (name, op) =>
      val (p, mine, rival) = raced()
      val fired = loseNextCommit(mine)(rival.compact(spark))
      intercept[java.util.ConcurrentModificationException](op(mine))
      assert(fired(), name)
      assert(mine.currentVersion(spark) == 3L, name)
      assert(mine.read(spark).select("k", "n").as[(String, Int)]
        .collect().toSet == Set(("a", 1), ("b", 2)), name)
      assert(orphans(p, mine).isEmpty, s"$name: ${orphans(p, mine)}")
    }
  }

  test("a delete fold racing a compaction throws, applies nothing, and " +
      "deletes what it wrote") {
    val (p, mine, _) = raced()
    val mor = new ManifestTableStore(p, statsColumns = Seq("n"),
      morDeleteKey = Some("k"))
    mor.deleteMoR(spark, "k = 'a'", "k")
    val fired = loseNextCommit(mor)(mine.compact(spark))
    intercept[java.util.ConcurrentModificationException](
      mor.compactDeletes(spark))
    assert(fired())
    assert(mor.currentVersion(spark) == 4L)
    assert(keys(mor) == Set("b"), "the rival's compaction folded the delete")
    assert(orphans(p, mor).isEmpty, orphans(p, mor))
  }

  test("a rewrite whose second write throws deletes the dir its first " +
      "write left and publishes nothing") {
    val p = Files.createTempDirectory("throwing-rewrite-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString)
    store.append(Seq(("a", 5)).toDF("k", "n"), 0L)
    store.append(Seq(("b", 1)).toDF("k", "n"), 1L)
    store.addCheck(spark, "pos", "n >= 0")
    assert(store.currentVersion(spark) == 2L)
    // a: 5 -> 3 is written; b: 1 -> -1 fails the check
    val e = intercept[IllegalArgumentException](store.update(spark,
      "n >= 1", Map("n" -> (org.apache.spark.sql.functions.col("n") - 2))))
    assert(e.getMessage.contains("pos"), e.getMessage)
    assert(store.currentVersion(spark) == 2L)
    assert(store.read(spark).select("k", "n").as[(String, Int)]
      .collect().toSet == Set(("a", 5), ("b", 1)))
    assert(orphans(p.toString, store).isEmpty, orphans(p.toString, store))
  }
}
