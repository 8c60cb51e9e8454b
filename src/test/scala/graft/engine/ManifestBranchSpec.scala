package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Branches (Iceberg writable refs): a whole multi-commit pipeline run
  * — appends, row-level DML, anything the store does — staged on a
  * second manifest chain, invisible to main readers, then published by
  * ONE atomic fast-forward. WAP stages a batch; a branch stages a run.
  */
class ManifestBranchSpec extends SparkSpec {

  import spark.implicits._

  private def newStore(): (String, ManifestTableStore) = {
    val p = Files.createTempDirectory("branch-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"))
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L) // v1
    (p.toString, store)
  }

  private def state(s: ManifestTableStore): Set[(String, Int)] =
    s.read(spark).select("k", "n").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet

  test("a branch stages appends AND row-level DML invisibly; " +
      "fast-forward publishes the whole run as one main commit, " +
      "with batch-id replay refusal surviving the publish") {
    val (_, store) = newStore()
    store.createBranch(spark, "audit", 1L)
    val br = store.branch("audit")
    // a multi-commit run on the branch: two appends + a CoW delete
    br.append(Seq(("c", 3), ("d", -4)).toDF("k", "n"), 1L)
    br.append(Seq(("e", 5)).toDF("k", "n"), 2L)
    br.delete(spark, "n < 0") // the audit catches d
    assert(state(br) == Set(("a", 1), ("b", 2), ("c", 3), ("e", 5)))
    // main saw NONE of it
    assert(state(store) == Set(("a", 1), ("b", 2)))
    assert(store.currentVersion(spark) == 1L)
    // one atomic publish
    store.fastForward(spark, "audit")
    assert(store.currentVersion(spark) == 2L)
    assert(state(store) == Set(("a", 1), ("b", 2), ("c", 3), ("e", 5)))
    // the published batch ids are main history now: replay refused
    store.append(Seq(("ghost", 9)).toDF("k", "n"), 2L)
    assert(state(store) == Set(("a", 1), ("b", 2), ("c", 3), ("e", 5)))
    // an already-published branch fast-forwards only from the SAME
    // base: main moved to the branch head, so a second publish refuses
    intercept[IllegalArgumentException] {
      store.fastForward(spark, "audit")
    }
  }

  test("fast-forward refuses when main advanced past the branch point " +
      "— publishing would silently drop main's commits") {
    val (_, store) = newStore()
    store.createBranch(spark, "stale", 1L)
    store.branch("stale").append(Seq(("x", 10)).toDF("k", "n"), 5L)
    store.append(Seq(("m", 7)).toDF("k", "n"), 1L) // main moves on
    intercept[IllegalArgumentException] {
      store.fastForward(spark, "stale")
    }
    // nothing was lost on either ref
    assert(state(store) == Set(("a", 1), ("b", 2), ("m", 7)))
    assert(state(store.branch("stale"))
      == Set(("a", 1), ("b", 2), ("x", 10)))
  }

  test("fast-forward tolerates MAINTENANCE on main (ancestry, not " +
      "byte-equality): compaction carries batch ids and content, so " +
      "the publish proceeds; row-level DML on main still refuses") {
    val (_, store) = newStore()
    store.createBranch(spark, "run", 1L)
    store.branch("run").append(Seq(("x", 10)).toDF("k", "n"), 5L)
    // routine maintenance moves main's dirs but no logical commit
    store.compact(spark)
    store.fastForward(spark, "run")
    assert(state(store) == Set(("a", 1), ("b", 2), ("x", 10)))
    // but a DML rewrite on main is a REAL commit: same batch ids,
    // changed content — publishing over it would silently undo it
    val (_, store2) = newStore()
    store2.createBranch(spark, "run2", 1L)
    store2.branch("run2").append(Seq(("y", 11)).toDF("k", "n"), 5L)
    store2.delete(spark, "k = 'a'")
    intercept[IllegalArgumentException] {
      store2.fastForward(spark, "run2")
    }
    assert(state(store2) == Set(("b", 2))) // the delete survived
    // and a merge-on-read delete entry on main refuses the same way
    val p3 = java.nio.file.Files.createTempDirectory("branch3-")
    p3.toFile.deleteOnExit()
    val store3 = new ManifestTableStore(p3.toString,
      statsColumns = Seq("n"), morDeleteKey = Some("k"))
    store3.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
    store3.createBranch(spark, "run3", 1L)
    store3.branch("run3").append(Seq(("z", 12)).toDF("k", "n"), 5L)
    store3.deleteMoR(spark, "k = 'a'", "k")
    intercept[IllegalArgumentException] {
      store3.fastForward(spark, "run3")
    }
    assert(state(store3) == Set(("b", 2)))
  }

  test("fast-forward over each rewrite op on main: accepted after the " +
      "maintenance kinds, refused after the DML kinds") {
    Seq[(String, Boolean, ManifestTableStore => Unit)](
      ("compactSmall", true, _.compactSmall(spark, 1L << 30)),
      ("compactClustered", true, _.compactClustered(spark, "n", 2)),
      ("compactZOrder", true, _.compactZOrder(spark, Seq("n"), 2)),
      ("update", false, _.update(spark, "n = 1", Map("n" -> lit(10)))),
      ("merge", false,
        _.merge(spark, Seq(("b", 20)).toDF("k", "n"), "k", 7L)),
      ("compactDeletes", false, { s =>
        s.deleteMoR(spark, "k = 'a'", "k")
        s.compactDeletes(spark)
      })
    ).foreach { case (name, accepted, op) =>
      val p = Files.createTempDirectory("branch-ff-")
      p.toFile.deleteOnExit()
      val store = new ManifestTableStore(p.toString,
        statsColumns = Seq("n"), morDeleteKey = Some("k"))
      store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L)
      store.append(Seq(("c", 3)).toDF("k", "n"), 1L)
      store.createBranch(spark, "run", 2L)
      store.branch("run").append(Seq(("x", 10)).toDF("k", "n"), 5L)
      val v = store.currentVersion(spark)
      op(store)
      assert(store.currentVersion(spark) > v, s"$name did not commit")
      if (accepted) {
        store.fastForward(spark, "run")
        assert(state(store) == Set(("a", 1), ("b", 2), ("c", 3),
          ("x", 10)), name)
      } else {
        val before = state(store)
        intercept[IllegalArgumentException](
          store.fastForward(spark, "run"))
        assert(state(store) == before, name)
      }
    }
  }

  test("main vacuum retains branch-head data (ref-retention); " +
      "dropBranch releases it for the next vacuum") {
    val (path, store) = newStore()
    store.createBranch(spark, "wip", 1L)
    store.branch("wip").append(Seq(("z", 26)).toDF("k", "n"), 1L)
    // churn main far past retention
    store.append(Seq(("m", 7)).toDF("k", "n"), 2L)
    store.compact(spark)
    Thread.sleep(50)
    store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    // the branch-only dir (batch-1-*) survived main's vacuum
    assert(state(store.branch("wip"))
      == Set(("a", 1), ("b", 2), ("z", 26)))
    store.dropBranch(spark, "wip")
    Thread.sleep(50)
    val reclaimed = store.vacuum(spark, retainLast = 0, minAgeMs = 0L)
    assert(reclaimed.exists(_.contains("batch-1-")),
      s"expected the branch-only dir reclaimed, got $reclaimed")
    assert(state(store) == Set(("a", 1), ("b", 2), ("m", 7)))
  }

  test("a STREAMING ingestion run stages into a branch (the audit-" +
      "branch pattern end-to-end): main readers see nothing until the " +
      "run fast-forwards") {
    // the seed uses batch id 0 and the stream's first micro-batch is
    // also id 0 — they must NOT collide: StreamRunner scopes its ids
    // through writerBase (Delta's txn-writer idea), so the streamed
    // batch lands under its own namespace
    val (_, store) = newStore()
    store.createBranch(spark, "ingest", 1L)
    val src = Files.createTempDirectory("branch-src-")
    Files.writeString(src.resolve("a.json"),
      """{"id": 7, "ip": "10.0.0.7", "hostName": "h7"}""")
    // the real streaming bronze→silver path, appending to the BRANCH
    StreamRunner.runAvailableNow(spark,
      Seq((SourceSpec.rapid7, src.toString,
        Files.createTempDirectory("branch-ckpt-").toString)),
      store.branch("ingest"))
    // main: untouched; branch: base rows + the streamed silver batch
    assert(store.read(spark).count() == 2)
    assert(store.currentVersion(spark) == 1L)
    val br = store.branch("ingest")
    assert(br.read(spark).count() == 3)
    assert(br.read(spark).schema.fieldNames.contains("rapid7_id"))
    store.fastForward(spark, "ingest")
    assert(store.read(spark).count() == 3)
    assert(store.read(spark).filter(col("rapid7_id") === "7").count() == 1)
  }

  test("SQL-text DML composes with branches: StoreSql statements run " +
      "against a branch handle, staged until fast-forward") {
    val (_, store) = newStore()
    store.createBranch(spark, "sqlrun", 1L)
    val br = store.branch("sqlrun")
    val t = Map("t" -> br)
    StoreSql.exec(spark, t, "INSERT INTO t VALUES ('c', 3)",
      batchId = Some(1L))
    StoreSql.exec(spark, t,
      "UPDATE t SET n = n * 10 WHERE k = 'a'")
    StoreSql.exec(spark, t, "DELETE FROM t WHERE k = 'b'")
    // main still at the branch point
    assert(state(store) == Set(("a", 1), ("b", 2)))
    assert(state(br) == Set(("a", 10), ("c", 3)))
    store.fastForward(spark, "sqlrun")
    assert(state(store) == Set(("a", 10), ("c", 3)))
  }

  test("ref operations are main-only: a branch handle refuses vacuum, " +
      "tag, and nested branching; duplicate/unknown branches refused") {
    val (_, store) = newStore()
    store.createBranch(spark, "b1", 1L)
    assert(store.listBranches(spark) == Seq("b1"))
    val br = store.branch("b1")
    intercept[IllegalArgumentException] { br.vacuum(spark) }
    intercept[IllegalArgumentException] { br.tag(spark, "t", 1L) }
    intercept[IllegalArgumentException] {
      br.createBranch(spark, "b2", 1L)
    }
    intercept[IllegalArgumentException] {
      store.createBranch(spark, "b1", 1L) // duplicate
    }
    intercept[IllegalArgumentException] {
      store.createBranch(spark, "b3", 99L) // missing base version
    }
    intercept[IllegalArgumentException] {
      store.fastForward(spark, "never-made")
    }
    intercept[IllegalArgumentException] {
      store.dropBranch(spark, "never-made")
    }
  }
}
