package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Attribution rules of the FULL change feed
  * ([[ManifestTableStore.readChangeFeed]]): inserts for new batches,
  * deletes for retirements (CoW and merge-on-read), delete+insert
  * pairs for updates, and NOTHING for pure maintenance rewrites.
  */
class StoreCdfSpec extends SparkSpec {

  import spark.implicits._

  private def mkStore(mor: Option[String] = None): ManifestTableStore = {
    val p = Files.createTempDirectory("cdf-")
    p.toFile.deleteOnExit()
    val store = new ManifestTableStore(p.toString,
      statsColumns = Seq("n"), morDeleteKey = mor)
    store.append(Seq(("a", 1), ("b", 2)).toDF("k", "n"), 0L) // v1
    store.append(Seq(("c", 3), ("d", 4)).toDF("k", "n"), 1L) // v2
    store
  }

  private def feed(store: ManifestTableStore, from: Long,
      to: Long): Set[(String, String, Int)] =
    store.readChangeFeed(spark, from, to)
      .select("_change_type", "k", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("appends attribute as inserts; from=0 means since creation") {
    val store = mkStore()
    assert(feed(store, 1, 2) ==
      Set(("insert", "c", 3), ("insert", "d", 4)))
    assert(feed(store, 0, 2) == Set(("insert", "a", 1),
      ("insert", "b", 2), ("insert", "c", 3), ("insert", "d", 4)))
  }

  test("an append-only window serves exactly its new batches' rows as " +
      "inserts with no multiset diff or shuffle in the plan; a rewrite " +
      "window still diffs to delete+insert pairs") {
    import org.apache.spark.sql.catalyst.plans.logical.Except
    val store = mkStore()
    store.append(Seq(("c", 3), ("e", 5)).toDF("k", "n"), 2L) // v3
    val appended = store.readChangeFeed(spark, 1, 3)
    // a duplicate of an older row stays: the window's rows as a multiset
    assert(appended.select("_change_type", "k", "n")
      .as[(String, String, Int)].collect().toSeq.sorted ==
      Seq(("insert", "c", 3), ("insert", "c", 3), ("insert", "d", 4),
        ("insert", "e", 5)))
    val qe = appended.queryExecution
    assert(qe.analyzed.collect { case e: Except => e }.isEmpty,
      qe.analyzed.treeString)
    assert("""(?<!Broadcast)Exchange""".r
      .findFirstIn(qe.executedPlan.toString).isEmpty,
      qe.executedPlan.toString)
    store.update(spark, "k = 'e'", Map("n" -> lit(50))) // v4
    val rewritten = store.readChangeFeed(spark, 3, 4)
    assert(rewritten.queryExecution.analyzed
      .collect { case e: Except => e }.nonEmpty)
    assert(rewritten.select("_change_type", "k", "n")
      .as[(String, String, Int)].collect().toSet ==
      Set(("delete", "e", 5), ("insert", "e", 50)))
  }

  test("a window that leaves no row of its affected batches (TRUNCATE) " +
      "serves the old rows as deletes with no multiset diff") {
    import org.apache.spark.sql.catalyst.plans.logical.Except
    val store = mkStore()
    store.truncate(spark) // v3
    val gone = store.readChangeFeed(spark, 2, 3)
    assert(gone.select("_change_type", "k", "n")
      .as[(String, String, Int)].collect().toSeq.sorted ==
      Seq(("delete", "a", 1), ("delete", "b", 2), ("delete", "c", 3),
        ("delete", "d", 4)))
    assert(gone.queryExecution.analyzed.collect { case e: Except => e }
      .isEmpty, gone.queryExecution.analyzed.treeString)
  }

  test("a pure maintenance rewrite (compact) emits an EMPTY feed — " +
      "batch attribution survives reorganization") {
    val store = mkStore()
    store.compact(spark) // v3: same rows, new dir, ids carried
    assert(feed(store, 2, 3) == Set.empty)
    // and the window spanning append + compact still reports only the
    // append's rows, once
    assert(feed(store, 1, 3) ==
      Set(("insert", "c", 3), ("insert", "d", 4)))
  }

  test("a CoW DELETE attributes the removed rows as deletes") {
    val store = mkStore()
    store.delete(spark, "n >= 3") // v3 rewrites the (c,d) dir
    assert(feed(store, 2, 3) ==
      Set(("delete", "c", 3), ("delete", "d", 4)))
  }

  test("a merge-on-read DELETE attributes the masked rows as deletes " +
      "(reconstructed from sequence-scoped delete entries)") {
    val store = mkStore(mor = Some("k"))
    store.deleteMoR(spark, "n IN (2, 3)", "k") // v3: one delete file
    assert(feed(store, 2, 3) ==
      Set(("delete", "b", 2), ("delete", "c", 3)))
    // rows appended AFTER the delete are outside its scope: inserts
    store.append(Seq(("b", 20)).toDF("k", "n"), 2L) // v4
    assert(feed(store, 3, 4) == Set(("insert", "b", 20)))
  }

  test("a CoW UPDATE attributes as a delete(preimage) + " +
      "insert(postimage) pair") {
    val store = mkStore()
    store.update(spark, "k = 'a'", Map("n" -> lit(100)))
    val v = store.currentVersion(spark)
    assert(feed(store, v - 1, v) ==
      Set(("delete", "a", 1), ("insert", "a", 100)))
  }

  test("a general merge window carries the full story: replaced rows " +
      "as delete+insert, fresh keys as insert, matched-deletes as " +
      "delete") {
    val store = mkStore()
    store.mergeClauses(spark,
      Seq(("b", 20), ("c", -1), ("e", 5)).toDF("k", "n"), "k",
      matched = Seq(
        ManifestTableStore.DeleteClause(Some("__src_n < 0")),
        ManifestTableStore.UpdateClause(None,
          Some(Seq("n" -> "__src_n")))),
      notMatched = Seq(ManifestTableStore.InsertClause(None, None)),
      bySource = Nil, batchId = 2L)
    val v = store.currentVersion(spark)
    assert(feed(store, v - 1, v) == Set(
      ("delete", "b", 2), ("insert", "b", 20), // updated
      ("delete", "c", 3),                      // matched-delete
      ("insert", "e", 5)))                     // fresh key
  }

  test("readChanges stays the pure insert stream; the full feed's " +
      "insert slice agrees with it on an append-only window") {
    val store = mkStore()
    val ins = store.readChanges(spark, 1, 2)
      .select("k", "n").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(ins == Set(("c", 3), ("d", 4)))
    assert(feed(store, 1, 2).map(t => (t._2, t._3)) == ins)
  }

  test("unknown versions refuse; an empty-to-empty window refuses") {
    val store = mkStore()
    intercept[IllegalArgumentException] {
      store.readChangeFeed(spark, 1, 99).collect()
    }
    intercept[IllegalArgumentException] {
      store.readChangeFeed(spark, 0, 0)
    }
  }

  test("an UNCHANGED window (from == to on a non-empty table) is an " +
      "empty feed in the end-version's schema, not an exception") {
    val store = mkStore()
    val v = store.currentVersion(spark)
    val f = store.readChangeFeed(spark, v, v)
    assert(f.columns.contains("_change_type"))
    assert(f.count() == 0, "nothing changed, nothing may report")
  }

  test("a metadata-only ADD COLUMNS window is an EMPTY feed in the " +
      "full end schema — the add marker must not masquerade as an " +
      "insert batch (its dir holds only the new column + batch_id)") {
    val store = mkStore()
    val v = store.currentVersion(spark)
    store.addColumns(spark,
      Seq("extra" -> org.apache.spark.sql.types.LongType))
    // insert stream: zero rows, EVERY column (pre-existing k/n AND the
    // added one) — not a k/n-less frame built from the marker dir alone
    val ins = store.readChanges(spark, v, v + 1)
    assert(ins.count() == 0, "a marker commit contributes no rows")
    assert(Set("k", "n", "extra").subsetOf(ins.columns.toSet),
      s"insert stream lost data columns: ${ins.columns.mkString(",")}")
    // full feed: same contract
    val f = store.readChangeFeed(spark, v, v + 1)
    assert(f.count() == 0)
    assert(Set("k", "n", "extra").subsetOf(f.columns.toSet),
      s"change feed lost data columns: ${f.columns.mkString(",")}")
  }

  test("a MIXED window (ADD COLUMNS + an append that does not carry " +
      "the new column) still speaks the full end schema — the marker " +
      "dir is the column's only physical holder") {
    val store = mkStore()
    val v = store.currentVersion(spark)
    store.addColumns(spark,
      Seq("extra" -> org.apache.spark.sql.types.LongType))
    store.append(Seq(("e", 5)).toDF("k", "n"), 7L)
    val ins = store.readChanges(spark, v, v + 2)
    assert(Set("k", "n", "extra").subsetOf(ins.columns.toSet),
      s"insert stream lost the added column: ${ins.columns.mkString(",")}")
    val rows = ins.select("k", "n").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(rows == Set(("e", 5)), "exactly the appended row")
    val f = store.readChangeFeed(spark, v, v + 2)
    assert(Set("k", "n", "extra").subsetOf(f.columns.toSet),
      s"change feed lost the added column: ${f.columns.mkString(",")}")
    assert(f.select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("insert", "e")))
  }
}
