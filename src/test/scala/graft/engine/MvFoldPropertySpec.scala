package graft.engine

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property law for the MV retraction fold (VERDICT r15 item 6): for
  * RANDOM insert/delete/update sequences over a store source, the
  * REFRESH-maintained backing serves exactly what a full recompute of
  * the definition serves — for every agg family the fold supports
  * (COUNT/SUM/AVG and their nullable accumulators), including all-null
  * groups (SUM must serve NULL, not 0), NULL group keys and emptied
  * groups (both fold like any other group), and MIN/MAX shapes (delete
  * windows take the group-bounded recompute). Content equality after
  * every refresh corners environment-borne divergence the targeted
  * specs can't enumerate. The mode law rides along: every refresh is
  * `incremental` or `current`, except that the refresh right after one
  * that left the view EMPTY may recompute
  * (`full:backing empty at a non-zero window start` — an empty backing
  * past window start zero reads as a crashed full refresh).
  *
  * Raw ScalaCheck generators over a fixed seed sweep (the
  * scalatest-scalacheck bridge artifact is not in the offline cache).
  */
class MvFoldPropertySpec extends SparkSpec {

  private def freshCat(): StoreCatalog = {
    val p = Files.createTempDirectory("mvfold-")
    p.toFile.deleteOnExit()
    new StoreCatalog(p.toString)
  }

  private sealed trait Op
  private case class Ins(rows: Seq[(Option[String], Option[Long])])
      extends Op
  private case class Del(mod: Long) extends Op
  private case class DelNull() extends Op
  private case class Upd(mod: Long, delta: Long) extends Op

  private val keyGen: Gen[Option[String]] =
    Gen.frequency(5 -> Gen.oneOf("a", "b", "c").map(Option(_)),
      1 -> Gen.const(None))
  private val valGen: Gen[Option[Long]] =
    Gen.frequency(6 -> Gen.choose(-50L, 50L).map(Option(_)),
      1 -> Gen.const(None))
  private val insGen: Gen[Op] = Gen.choose(1, 4)
    .flatMap(n => Gen.listOfN(n, Gen.zip(keyGen, valGen)))
    .map(rs => Ins(rs))
  private val opGen: Gen[Op] = Gen.frequency(
    4 -> insGen,
    2 -> Gen.choose(0L, 2L).map(Del(_)),
    1 -> Gen.const(DelNull()),
    2 -> Gen.zip(Gen.choose(0L, 2L), Gen.choose(-7L, 7L))
      .map { case (m, d) => Upd(m, d) })

  /** The mode law; `emptied` = the previous refresh left the view
    * empty.
    */
  private def assertMode(mode: String, emptied: Boolean,
      after: String): Unit =
    assert(mode == "incremental" || mode == "current" ||
      (emptied && mode == "full:backing empty at a non-zero window start"),
      s"after $after: mode $mode")

  private def lit(v: Option[Any]): String =
    v.fold("NULL")(x => x match {
      case s: String => s"'$s'"
      case other => other.toString
    })

  private def runSequence(ops: Seq[Op], defn: String,
      served: String): Unit = {
    val cat = freshCat()
    cat.exec(spark,
      "CREATE TABLE src (k STRING, v BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO src VALUES ('a', 1), ('b', NULL), ('c', 10)",
      batchId = Some(0L))
    cat.exec(spark, s"CREATE MATERIALIZED VIEW m AS $defn",
      batchId = Some(100L))
    var bid = 1L
    var emptied = false
    ops.foreach { op =>
      op match {
        case Ins(rows) =>
          val values = rows
            .map { case (k, v) => s"(${lit(k)}, ${lit(v)})" }
            .mkString(", ")
          cat.exec(spark, s"INSERT INTO src VALUES $values",
            batchId = Some(bid))
          bid += 1
        case Del(m) =>
          cat.exec(spark, s"DELETE FROM src WHERE v % 3 = $m")
        case DelNull() =>
          cat.exec(spark, "DELETE FROM src WHERE v IS NULL")
        case Upd(m, d) =>
          cat.exec(spark,
            s"UPDATE src SET v = v + $d WHERE v % 3 = $m")
      }
      val mode = cat.exec(spark, "REFRESH MATERIALIZED VIEW m")
        .head().getString(0)
      val got = cat.query(spark, served).collect()
        .map(_.toSeq.map(Option(_))).toSeq.sortBy(_.toString)
      val want = cat.query(spark, defn).collect()
        .map(_.toSeq.map(Option(_))).toSeq.sortBy(_.toString)
      assert(got == want,
        s"after $op:\n  served=$got\n  recompute=$want")
      assertMode(mode, emptied, op.toString)
      emptied = got.isEmpty
    }
  }

  private def sweep(defn: String, served: String, seeds: Int): Unit =
    (0 until seeds).foreach { i =>
      val ops = Gen.listOfN(5, opGen)
        .apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(Nil)
      runSequence(ops, defn, served)
    }

  test("retractable COUNT/SUM/AVG fold == full recompute under " +
      "random insert/delete/update sequences (null keys, null " +
      "values, emptied groups included)") {
    sweep(
      "SELECT k, COUNT(*) AS cnt, COUNT(v) AS cv, SUM(v) AS total, " +
        "AVG(v) AS m FROM src GROUP BY k",
      "SELECT k, cnt, cv, total, m FROM m", seeds = 4)
  }

  test("MIN/MAX shapes stay exact under delete windows (full or " +
      "group-bounded recompute — mode free, content law fixed)") {
    sweep(
      "SELECT k, COUNT(*) AS cnt, MIN(v) AS lo, MAX(v) AS hi, " +
        "SUM(v) AS total FROM src GROUP BY k",
      "SELECT k, cnt, lo, hi, total FROM m", seeds = 3)
  }

  /** The union law: random DML against EITHER source of an
    * aggregate over `SELECT k, v FROM sa UNION ALL SELECT k, v FROM sb
    * WHERE …`, content equal to the recompute after every refresh.
    */
  private def unionSweep(aggs: String, served: String,
      seeds: Int): Unit = {
    val defn = s"SELECT k, $aggs FROM (" +
      "SELECT k, v FROM sa UNION ALL " +
      "SELECT k, v FROM sb WHERE v IS NULL OR v % 2 = 0) GROUP BY k"
    (0 until seeds).foreach { i =>
      val ops = Gen.listOfN(5, Gen.zip(Gen.oneOf("sa", "sb"), opGen))
        .apply(Gen.Parameters.default, Seed(1000L + i))
        .getOrElse(Nil)
      val cat = freshCat()
      Seq("sa", "sb").foreach(t => cat.exec(spark,
        s"CREATE TABLE $t (k STRING, v BIGINT) USING graft_store"))
      cat.exec(spark,
        "INSERT INTO sa VALUES ('a', 1), ('b', NULL)",
        batchId = Some(0L))
      cat.exec(spark,
        "INSERT INTO sb VALUES ('a', 4), ('c', 10)",
        batchId = Some(0L))
      cat.exec(spark, s"CREATE MATERIALIZED VIEW mu AS $defn",
        batchId = Some(100L))
      var bid = 1L
      var emptied = false
      ops.foreach { case (t, op) =>
        op match {
          case Ins(rows) =>
            val values = rows
              .map { case (k, v) => s"(${lit(k)}, ${lit(v)})" }
              .mkString(", ")
            cat.exec(spark, s"INSERT INTO $t VALUES $values",
              batchId = Some(bid))
            bid += 1
          case Del(m) =>
            cat.exec(spark, s"DELETE FROM $t WHERE v % 3 = $m")
          case DelNull() =>
            cat.exec(spark, s"DELETE FROM $t WHERE v IS NULL")
          case Upd(m, d) =>
            cat.exec(spark,
              s"UPDATE $t SET v = v + $d WHERE v % 3 = $m")
        }
        val mode = cat.exec(spark, "REFRESH MATERIALIZED VIEW mu")
          .head().getString(0)
        val got = cat.query(spark, s"SELECT $served FROM mu").collect()
          .map(_.toSeq.map(Option(_))).toSeq.sortBy(_.toString)
        val want = cat.query(spark, defn).collect()
          .map(_.toSeq.map(Option(_))).toSeq.sortBy(_.toString)
        assert(got == want,
          s"after $op on $t:\n  served=$got\n  recompute=$want")
        assertMode(mode, emptied, s"$op on $t")
        emptied = got.isEmpty
      }
    }
  }

  test("aggregate-over-UNION-ALL fold == full recompute under random " +
      "insert/delete/update sequences against EITHER source") {
    unionSweep("COUNT(*) AS cnt, COUNT(v) AS cv, SUM(v) AS total, " +
      "AVG(v) AS m", "k, cnt, cv, total, m", seeds = 3)
  }

  test("MIN/MAX over UNION ALL stay exact under delete windows on " +
      "either source (group-bounded recompute through every leg — " +
      "mode free, content law fixed)") {
    unionSweep("COUNT(*) AS cnt, MIN(v) AS lo, MAX(v) AS hi, " +
      "SUM(v) AS total", "k, cnt, lo, hi, total", seeds = 3)
  }

  test("sum serves NULL (not 0) when the last non-null value leaves") {
    val cat = freshCat()
    cat.exec(spark,
      "CREATE TABLE src (k STRING, v BIGINT) USING graft_store")
    cat.exec(spark,
      "INSERT INTO src VALUES ('a', 5), ('a', NULL), ('b', 1)",
      batchId = Some(0L))
    cat.exec(spark, "CREATE MATERIALIZED VIEW m AS " +
      "SELECT k, COUNT(*) AS cnt, SUM(v) AS total FROM src GROUP BY k",
      batchId = Some(100L))
    cat.exec(spark, "DELETE FROM src WHERE v = 5")
    cat.exec(spark, "REFRESH MATERIALIZED VIEW m")
    val row = cat.query(spark,
      "SELECT cnt, total FROM m WHERE k = 'a'").head()
    assert(row.getLong(0) == 1L && row.isNullAt(1), row)
  }
}
