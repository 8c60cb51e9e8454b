package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** A commit's per-commit constants (the stamped `batch_id`, the REFRESH
  * fold's batch id, the change feed's window ids) reach generated code
  * as parameters, not as literals in the source: the next commit of the
  * same shape hits Spark's compiled-class cache and compiles nothing,
  * on the driver or in the tasks. A new streaming query's tasks share
  * the executor's class loader ([[Sessions]] turns artifact isolation
  * off), so they hit the same cache. The count is Spark's own compile
  * counter (one tick per class Janino actually compiles).
  */
class CodegenReuseSpec extends SparkSpec {

  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def tmp(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** The same plan every call: only the batch id differs between two
    * appends of it.
    */
  private def frame: DataFrame = spark.range(0, 6, 1, 2)
    .selectExpr("cast(id % 3 AS string) AS k", "id AS n")

  test("a second append of a same-shaped frame with a new batch id " +
      "compiles no class") {
    val store = new ManifestTableStore(tmp("codegen-append-"))
    store.append(frame, 0L)
    val compiles = compilesDuring(store.append(frame, 1L))
    assert(compiles == 0L, s"the second append compiled $compiles classes")
    import spark.implicits._
    assert(store.read(spark).groupBy("batch_id").count()
      .as[(Long, Long)].collect().toSet == Set((0L, 6L), (1L, 6L)))
  }

  test("a second incremental REFRESH of a same-shaped window compiles " +
      "no class") {
    val cat = new StoreCatalog(tmp("codegen-refresh-"))
    cat.exec(spark, "CREATE TABLE ev (k STRING, n BIGINT) USING graft_store")
    val ev = cat.store("ev")
    ev.append(frame, 0L)
    val defn = "SELECT k, COUNT(*) AS c, SUM(n) AS s, MAX(n) AS hi " +
      "FROM ev GROUP BY k"
    cat.exec(spark, s"CREATE MATERIALIZED VIEW g AS $defn",
      batchId = Some(100L))
    def refresh(): String =
      cat.exec(spark, "REFRESH MATERIALIZED VIEW g").head().getString(0)
    ev.append(frame, 1L)
    assert(refresh() == "incremental")
    ev.append(frame, 2L)
    var mode = ""
    val compiles = compilesDuring { mode = refresh() }
    assert(mode == "incremental")
    assert(compiles == 0L, s"the second REFRESH compiled $compiles classes")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(cat.query(spark, "SELECT k, c, s, hi FROM g")) ==
      rows(cat.query(spark, defn)))
  }

  test("a second AvailableNow drain on the same checkpoint compiles no " +
      "class") {
    val src = tmp("codegen-drain-src-")
    val ckpt = tmp("codegen-drain-ckpt-")
    val store = new ManifestTableStore(tmp("codegen-drain-silver-"))
    def drain(file: String, id: Int): Unit = {
      Files.writeString(Paths.get(src, file),
        s"""{"id": $id, "ip": "10.0.0.$id", "hostName": "h$id"}""")
      StreamRunner.start(spark, SourceSpec.rapid7, src, ckpt, store,
        Trigger.AvailableNow()).awaitTermination()
    }
    drain("a.json", 1)
    val compiles = compilesDuring(drain("b.json", 2))
    assert(compiles == 0L, s"the second drain compiled $compiles classes")
    import spark.implicits._
    val base = store.writerBase(spark, SourceSpec.rapid7.name)
    assert(store.read(spark).groupBy("batch_id").count()
      .as[(Long, Long)].collect().toSet == Set((base, 1L), (base + 1, 1L)))
  }
}
