package graft.engine

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Two appends on ONE store handle overlap their parquet writes and
  * race only at the manifest publish, as two writer processes do. Each
  * write's single task counts down a shared latch and then awaits it,
  * bounded: a task whose await times out finished without seeing the
  * other write start, so the handle serialized the two writes.
  */
class AppendOverlapSpec extends SparkSpec {

  import spark.implicits._
  import AppendOverlapSpec._

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  /** A 1-row frame (`k` = tag) whose write task meets the other's. */
  private def meeting(tag: String): DataFrame =
    spark.range(0, 1, 1, 1)
      .select(lit(tag).as("k"), meet(col("id")).as("n"))

  /** Run the two appends on one thread each and wait for both. */
  private def race(a: => Unit, b: => Unit): Unit = {
    latch = new CountDownLatch(2)
    met.clear()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(() => a, () => b).map(w => new Thread(() =>
      try w() catch { case t: Throwable => errors.add(t) }))
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"unexpected failures: $errors")
    assert(met.asScala.toSeq == Seq(true, true),
      "a write finished without seeing the other start: the appends " +
        "were serialized")
  }

  test("two appends on one handle overlap their writes; both batches " +
      "commit once, at strictly increasing versions") {
    val store = new ManifestTableStore(tmp("append-overlap-").toString)
    race(store.append(meeting("a"), 1L), store.append(meeting("b"), 2L))
    assert(store.read(spark).select("k", "batch_id").as[(String, Long)]
      .collect().sorted.toSeq == Seq(("a", 1L), ("b", 2L)))
    // the loser rebased onto the winner: each version adds one batch
    assert(store.history(spark).select("version", "n_batches")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("a replay racing its original on one handle: one entry, the " +
      "rows once, and the losing write's dir is deleted") {
    val root = tmp("append-same-id-")
    val store = new ManifestTableStore(root.toString)
    race(store.append(meeting("a"), 5L), store.append(meeting("a"), 5L))
    assert(store.history(spark).select("version", "n_batches", "n_dirs")
      .as[(Long, Long, Long)].collect().toSeq == Seq((1L, 1L, 1L)))
    assert(store.read(spark).select("k", "batch_id").as[(String, Long)]
      .collect().toSeq == Seq(("a", 5L)))
    val dirs = Files.list(root.resolve("data")).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch-5-")).toSeq
    assert(dirs.size == 1, s"orphan batch dirs left on disk: $dirs")
  }
}

object AppendOverlapSpec {
  /** Counted down once by each racing write's task (local mode: the
    * tasks run in this JVM).
    */
  @volatile var latch = new CountDownLatch(0)

  /** One entry per write task: whether it saw every other write start. */
  val met = new ConcurrentLinkedQueue[Boolean]()

  val meet = udf { (n: Long) =>
    latch.countDown()
    met.add(latch.await(20, TimeUnit.SECONDS))
    n
  }.asNondeterministic()
}
