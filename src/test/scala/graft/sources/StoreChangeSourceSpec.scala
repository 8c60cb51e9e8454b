package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.engine.ManifestTableStore

/** The manifest store as a streaming SOURCE: commits become
  * micro-batches (offset = manifest version), resumption is
  * checkpoint-exact, maintenance rewrites are silent, and CDF mode
  * delivers retirements.
  */
class StoreChangeSourceSpec extends SparkSpec {

  import spark.implicits._

  private def newStore(): (String, ManifestTableStore) = {
    val p = Files.createTempDirectory("srcstore-")
    p.toFile.deleteOnExit()
    (p.toString, new ManifestTableStore(p.toString,
      statsColumns = Seq("k")))
  }

  test("commits stream as micro-batches; a compaction emits nothing; " +
      "new appends keep flowing") {
    val (path, store) = newStore()
    store.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = spark.readStream.format("graft-store").option("path", path)
      .load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("src-ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= df.select("k", "v").as[(Long, String)].collect()
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    assert(sink.toSet == Set((1L, "a"), (2L, "b")))
    store.append(Seq((3L, "c")).toDF("k", "v"), 1L)
    q.processAllAvailable()
    assert(sink.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")))
    store.compact(spark) // maintenance: must deliver NOTHING
    q.processAllAvailable()
    assert(sink.size == 3, s"compaction re-delivered rows: $sink")
    store.append(Seq((4L, "d")).toDF("k", "v"), 2L)
    q.processAllAvailable()
    assert(sink.toSet == Set((1L, "a"), (2L, "b"), (3L, "c"),
      (4L, "d")))
    q.stop()
  }

  test("restart resumes from the checkpointed version — no re-delivery, " +
      "no gap") {
    val (path, store) = newStore()
    val ckpt = Files.createTempDirectory("src-ckpt-").toString
    store.append(Seq((1L, "a")).toDF("k", "v"), 0L)
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-store")
        .option("path", path).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          sink.synchronized {
            sink ++= df.select("k", "v").as[(Long, String)].collect()
          }
          ()
        }
        .trigger(Trigger.ProcessingTime(0)).start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    assert(sink.toSet == Set((1L, "a")))
    // commits land while the stream is DOWN
    store.append(Seq((2L, "b")).toDF("k", "v"), 1L)
    store.append(Seq((3L, "c")).toDF("k", "v"), 2L)
    run()
    assert(sink.toSeq.sorted ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"restart must deliver exactly the missed window once: $sink")
  }

  test("readChangeFeed=true streams retirements: a CoW delete arrives " +
      "as _change_type=delete rows") {
    val (path, store) = newStore()
    store.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    val sink =
      new scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val q = spark.readStream.format("graft-store").option("path", path)
      .option("readChangeFeed", "true").load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("src-ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= df.select("k", "v", "_change_type")
            .as[(Long, String, String)].collect()
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    assert(sink.toSet ==
      Set((1L, "a", "insert"), (2L, "b", "insert")))
    store.delete(spark, "k = 2")
    q.processAllAvailable()
    assert(sink.toSet == Set((1L, "a", "insert"), (2L, "b", "insert"),
      (2L, "b", "delete")),
      s"the retirement must arrive as a delete row: $sink")
    q.stop()
  }

  test("table-to-table incremental pipeline in pure DataFrame API: " +
      "readStream(graft-store) -> transform -> " +
      "writeStream(graft-store), exactly-once across restart") {
    val (upPath, up) = newStore()
    val downPath = Files.createTempDirectory("sinkstore-").toString
    val down = new ManifestTableStore(downPath)
    val ckpt = Files.createTempDirectory("pipe-ckpt-").toString
    up.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), 0L)
    def run(): Unit = {
      val q = spark.readStream.format("graft-store")
        .option("path", upPath).load()
        .filter($"k" =!= 2L) // the transform
        .select("k", "v")
        .writeStream.format("graft-store")
        .option("path", downPath)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0)).start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    assert(down.read(spark).select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (3L, "c")))
    // commits land while the pipeline is DOWN; restart picks up the
    // window once (engine checkpoint + write-time replay refusal)
    up.append(Seq((4L, "d"), (2L, "x")).toDF("k", "v"), 1L)
    run()
    run() // a second idle restart must change nothing
    assert(down.read(spark).select("k", "v").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (3L, "c"), (4L, "d")))
    // distinct writerIds namespace their batch ids: a SECOND pipeline
    // into the same table does not replay-collide with the first
    val q2 = spark.readStream.format("graft-store")
      .option("path", upPath).load()
      .filter($"k" === 2L).select("k", "v")
      .writeStream.format("graft-store")
      .option("path", downPath).option("writerId", "second")
      .option("checkpointLocation",
        Files.createTempDirectory("pipe2-ckpt-").toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    q2.processAllAvailable()
    q2.stop()
    assert(down.read(spark).select("k", "v").as[(Long, String)]
      .collect().toSet ==
      Set((1L, "a"), (3L, "c"), (4L, "d"), (2L, "b"), (2L, "x")))
    // update-mode shapes are refused loudly
    intercept[Exception] {
      spark.readStream.format("graft-store").option("path", upPath)
        .load().groupBy("k").count()
        .writeStream.format("graft-store").option("path", downPath)
        .outputMode("complete")
        .option("checkpointLocation",
          Files.createTempDirectory("pipe3-ckpt-").toString)
        .start()
    }
  }

  test("startingVersion attaches a new consumer mid-history, INCLUSIVE " +
      "of the named version (Delta's contract): nothing before it is " +
      "re-delivered, the version's own commit is") {
    val (path, store) = newStore()
    store.append(Seq((1L, "old")).toDF("k", "v"), 0L)   // v1
    store.append(Seq((2L, "new")).toDF("k", "v"), 1L)   // v2
    def drain(fromVersion: Long): Set[(Long, String)] = {
      val sink =
        new scala.collection.mutable.ArrayBuffer[(Long, String)]()
      val q = spark.readStream.format("graft-store").option("path", path)
        .option("startingVersion", fromVersion.toString).load()
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("sv-ckpt-").toString)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          sink.synchronized {
            sink ++= df.select("k", "v").as[(Long, String)].collect()
          }
          ()
        }
        .trigger(Trigger.ProcessingTime(0)).start()
      q.processAllAvailable()
      q.stop()
      sink.toSet
    }
    // AT version 2: only v2's commit delivers — v1 is never re-read
    assert(drain(2L) == Set((2L, "new")),
      "startingVersion 2 must deliver exactly version 2's commit")
    // AT version 1: version 1's OWN rows deliver too — a consumer
    // ported from Delta must not silently lose one commit
    assert(drain(1L) == Set((1L, "old"), (2L, "new")),
      "startingVersion is inclusive of the named version")
  }

  test("the sink streams INTO A BRANCH: main readers see nothing " +
      "until fastForward publishes the staged run") {
    val (upPath, up) = newStore()
    val downPath = Files.createTempDirectory("brsink-").toString
    val down = new ManifestTableStore(downPath)
    down.append(Seq((0L, "base")).toDF("k", "v"), 100L)
    down.createBranch(spark, "ingest", 1L)
    up.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    val q = spark.readStream.format("graft-store")
      .option("path", upPath).load().select("k", "v")
      .writeStream.format("graft-store")
      .option("path", downPath).option("branch", "ingest")
      .option("checkpointLocation",
        Files.createTempDirectory("br-ckpt-").toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    q.stop()
    // staged, not published
    assert(down.read(spark).count() == 1,
      "main must not see the streamed batches before publish")
    assert(down.branch("ingest").read(spark).count() == 3)
    down.fastForward(spark, "ingest")
    assert(down.read(spark).select("k", "v").as[(Long, String)]
      .collect().toSet ==
      Set((0L, "base"), (1L, "a"), (2L, "b")))
  }

  test("Trigger.AvailableNow drains the backlog and stops — the " +
      "run-as-a-batch-job shape for scheduled incremental pipelines") {
    val (path, store) = newStore()
    store.append(Seq((1L, "a")).toDF("k", "v"), 0L)
    store.append(Seq((2L, "b")).toDF("k", "v"), 1L)
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = spark.readStream.format("graft-store").option("path", path)
      .load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("an-ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= df.select("k", "v").as[(Long, String)].collect()
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate")
    assert(sink.toSet == Set((1L, "a"), (2L, "b")))
  }

  test("an AvailableNow run stops at the version current when it " +
      "starts: a commit landing during the run waits for the next run") {
    val (path, store) = newStore()
    store.append(Seq((1L, "a")).toDF("k", "v"), 0L)
    val ckpt = Files.createTempDirectory("an-end-ckpt-").toString
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-store").option("path", path)
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val got = df.select("k", "v").as[(Long, String)].collect()
          sink.synchronized { sink ++= got }
          // the first batch's commit lands while the run is going
          if (got.contains((1L, "a")))
            store.append(Seq((2L, "b")).toDF("k", "v"), 1L)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow must terminate")
    }
    run()
    assert(store.currentVersion(spark) == 2L)
    assert(sink.toSeq == Seq((1L, "a")))
    run()
    assert(sink.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("getBatch windows are version-pinned (a replayed window " +
      "re-reads identical rows); missing path refuses") {
    val (path, store) = newStore()
    store.append(Seq((1L, "a")).toDF("k", "v"), 0L)
    store.append(Seq((2L, "b")).toDF("k", "v"), 1L)
    val src = new StoreChangeSourceProvider().createSource(
      spark.sqlContext, "", None, "graft-store", Map("path" -> path))
    // the engine requires isStreaming=true of a V1 getBatch result
    assert(src.getBatch(Some(LongOffset(1)), LongOffset(2)).isStreaming)
    def window(from: Long, to: Long): Set[(Long, String)] =
      store.readChanges(spark, from, to) // what getBatch wraps
        .select("k", "v").as[(Long, String)].collect().toSet
    assert(window(1, 2) == Set((2L, "b")))
    store.append(Seq((3L, "c")).toDF("k", "v"), 2L) // later commit
    assert(window(1, 2) == Set((2L, "b")),
      "a replayed window must be unaffected by later commits")
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft-store").load()
    }
  }

  test("a SHALLOW CLONE streams like any table: the clone point's " +
      "inherited content is one catch-up batch, the clone's own " +
      "writes keep flowing, and the source's post-clone writes never " +
      "reach the clone's stream") {
    val (srcPath, src) = newStore()
    src.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L)
    val base = Files.createTempDirectory("clonestream-")
    base.toFile.deleteOnExit()
    val cat = new graft.engine.StoreCatalog(base.toString)
    cat.register("src", src)
    cat.exec(spark, "CREATE TABLE cl SHALLOW CLONE src")
    val clonePath = cat.store("cl").tablePath
    val sink = new scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = spark.readStream.format("graft-store")
      .option("path", clonePath).load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("clone-ckpt-").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.synchronized {
          sink ++= df.select("k", "v").as[(Long, String)].collect()
        }
        ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    assert(sink.toSet == Set((1L, "a"), (2L, "b")),
      "the clone point's content is the stream's catch-up")
    // divergence: the source's new write is invisible to the clone's
    // stream; the clone's own write flows
    src.append(Seq((9L, "src-only")).toDF("k", "v"), 1L)
    cat.exec(spark, "INSERT INTO cl VALUES (3, 'c')",
      batchId = Some(10L))
    q.processAllAvailable()
    assert(sink.toSet == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"source writes must not reach the clone's stream: $sink")
    q.stop()
    // batch CDF over the clone composes too: the window from the
    // clone point to current is exactly the clone's own insert
    val feed = cat.query(spark,
      """SELECT k, _change_type FROM table_changes('cl', 2, 2)"""
        .stripMargin).as[(Long, String)].collect().toSet
    assert(feed == Set((3L, "insert")), feed.toString)
  }
}
