package graft.engine

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StreamRunnerSpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def writeFile(dir: Path, name: String, content: String): Unit =
    Files.writeString(dir.resolve(name), content)

  test("streaming bronze→silver: multiLine files, corrupt dropped, appended") {
    val src = tmp("bronze-r7-")
    val ckpt = tmp("ckpt-r7-")
    val out = tmp("silver-")
    Fixtures.rapid7Pretty.zipWithIndex.foreach { case (doc, i) =>
      writeFile(src, s"asset_$i.json", doc)
    }
    val store = new ParquetTableStore(out.toString)
    StreamRunner.runAvailableNow(spark,
      Seq((SourceSpec.rapid7, src.toString, ckpt.toString)), store)
    val silver = store.read(spark)
    // 3 files: 2 good (one pretty multi-line), 1 corrupt → 2 rows
    assert(silver.count() == 2)
    assert(silver.columns.contains("batch_id"))
    val ids = silver.select("rapid7_id").collect().map(_.getString(0)).sorted
    assert(ids.toSeq == Seq("201", "202"))
    // multiLine=true parsed the pretty-printed nested struct
    assert(silver.filter(col("rapid7_id") === "201").head()
      .getAs[Int]("vuln_total") == 3)
  }

  test("checkpoint resume: old files are not reprocessed, new ones are") {
    val src = tmp("bronze-resume-")
    val ckpt = tmp("ckpt-resume-")
    val out = tmp("silver-resume-")
    writeFile(src, "a.json", """{"id": 1, "ip": "10.0.0.1", "hostName": "h1"}""")
    val store = new ParquetTableStore(out.toString)
    val sources = Seq((SourceSpec.rapid7, src.toString, ckpt.toString))
    StreamRunner.runAvailableNow(spark, sources, store)
    assert(store.read(spark).count() == 1)
    // second run, same checkpoint, nothing new → still 1 row
    StreamRunner.runAvailableNow(spark, sources, store)
    assert(store.read(spark).count() == 1)
    // add a file, rerun → exactly one more row
    writeFile(src, "b.json", """{"id": 2, "ip": "10.0.0.2", "hostName": "h2"}""")
    StreamRunner.runAvailableNow(spark, sources, store)
    val rows = store.read(spark)
    assert(rows.count() == 2)
    assert(rows.select("rapid7_id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("1", "2"))
  }

  test("runForever: two ProcessingTime queries run continuously; the park " +
      "wakes when a query stops") {
    // Dedicated session: runForever parks on the session-wide
    // StreamingQueryManager, so it must not share one with other suites'
    // streaming tests.
    val s = spark.newSession()
    val srcA = tmp("forever-a-"); val srcB = tmp("forever-b-")
    val ckptA = tmp("forever-ckpt-a-"); val ckptB = tmp("forever-ckpt-b-")
    val out = tmp("forever-silver-")
    writeFile(srcA, "r7.json",
      """{"id": 1, "ip": "10.0.0.1", "hostName": "h1"}""")
    writeFile(srcB, "fg.json",
      """{"_id": {"$oid": "aaa"}, "accessIp": "1.2.3.4", "name": "fg"}""")
    val store = new ParquetTableStore(out.toString)
    @volatile var parkExited = false
    val runner = new Thread(() => {
      StreamRunner.runForever(s, Seq(
        (SourceSpec.rapid7, srcA.toString, ckptA.toString),
        (SourceSpec.fortisiem, srcB.toString, ckptB.toString)),
        store, org.apache.spark.sql.streaming.Trigger.ProcessingTime(
          "200 milliseconds"))
      parkExited = true
    }, "runForever-spec")
    runner.setDaemon(true)
    runner.start()
    def rowsBySource(): Map[String, Long] =
      if (!out.resolve("_SUCCESS").toFile.exists()) Map.empty
      else store.read(spark).groupBy("source_system").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def awaitUntil(deadlineMs: Long)(cond: => Boolean): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond) {
        assert(System.currentTimeMillis() - t0 < deadlineMs,
          "timed out waiting for streaming progress")
        Thread.sleep(200)
      }
    }
    // both sources land their first micro-batch
    awaitUntil(60000)(rowsBySource().size == 2)
    // the job is CONTINUOUS: a file arriving later is picked up by a
    // subsequent micro-batch with no restart
    writeFile(srcA, "r7_late.json",
      """{"id": 2, "ip": "10.0.0.2", "hostName": "h2"}""")
    awaitUntil(60000)(rowsBySource().getOrElse("rapid7", 0L) == 2L)
    assert(!parkExited, "awaitAnyTermination returned while queries run")
    // stopping ONE query wakes the park (supervisor-restart semantics)
    s.streams.active.head.stop()
    runner.join(30000)
    assert(parkExited, "awaitAnyTermination did not return on query stop")
    s.streams.active.foreach(_.stop())
  }

  test("runForever supervised by a stop-after-N-ticks listener: queries " +
      "run bounded, the listener stops them, the park returns on its own") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val s = spark.newSession()
    val srcA = tmp("sup-a-"); val srcB = tmp("sup-b-")
    val ckptA = tmp("sup-ckpt-a-"); val ckptB = tmp("sup-ckpt-b-")
    val out = tmp("sup-silver-")
    writeFile(srcA, "r7.json",
      """{"id": 1, "ip": "10.0.0.1", "hostName": "h1"}""")
    writeFile(srcB, "fg.json",
      """{"_id": {"$oid": "bbb"}, "accessIp": "5.6.7.8", "name": "fg"}""")
    val store = new ParquetTableStore(out.toString)
    // The supervisor shape a bounded soak run uses: count each query's
    // ticks (committed batches + idle polls) and stop it at the target —
    // no external poll loop touching the queries.
    val targetTicks = 3
    val ticks =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Integer]()
    def tick(id: java.util.UUID): Unit = {
      val n = ticks.merge(id, 1, (a, b) => Integer.valueOf(a + b))
      if (n >= targetTicks) Option(s.streams.get(id)).foreach(_.stop())
    }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        tick(e.progress.id)
      override def onQueryIdle(
          e: StreamingQueryListener.QueryIdleEvent): Unit = tick(e.id)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    @volatile var parkExited = false
    val runner = new Thread(() => {
      StreamRunner.runForever(s, Seq(
        (SourceSpec.rapid7, srcA.toString, ckptA.toString),
        (SourceSpec.fortisiem, srcB.toString, ckptB.toString)),
        store, org.apache.spark.sql.streaming.Trigger.ProcessingTime(
          "200 milliseconds"))
      parkExited = true
    }, "runForever-supervised-spec")
    runner.setDaemon(true)
    runner.start()
    try {
      runner.join(90000)
      assert(parkExited,
        "listener-stopped query did not wake awaitAnyTermination")
      assert(ticks.values().stream().anyMatch(_ >= targetTicks),
        s"no query reached $targetTicks ticks: $ticks")
      // both sources committed their data batch before the bound hit
      val bySource = store.read(spark).groupBy("source_system").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(bySource.keySet == Set("rapid7", "fortisiem"), s"$bySource")
    } finally {
      s.streams.active.foreach(_.stop())
      s.streams.removeListener(listener)
    }
  }

  test("batch_id recovery: a replayed micro-batch collapses on " +
      "readExactlyOnce; identical content in different batches survives") {
    import spark.implicits._
    val out = tmp("recovery-")
    val store = new ParquetTableStore(out.toString)
    val batch0 = Seq(("u1", "h1", "2026-01-01T00:00:01"),
      ("u2", "h2", "2026-01-01T00:00:01"))
      .toDF("asset_uid", "hostname", "ingest_ts")
    store.append(batch0, 0L)
    // crash between write and checkpoint commit → restart re-runs batch 0;
    // the recomputation stamps a NEW ingest_ts, so rows are not
    // byte-identical — only (batch_id, key) identifies the replay.
    val replay0 = Seq(("u1", "h1", "2026-01-01T00:05:09"),
      ("u2", "h2", "2026-01-01T00:05:09"))
      .toDF("asset_uid", "hostname", "ingest_ts")
    store.append(replay0, 0L)
    // the same asset legitimately re-observed in a later batch
    val batch1 = Seq(("u1", "h1", "2026-01-01T00:10:00"))
      .toDF("asset_uid", "hostname", "ingest_ts")
    store.append(batch1, 1L)
    assert(store.read(spark).count() == 5) // raw: replay visible
    val exact = store.readExactlyOnce(spark)
    assert(exact.count() == 3) // u1+u2 once for batch 0, u1 for batch 1
    assert(exact.groupBy("asset_uid", "batch_id").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("two concurrent sources append into one silver store") {
    val srcA = tmp("bronze-a-"); val srcB = tmp("bronze-b-")
    val ckptA = tmp("ckpt-a-"); val ckptB = tmp("ckpt-b-")
    val out = tmp("silver-multi-")
    writeFile(srcA, "r7.json",
      """{"id": 9, "ip": "10.9.9.9", "hostName": "r7-host"}""")
    writeFile(srcB, "fg.json",
      """{"_id": {"$oid": "aaa"}, "accessIp": "1.2.3.4", "name": "fg-host"}""")
    val store = new ParquetTableStore(out.toString)
    StreamRunner.runAvailableNow(spark, Seq(
      (SourceSpec.rapid7, srcA.toString, ckptA.toString),
      (SourceSpec.fortisiem, srcB.toString, ckptB.toString)), store)
    val silver = store.read(spark)
    assert(silver.count() == 2)
    assert(silver.select("source_system").distinct().count() == 2)
  }

  test("observed metrics: streaming progress reports rows_in and " +
      "corrupt_dropped with no extra pass") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("bronze-obs-"); val ckpt = tmp("ckpt-obs-")
    val out = tmp("silver-obs-")
    writeFile(src, "a.json", """{"id": 1, "ip": "10.0.0.1", "hostName": "h1"}""")
    writeFile(src, "b.json", """{"id": 2, "ip": "10.0.0.2", "hostName": "h2"}""")
    writeFile(src, "bad.json", """{nope""")
    val store = new ParquetTableStore(out.toString)
    val q = StreamRunner.start(spark, SourceSpec.rapid7, src.toString,
      ckpt.toString, store, Trigger.AvailableNow())
    q.awaitTermination()
    val metrics = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("normalize_rapid7")))
    assert(metrics.nonEmpty, "no observed metrics in any progress event")
    val rowsIn = metrics.map(_.getAs[Long]("rows_in")).sum
    val dropped = metrics.map(_.getAs[Long]("corrupt_dropped")).sum
    assert(rowsIn == 3 && dropped == 1, s"rows_in=$rowsIn dropped=$dropped")
    assert(store.read(spark).count() == 2) // only the clean rows landed
  }

  test("every row of one micro-batch carries one ingest_ts: the " +
      "batch timestamp in the query's offset log") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmp("bronze-ts-"); val ckpt = tmp("ckpt-ts-")
    val out = tmp("silver-ts-")
    (1 to 4).foreach { i =>
      writeFile(src, s"a$i.json",
        s"""{"id": $i, "ip": "10.0.0.$i", "hostName": "h$i"}""")
    }
    val store = new ManifestTableStore(out.toString)
    StreamRunner.start(spark, SourceSpec.rapid7, src.toString,
      ckpt.toString, store, Trigger.AvailableNow(), Some(2))
      .awaitTermination()
    // one line of the offset log per batch holds its metadata
    val logged = (0 to 1).map { b =>
      val meta = Files.readAllLines(ckpt.resolve(s"offsets/$b")).get(1)
      "\"batchTimestampMs\":(\\d+)".r.findFirstMatchIn(meta).get
        .group(1).toLong
    }
    val batches = store.read(spark).groupBy("batch_id")
      .agg(count(lit(1)), countDistinct("ingest_ts"), min("ingest_ts"))
      .orderBy("batch_id").collect().toSeq
      .map(r => (r.getLong(1), r.getLong(2), r.getTimestamp(3).getTime))
    assert(batches == logged.map(ts => (2L, 1L, ts)), s"$batches vs $logged")
  }

  test("observed metrics: batch Observation handle resolves after the " +
      "first action") {
    val obs = org.apache.spark.sql.Observation("normalize_batch_obs")
    // the fixture set itself carries 1 corrupt record; add a second
    val recs = Fixtures.rapid7Records :+ "{broken"
    val df = Normalize.observed(
      Normalize.readRecords(spark, SourceSpec.rapid7, recs),
      SourceSpec.rapid7, obs)
    val landed = df.count()
    val m = obs.get
    assert(m("rows_in") == recs.size.toLong)
    assert(m("corrupt_dropped") == 2L)
    assert(landed == recs.size.toLong - 2)
  }
}
