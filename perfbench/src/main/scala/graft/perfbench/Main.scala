package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.engine.{SchemaRegistry, Sessions}

/** Ingest-path benchmark entry point.
  *
  * {{{
  * Main --workload trickle|waves --seed N --seconds S --trace 0|1
  *      --work DIR [--trace-out FILE]
  * }}}
  *
  * Sets up three times (generate, govern, seed and create the gold MV on
  * a fresh table; `setup_s` is the median, and the first set-up also
  * pays JIT compilation and codegen), then runs the measured cycles on
  * the last table, scans silver, gates the table on correctness and
  * prints one JSON result as the last line of standard output.
  * `--trace 0` reports the end-to-end metrics. `--trace 1` sets up once,
  * runs one untimed cycle, then twice the cycles, traced and untraced in
  * turn, and reports the per-layer metrics of the traced ones plus the
  * tracing overhead. Any failed check exits non-zero without a result.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, traceOut: Option[Path], cores: Int)

  /** Task slots: the driver, both stream threads, JIT and GC keep the
    * rest of a 4-core host, and the layers' stages run 1-4 tasks.
    */
  val Cores = 2
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3
  /** Untimed silver scans after the cycles. The first reads of the final
    * table run 10-60% slower than later ones and settle by the fourth.
    */
  val WarmScans = 3
  /** Timed silver scans after those; `silver_scan_s` is their median.
    * They all read the final table: scans taken during the cycles would
    * each read a table of another size, and their median would be one
    * sample of the middle size.
    */
  val Scans = 3

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    val o = Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t")
      },
      Paths.get(req("work")), m.get("trace-out").map(Paths.get(_)),
      math.min(Cores, Runtime.getRuntime.availableProcessors))
    require(Workload.all.contains(o.workload),
      s"unknown workload ${o.workload} (${Workload.all.keys.mkString(", ")})")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { println(run(parse(args))); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def run(o: Opts): String = {
    val spark = Sessions.local(o.cores, "graft-perfbench")
    // every trigger's progress, not the default last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000000")
    try measure(spark, o, Workload.all(o.workload)) finally spark.stop()
  }

  def measure(spark: SparkSession, o: Opts, w: Workload): String = {
    val trace = new Trace(spark, attribute = o.trace, s"${o.workload}-${o.seed}")
    val bench = new Bench(spark, o.work, trace)
    // a traced run warms the cycle path up first, so the traced and
    // untraced cycles it compares are all warm
    val warm = if (o.trace) 1 else 0
    val n = w.cycles(o.seconds) * (if (o.trace) 2 else 1)
    val expected = BronzeGen.expected(w.landed(o.seed, warm + n))
    Files.createDirectories(o.work)
    Files.write(o.work.resolve("expected.json"), expected.toJson.getBytes(UTF_8))
    System.err.println(s"perfbench: expected ${expected.toJson}")

    System.err.println(f"perfbench: JVM up " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s at set-up")
    // a traced run reports no setup_s, so it sets up once
    val setups = (0 until (if (o.trace) 1 else SetUps))
      .map(_ => bench.setUp(w, o.seed))
    val run = setups.last
    (0 until warm).foreach(_ => bench.cycle(run, traced = false))

    val gc0 = Bench.gcMs
    Bench.resetHeapPeak()
    // traced and untraced cycles alternate in ABBA order, so neither
    // side sees the smaller table
    val cycles = (0 until n).map(i =>
      bench.cycle(run, o.trace && (i % 4 == 0 || i % 4 == 3)))
    val gcMs = (Bench.gcMs - gc0).toDouble / n
    val heapMb = Bench.heapPeakMb
    (0 until WarmScans).foreach(_ => bench.silverScan(run, traced = false))
    val scans = (0 until Scans).map(_ => bench.silverScan(run, o.trace))
    System.err.println("perfbench: silver scans " +
      scans.map(q => f"${q.ms}%.0f").mkString(" ") + " ms")
    bench.gate(run, scans.last)
    System.err.println(f"perfbench: ${w.name} set-ups " +
      setups.map(s => f"${s.setupMs / 1000}%.1f").mkString(" ") +
      f" s, ${n} cycles ${cycles.map(_.passMs).sum / 1000}%.1f s, JVM up " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s " +
      "after the gate\n" +
      trace.summary(cycles.head.landMs))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) endToEnd(cycles, scans,
      Bench.median(setups.map(_.setupMs)) / 1000).foreach(metrics += _)
    else {
      trace.close()
      val traced = cycles.filter(_.traced)
      val plain = cycles.filterNot(_.traced)
      perLayer(traced, scans, run.p.readShape(), run, trace, o.cores)
        .foreach(metrics += _)
      metrics("jvm.gc_ms") = (gcMs, "ms")
      metrics("jvm.heap_peak_mb") = (heapMb, "MB")
      metrics("tracing_overhead_ratio") = (
        Bench.median(traced.map(_.passMs)) /
          Bench.median(plain.map(_.passMs)) - 1, "ratio")
      o.traceOut.foreach { f =>
        Files.createDirectories(f.toAbsolutePath.getParent)
        Files.write(f, trace.toJsonLines.mkString("", "\n", "\n")
          .getBytes(UTF_8))
      }
    }
    metrics.foreach { case (k, (v, _)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
    }
    val attempted = cycles.map(_.attempted).sum + WarmScans + scans.size
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": true, "attempted": $attempted, "failed": 0, """ +
      s""""metrics": {$body}}"""
  }

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def endToEnd(cycles: Seq[Cycle], scans: Seq[QueryRun],
      setupS: Double): Seq[(String, (Double, String))] = {
    val drains = cycles.map(_.drain)
    val triggers = drains.flatMap(_.triggers).map(_._2)
    Seq(
      "setup_s" -> (setupS, "s"),
      "pass_s" -> (Bench.median(cycles.map(_.passMs)) / 1000, "s"),
      "fresh_p50_s" -> (Bench.median(cycles.map(_.freshMs)) / 1000, "s"),
      // over all the cycles' drains: a trickle drain is ~1.5 s, and its
      // per-cycle rates spread by a fifth
      "ingest_rows_per_s" -> (drains.map(_.silverRows).sum * 1000.0 /
        drains.map(_.ms).sum, "1/s"),
      "batch_p50_ms" -> (Bench.median(triggers.map(
        Pipeline.duration(_, "triggerExecution"))), "ms"),
      "silver_scan_s" -> (Bench.median(scans.map(_.ms)) / 1000, "s"),
      "gold_query_p50_ms" -> (Bench.median(cycles.map(_.gold.ms)), "ms"))
  }

  /** Spark work of one layer's traced spans, per call. */
  private def sparkSet(layer: String, trace: Trace,
      cores: Int): Seq[(String, (Double, String))] = {
    val spans = trace.named(layer).filter(_.traced)
    val work = trace.workOf(layer, _.traced)
    def per(x: Long) = x.toDouble / spans.size
    val spanMs = spans.map(_.ms).sum
    Seq(
      s"$layer.jobs" -> (per(work.jobs), "count"),
      s"$layer.stages" -> (per(work.stages), "count"),
      s"$layer.tasks" -> (per(work.tasks), "count"),
      s"$layer.executor_run_ms" -> (per(work.runMs), "ms"),
      s"$layer.executor_cpu_ms" -> (per(work.cpuMs), "ms"),
      s"$layer.input_bytes" -> (per(work.inputBytes), "bytes"),
      s"$layer.shuffle_read_bytes" -> (per(work.shuffleReadBytes), "bytes"),
      s"$layer.shuffle_write_bytes" -> (per(work.shuffleWriteBytes), "bytes"),
      s"$layer.spill_bytes" -> (per(work.spillBytes), "bytes"),
      s"$layer.core_util" -> (
        if (spanMs > 0) work.runMs / (spanMs * cores) else 0.0, "ratio"))
  }

  /** Per-layer metrics of the traced cycles and scans: counts per cycle,
    * times as medians per call, Spark work per call.
    */
  def perLayer(cycles: Seq[Cycle], scans: Seq[QueryRun], readShape: (Int, Int),
      run: Run, trace: Trace, cores: Int): Seq[(String, (Double, String))] = {
    val n = cycles.size
    val med = Bench.median _
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]

    val outcomes = cycles.flatMap(_.outcomes)
    val state = BronzeGen.Sources.map(run.p.state)
    out += "SchemaRegistry.pass_ms" -> (med(cycles.map(_.governMs)), "ms")
    out += "SchemaRegistry.sample_files" ->
      (state.flatMap(_.sampleFileCount).sum.toDouble, "count")
    out += "SchemaRegistry.sample_bytes" ->
      (state.flatMap(_.sampleBytes).sum.toDouble, "bytes")
    out += "SchemaRegistry.unchanged_ratio" -> (outcomes.count(
      _.isInstanceOf[SchemaRegistry.Unchanged]).toDouble / outcomes.size,
      "ratio")
    out ++= sparkSet(Pipeline.Governance, trace, cores).map { case (k, v) =>
      k.replace(Pipeline.Governance, "SchemaRegistry") -> v }

    val drains = cycles.map(_.drain)
    val triggers = drains.flatMap(_.triggers).map(_._2)
    out += "StreamRunner.triggers" -> (triggers.size.toDouble / n, "count")
    Seq("latestOffset", "queryPlanning", "walCommit", "commitOffsets",
      "addBatch").foreach { k =>
      out += s"StreamRunner.${k}_ms" ->
        (med(triggers.map(Pipeline.duration(_, k))), "ms")
    }
    out += "Normalize.rows_in" -> (BronzeGen.Sources.map(s =>
      drains.map(_.observed(s, "rows_in")).sum).sum.toDouble / n, "count")
    out += "Normalize.corrupt_dropped" -> (BronzeGen.Sources.map(s =>
      drains.map(_.observed(s, "corrupt_dropped")).sum).sum.toDouble / n,
      "count")

    val app = TracedStore.Append
    val appends = trace.named(app).filter(_.traced)
    val waits = Trace.lockWaits(appends.map(s => (s.startMs, s.endMs)))
    val byEnd = appends.sortBy(_.endMs)
    val jobMs = byEnd.map(s => trace.workOf(app, _.id == s.id).jobMs.toDouble)
    out += s"$app.p50_ms" -> (med(appends.map(_.ms)), "ms")
    out += s"$app.p90_ms" -> (Bench.quantile(appends.map(_.ms), 0.9), "ms")
    out += s"$app.job_ms" -> (med(jobMs), "ms")
    out += s"$app.driver_ms" -> (med(byEnd.indices.map(i =>
      byEnd(i).ms - jobMs(i) - waits(i))), "ms")
    out += s"$app.lock_wait_ms" -> (waits.sum / n, "ms")
    out += s"$app.output_bytes" ->
      (trace.workOf(app, _.traced).outputBytes.toDouble / n, "bytes")
    out ++= sparkSet(app, trace, cores)

    out += s"${Pipeline.Read}.resolve_ms" -> (med(scans.map(_.resolveMs)), "ms")
    out += s"${Pipeline.Read}.plan_ms" -> (med(scans.map(_.planMs)), "ms")
    out += s"${Pipeline.Read}.exec_ms" -> (med(scans.map(_.execMs)), "ms")
    out += s"${Pipeline.Read}.scan_nodes" -> (readShape._1.toDouble, "count")
    out += s"${Pipeline.Read}.files" -> (readShape._2.toDouble, "count")
    out ++= sparkSet(Pipeline.Read, trace, cores)

    val modes = cycles.map(_.refreshMode)
    out += s"${Pipeline.Refresh}.ms" -> (med(trace.named(Pipeline.Refresh)
      .filter(_.traced).map(_.ms)), "ms")
    out += s"${Pipeline.Refresh}.incremental_ratio" ->
      (modes.count(_ == "incremental").toDouble / modes.size, "ratio")
    out ++= sparkSet(Pipeline.Refresh, trace, cores)

    val gold = cycles.map(_.gold)
    out += s"${Pipeline.Query}.plan_ms" -> (med(gold.map(_.planMs)), "ms")
    out += s"${Pipeline.Query}.exec_ms" -> (med(gold.map(_.execMs)), "ms")
    out += s"${Pipeline.Query}.scan_nodes" -> (gold.last.scanNodes.toDouble, "count")
    out ++= sparkSet(Pipeline.Query, trace, cores)
    out.toSeq
  }
}
