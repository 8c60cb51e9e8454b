package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.engine.SchemaRegistry

/** One workload: the bronze that seeds the silver table in set-up, the
  * files each cycle lands on it (cycles count from 0), and how the
  * streams pick them up.
  */
final case class Workload(name: String, perTrigger: Option[Int],
    seedFiles: Long => Seq[BronzeGen.GenFile],
    cycleFiles: (Long, Int) => Seq[BronzeGen.GenFile], cycleS: Double) {

  /** Measured cycles of a run of `seconds`: about `seconds` of work on a
    * 4-core host, where a cycle stands for `cycleS` of the run (its own
    * time and its share of the scans). The count depends on `seconds`
    * alone, so every run of a seed does the same work on the same table.
    */
  def cycles(seconds: Int): Int =
    math.max(Workload.MinCycles, math.round(seconds / cycleS).toInt)

  /** Every file landed after `cycles` cycles. */
  def landed(seed: Long, cycles: Int): Seq[BronzeGen.GenFile] =
    seedFiles(seed) ++ (0 until cycles).flatMap(cycleFiles(seed, _))
}

/** Every cycle of a workload lands the same number of good rows, so
  * cycles differ only by the table they land on: corrupt files (exactly
  * one per source) sit in the seed. Cycle files are never corrupt for a
  * second reason: governance samples a fixed share of the newest files,
  * and the drift it must find may not hide in a file that parses to
  * nothing.
  */
object Workload {
  val MinCycles = 3

  /** The same file set shape for both sources. */
  private[perfbench] def both(seed: Long, tag: String, n: Int, records: Int,
      corruptEvery: Int, drift: Boolean = false) =
    BronzeGen.Sources.flatMap(s =>
      BronzeGen.files(seed, s, tag, n, records, corruptEvery,
        drift && s == "rapid7"))

  /** `trickle`: files per source in set-up (one of them corrupt), and
    * per cycle.
    */
  val TrickleSeed = 3
  val TricklePerCycle = 2
  /** `waves`: first cycle whose rapid7 documents carry the drift field. */
  val DriftCycle = 1

  val all: Map[String, Workload] = Seq(
    // steady state: small files, one per trigger, so each cycle commits
    // twice per source; fixed per-trigger cost, per-commit manifest I/O
    // and reads over a growing commit count dominate
    Workload("trickle", Some(1),
      seed => both(seed, "seed", TrickleSeed, 20, TrickleSeed),
      (seed, i) => both(seed, f"trickle$i%03d", TricklePerCycle, 20,
        Int.MaxValue),
      cycleS = 8),
    // writes beside reads: mid-sized waves (parse, normalize and the
    // parquet write show) land on a seeded table, one trigger per source
    // each; from cycle 1 on, rapid7 documents carry a new field
    Workload("waves", None, seed => both(seed, "seed", 3, 400, 3),
      (seed, i) => both(seed, f"wave$i%03d", 2, 300, Int.MaxValue,
        drift = i >= DriftCycle),
      cycleS = 6)
  ).map(w => w.name -> w).toMap
}

/** One cycle: land its files → drain both sources → REFRESH gold → gold
  * answer → governance. Times are epoch ms.
  */
final case class Cycle(index: Int, traced: Boolean, landMs: Double,
    goldMs: Double, endMs: Double, drain: Drain, refreshMode: String,
    gold: QueryRun, governMs: Double,
    outcomes: Seq[SchemaRegistry.Outcome]) {
  /** Drain, refresh, gold answer and governance. */
  def passMs: Double = endMs - landMs
  /** From the files landing to the gold answer that includes them. */
  def freshMs: Double = goldMs - landMs
  /** Triggers, commits, the refresh, the gold query and governance. */
  def attempted: Int = drain.triggers.size * 2 + 3
}

/** A seeded table and the cycles run on it. */
final class Run(val w: Workload, val seed: Long, val bronze: Path,
    val p: Pipeline, val setupMs: Double, val seedDrain: Drain) {
  val cycles = mutable.ArrayBuffer.empty[Cycle]
  /** Every file landed so far. */
  val landed = mutable.ArrayBuffer.from(w.seedFiles(seed))
}

/** Sets up and runs workloads under `work`; every check that fails
  * throws, so a run that finishes passed the correctness gate.
  */
final class Bench(spark: SparkSession, work: Path, trace: Trace) {

  private var dirs = 0
  def freshDir(tag: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(f"$tag-$dirs%03d"))
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(
      s"correctness gate failed: $what")

  private def govern(p: Pipeline): Seq[SchemaRegistry.Outcome] = {
    val out = p.governance()
    out.foreach(o => check(!o.isInstanceOf[SchemaRegistry.Failed],
      s"governance failed: $o"))
    out
  }

  /** Set-up: generate the seed bronze into a fresh root, govern it,
    * drain it into a fresh silver store and create the gold MV.
    */
  def setUp(w: Workload, seed: Long): Run = {
    trace.on = false
    val t0 = Trace.nowMs
    val bronze = freshDir("bronze")
    BronzeGen.write(bronze, w.seedFiles(seed))
    val p = new Pipeline(spark, trace, bronze, freshDir("store"),
      w.perTrigger)
    govern(p)
    val d = p.drain()
    p.createGold()
    new Run(w, seed, bronze, p, Trace.nowMs - t0, d)
  }

  /** The next cycle of `r`; with `traced`, its Spark work is attributed
    * to its spans. Its gold answer must count every row landed so far.
    */
  def cycle(r: Run, traced: Boolean): Cycle = {
    val files = r.w.cycleFiles(r.seed, r.cycles.size)
    trace.on = traced
    val t0 = Trace.nowMs
    BronzeGen.write(r.bronze, files)
    r.landed ++= files
    val d = r.p.drain()
    val mode = r.p.refreshGold()
    val g = r.p.goldQuery()
    val t1 = Trace.nowMs
    val out = govern(r.p)
    val t2 = Trace.nowMs
    trace.on = false
    val c = Cycle(r.cycles.size, traced, t0, t1, t2, d, mode, g, t2 - t1, out)
    r.cycles += c
    System.err.println(f"perfbench: cycle ${c.index}%d${if (traced) " traced" else ""}: " +
      f"pass ${c.passMs}%.0f ms, fresh ${c.freshMs}%.0f, drain ${d.ms}%.0f, " +
      f"gold ${g.ms}%.0f, governance ${c.governMs}%.0f")
    val exp = BronzeGen.expected(r.landed.toSeq)
    val got = Pipeline.bySource(g.rows)
    BronzeGen.Sources.foreach { s =>
      check(got.get(s).map(_._2).contains(exp.goodRows(s)),
        s"cycle ${c.index}: gold answer for $s: ${got.get(s)} sightings, " +
          s"expected ${exp.goodRows(s)}")
    }
    check(mode == "incremental" || mode == "current" || mode.startsWith("full:"),
      s"cycle ${c.index}: refresh mode not recorded: $mode")
    c
  }

  /** One whole-table silver query. */
  def silverScan(r: Run, traced: Boolean): QueryRun = {
    trace.on = traced
    try r.p.silverScan() finally trace.on = false
  }

  /** The final correctness gate over the table `r` built. */
  def gate(r: Run, scan: QueryRun): Unit = {
    val exp = BronzeGen.expected(r.landed.toSeq)
    val got = Pipeline.bySource(scan.rows)
    BronzeGen.Sources.foreach { s =>
      check(got.get(s).map(_._1).contains(exp.goodRows(s)),
        s"silver rows for $s: ${got.get(s)}, expected ${exp.goodRows(s)}")
      check(got.get(s).map(_._2).contains(exp.distinctUids(s)),
        s"distinct asset_uid for $s: ${got.get(s)}, expected " +
          s"${exp.distinctUids(s)}")
    }
    val normalized = (r.seedDrain +: r.cycles.map(_.drain)).map(_.silverRows).sum
    val silver = got.values.map(_._1).sum
    check(normalized == silver,
      s"rows_in - corrupt_dropped = $normalized, silver holds $silver")
    check(r.p.goldMatchesRecompute(), "gold differs from a full recompute")
    // each cycle governs after its gold answer, so the drift the last
    // cycles landed is already persisted
    if (r.landed.exists(_.content.contains(BronzeGen.DriftField)))
      check(r.p.persistedSchema("rapid7").exists(
        _.fieldNames.contains(BronzeGen.DriftField)),
        s"persisted rapid7 schema lacks ${BronzeGen.DriftField}")
  }
}

object Bench {
  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .foreach(_.resetPeakUsage())

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
