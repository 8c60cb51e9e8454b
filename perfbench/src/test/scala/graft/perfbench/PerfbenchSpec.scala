package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Sessions

/** The benchmark's own checks, at a scale that runs in seconds. */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = Sessions.local(2, "perfbench-spec")
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    s
  }
  // scratch space inside the build directory, removed when the suite ends
  private lazy val scratch = Files.createDirectories(
    Paths.get("..", ".bench_build", "spec").toAbsolutePath)
  override def afterAll(): Unit = {
    spark.stop()
    if (Files.exists(scratch))
      Files.walk(scratch).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
  }

  private def tmp(): Path = Files.createTempDirectory(scratch, "run-")

  import Workload.both

  private val smallTrickle = Workload("trickle", Some(1),
    seed => both(seed, "seed", 3, 15, 3),
    (seed, i) => both(seed, f"c$i%03d", 2, 5, 2), cycleS = 1)
  private val smallWaves = Workload("waves", None,
    seed => both(seed, "seed", 3, 10, 3),
    (seed, i) => both(seed, f"w$i%03d", 2, 5, Int.MaxValue,
      drift = i >= Workload.DriftCycle), cycleS = 1)

  private def tree(root: Path): Map[String, Seq[Byte]] =
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        Files.readAllBytes(f).toSeq).toMap

  test("the same seed writes byte-identical bronze; another seed does not") {
    val files = (seed: Long) => Workload.all.values.toSeq.sortBy(_.name)
      .flatMap(w => w.landed(seed, 6))
    val (a, b, c) = (tmp(), tmp(), tmp())
    BronzeGen.write(a, files(7))
    BronzeGen.write(b, files(7))
    BronzeGen.write(c, files(8))
    assert(tree(a).nonEmpty)
    assert(tree(a) == tree(b))
    assert(tree(a) != tree(c))
  }

  test("the expected record counts good rows, corrupt files and assets") {
    val fs = BronzeGen.files(3, "rapid7", "t", 10, 7, 5)
    val exp = BronzeGen.expected(fs)
    assert(exp.corruptFiles("rapid7") == 2)
    assert(exp.goodRows("rapid7") == 8 * 7)
    assert(exp.files == Map("rapid7" -> 10, "fortisiem" -> 0))
    assert(exp.distinctUids("rapid7") > 1)
    assert(exp.distinctUids("rapid7") < exp.goodRows("rapid7"),
      "sightings repeat assets")
    assert(fs.filter(_.corrupt).forall(_.content.startsWith("[")))
  }

  test("a run accounts for every row: silver equals the good rows, " +
      "rows_in minus corrupt_dropped equals silver, gold equals its " +
      "recompute") {
    for (w <- Seq(smallTrickle, smallWaves)) {
      val bench = new Bench(spark, tmp(), new Trace(spark, false, "spec"))
      val run = bench.setUp(w, 5)
      (0 until Workload.DriftCycle + 1).foreach(_ => bench.cycle(run, false))
      val scan = bench.silverScan(run, false)
      bench.gate(run, scan)
      val exp = BronzeGen.expected(w.landed(5, Workload.DriftCycle + 1))
      assert(Pipeline.bySource(scan.rows).map { case (s, (rows, _)) =>
        s -> rows } == exp.goodRows)
      val drains = run.seedDrain +: run.cycles.map(_.drain)
      def sum(metric: String) = drains.map(d =>
        BronzeGen.Sources.map(d.observed(_, metric)).sum).sum
      assert(sum("corrupt_dropped") == exp.corruptFiles.values.sum)
      assert(sum("rows_in") - sum("corrupt_dropped") == exp.goodRows.values.sum)
    }
  }

  test("a wrong row count fails the gate") {
    val bench = new Bench(spark, tmp(), new Trace(spark, false, "spec"))
    val run = bench.setUp(smallTrickle, 5)
    bench.cycle(run, false)
    // a file the generator's record does not know about
    BronzeGen.write(run.bronze, both(5, "extra", 1, 5, Int.MaxValue))
    run.p.drain()
    val e = intercept[IllegalStateException](
      bench.gate(run, bench.silverScan(run, false)))
    assert(e.getMessage.contains("silver rows"))
  }

  test("every metric BENCHMARK.json names is emitted, untraced and traced") {
    val spec = new String(Files.readAllBytes(
      Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(spec)
    def names(key: String) =
      root.get(key).elements.asScala.map(_.get("name").asText).toSet
    for (w <- Seq(smallTrickle, smallWaves); traced <- Seq(false, true)) {
      val o = Main.Opts(w.name, 5, 1, traced, tmp(), None, 2)
      assert(w.cycles(o.seconds) == Workload.MinCycles)
      val out = mapper.readTree(Main.measure(spark, o, w))
      assert(out.get("correct").asBoolean && out.get("failed").asInt == 0)
      val emitted = out.get("metrics").fieldNames.asScala.toSet
      val want = names(if (traced) "per_layer" else "end_to_end")
      assert(emitted == want, s"${w.name} traced=$traced")
    }
  }

  test("lock waits and job coverage are derived from intervals") {
    // two writers: the second call starts while the first holds the lock
    assert(Trace.lockWaits(Seq((0.0, 10.0), (4.0, 15.0), (20.0, 22.0))) ==
      Seq(0.0, 6.0, 0.0))
    assert(Trace.covered(Seq((0L, 10L), (5L, 12L), (20L, 21L))) == 13L)
  }
}
