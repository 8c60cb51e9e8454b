package graft.engine

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Cluster-grade contract of the [[Materialize]] index-artifact layer:
  * shared-root placement, build-once reuse, version-keyed invalidation
  * when a corpus changes in place, and same-key build deduplication
  * across threads (the round-4 verdict's three findings); plus
  * readable (not dot-hidden) artifact dirs and orphan reaping.
  */
class MaterializeSpec extends SparkSpec {

  private def tmpDir(prefix: String): Path =
    Files.createTempDirectory(prefix)

  /** A tiny corpus dir: one parquet table the build can read. */
  private def mkCorpus(): Path = {
    val d = tmpDir("mat-corpus-")
    spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))
      .write.parquet(s"$d/t.parquet")
    d
  }

  private def withRoot[A](body: => A): A = {
    val root = tmpDir("mat-root-")
    spark.conf.set("graft.materialize.root", root.toString)
    try body finally spark.conf.unset("graft.materialize.root")
  }

  test("artifacts live under the configured shared root and build once") {
    withRoot {
      val corpus = mkCorpus()
      val builds = new AtomicInteger(0)
      def read() = Materialize.table(spark, "spec_a", corpus.toString) {
        builds.incrementAndGet()
        spark.read.parquet(s"$corpus/t.parquet")
          .groupBy("k").agg(count(lit(1)).as("n"))
      }
      val first = read().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      val second = read().orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(builds.get() == 1, "second read must serve the artifact")
      assert(first.toSeq == second.toSeq)
      val root = Paths.get(spark.conf.get("graft.materialize.root"))
      val names = Files.list(root).toArray.map(_.toString)
      assert(names.exists(_.endsWith(".ptr")),
        s"pointer file expected under shared root, found ${names.toSeq}")
    }
  }

  test("a corpus changed in place yields a NEW artifact (version-keyed), " +
      "never stale data") {
    withRoot {
      val corpus = mkCorpus()
      val builds = new AtomicInteger(0)
      def total() = Materialize.table(spark, "spec_v", corpus.toString) {
        builds.incrementAndGet()
        spark.read.parquet(s"$corpus/t.parquet").agg(sum("id").as("s"))
      }.collect().head.getLong(0)
      assert(total() == (0L until 100).sum && builds.get() == 1)
      // grow the corpus in place: a second parquet dir under the corpus
      spark.range(100, 200).select(col("id"), (col("id") % 7).as("k"))
        .write.parquet(s"$corpus/t2.parquet")
      val grown = Materialize.table(spark, "spec_v", corpus.toString) {
        builds.incrementAndGet()
        spark.read.parquet(s"$corpus/t.parquet", s"$corpus/t2.parquet")
          .agg(sum("id").as("s"))
      }.collect().head.getLong(0)
      assert(builds.get() == 2, "changed corpus must trigger a fresh build")
      assert(grown == (0L until 200).sum)
    }
  }

  test("concurrent same-key requests build exactly once and all read the " +
      "published artifact") {
    withRoot {
      val corpus = mkCorpus()
      val builds = new AtomicInteger(0)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val counts = Await.result(Future.sequence((1 to 4).map(_ => Future {
        Materialize.table(spark, "spec_c", corpus.toString) {
          builds.incrementAndGet()
          spark.read.parquet(s"$corpus/t.parquet").filter(col("k") === 3)
        }.count()
      })), 2.minutes)
      assert(builds.get() == 1, s"expected one build, got ${builds.get()}")
      assert(counts.distinct.size == 1)
    }
  }

  test("the published artifact dir is not dot-hidden, and a publish " +
      "reaps old orphaned staging dirs under the current and the " +
      "legacy dotted name") {
    withRoot {
      val corpus = mkCorpus()
      val root = Paths.get(spark.conf.get("graft.materialize.root"))
      val dirH = java.security.MessageDigest.getInstance("SHA-256")
        .digest(corpus.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val orphans = Seq(".stage", "stage").map { prefix =>
        val d = Files.createDirectories(
          root.resolve(s"$prefix-spec_g-$dirH-dead-builder"))
        d.toFile.setLastModified(System.currentTimeMillis() - 7200000L)
        d
      }
      val published = Materialize.path(spark, "spec_g", corpus.toString)(
        spark.read.parquet(s"$corpus/t.parquet"))
      assert(Paths.get(published).getFileName.toString
        .startsWith("stage-spec_g-"), published)
      orphans.foreach(d => assert(!Files.exists(d), s"orphan kept: $d"))
      assert(spark.read.parquet(published).count() == 100L)
    }
  }
}
