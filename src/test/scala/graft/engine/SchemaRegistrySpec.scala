package graft.engine

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.time.Instant

import graft.SparkSpec
import graft.engine.SchemaRegistry._

class SchemaRegistrySpec extends SparkSpec {

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit(); p
  }

  private def writeFile(dir: Path, name: String, content: String,
      mtime: Long): Unit = {
    val f = dir.resolve(name)
    Files.writeString(f, content)
    Files.setLastModifiedTime(f, FileTime.fromMillis(mtime))
  }

  private def registry(bronze: Path, warehouse: Path) =
    new SchemaRegistry(spark, bronze.toString, warehouse.toString,
      Config(multiLine = false, samplingRatio = 1.0),
      now = () => Instant.parse("2026-01-01T00:00:00Z"))

  test("state JSON round-trips with sorted keys") {
    val s = TopicState("t1", lastProcessedMtime = 42L,
      sampleFiles = Seq("a", "b"), schemaHash = Some("h"),
      schemaChanged = Some(true), failureReason = None)
    val json = stateToJson(s)
    assert(json.indexOf("\"last_processed_mtime\"") <
      json.indexOf("\"sample_files\""), "keys must be sorted")
    assert(stateFromJson(json) == s)
  }

  test("initial run infers schema, writes schema + state, reports Updated") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("events.raw"))
    writeFile(topic, "a.json", """{"x": 1, "y": "s"}""", 1000L)
    writeFile(topic, "_hidden.json", """{"z": 1}""", 2000L) // must be ignored
    val reg = registry(bronze, wh)
    val out = reg.runOnce()
    assert(out == Seq(Updated("events.raw",
      out.head.asInstanceOf[Updated].schemaHash)))
    val schema = reg.readSchema("events.raw").get
    assert(schema.fieldNames.sorted.toSeq == Seq("x", "y"),
      "hidden files must not contribute fields; corrupt col dropped")
    val st = reg.readState("events.raw")
    assert(st.lastProcessedMtime == 1000L)
    assert(st.schemaChanged.contains(true))
    assert(st.sampleFileCount.contains(1))
    assert(st.failureReason.isEmpty)
  }

  test("unchanged rerun is skipped via the mtime watermark") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("t"))
    writeFile(topic, "a.json", """{"x": 1}""", 1000L)
    val reg = registry(bronze, wh)
    reg.runOnce()
    assert(reg.runOnce() == Seq(Skipped("t", "no new files since last run")))
  }

  test("drift: new field in a newer file rewrites schema and links hashes") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("t"))
    writeFile(topic, "a.json", """{"x": 1}""", 1000L)
    val reg = registry(bronze, wh)
    reg.runOnce()
    val h1 = reg.readState("t").schemaHash.get
    writeFile(topic, "b.json", """{"x": 2, "extra": "new"}""", 2000L)
    val out = reg.runOnce()
    assert(out.head.isInstanceOf[Updated])
    val st = reg.readState("t")
    assert(st.schemaHash.get != h1)
    assert(st.previousSchemaHash.contains(h1))
    assert(st.schemaChanged.contains(true))
    assert(st.lastProcessedMtime == 2000L)
    assert(reg.readSchema("t").get.fieldNames.contains("extra"))
  }

  test("same-schema new file refreshes state without rewrite (Unchanged)") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("t"))
    writeFile(topic, "a.json", """{"x": 1}""", 1000L)
    val reg = registry(bronze, wh)
    reg.runOnce()
    writeFile(topic, "b.json", """{"x": 5}""", 2000L)
    val out = reg.runOnce()
    assert(out.head.isInstanceOf[Unchanged])
    val st = reg.readState("t")
    assert(st.schemaChanged.contains(false))
    assert(st.lastProcessedMtime == 2000L)
  }

  test("autoMapCanonical: a schema CHANGE emits a fresh reviewable " +
      "mapping_proposal beside the schema artifact; an unchanged pass " +
      "leaves it alone; drift replaces it (stale confidences described " +
      "the old shape)") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("rapid7_assets"))
    writeFile(topic, "a.json",
      """{"id": 1, "ip": "10.0.0.1", "hostName": "h1"}""", 1000L)
    val reg = new SchemaRegistry(spark, bronze.toString, wh.toString,
      Config(multiLine = false, samplingRatio = 1.0,
        autoMapCanonical = Some(CanonicalSchema.schema)),
      now = () => Instant.parse("2026-01-01T00:00:00Z"))
    reg.runOnce()
    val pPath = new org.apache.hadoop.fs.Path(
      s"$wh/rapid7_assets/mapping_proposal")
    val f = pPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(pPath), "proposal must land beside the schema")
    def proposalJson() = {
      val in = f.open(pPath)
      val t = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
    }
    val p1 = proposalJson()
    // source name stripped from the topic → 'rapid7' namespacing works
    assert(p1.get("source").asText() == "rapid7")
    val targets1 = (0 until p1.get("suggestions").size())
      .map(i => p1.get("suggestions").get(i).get("target").asText())
    assert(targets1.toSet ==
      Set("rapid7_id", "primary_ip", "asset_name", "primary_hostname"))
    val m1 = f.getFileStatus(pPath).getModificationTime
    // unchanged pass (mtime watermark) → untouched
    reg.runOnce()
    assert(f.getFileStatus(pPath).getModificationTime == m1)
    // drift: a new field → schema rewrites AND the proposal refreshes
    writeFile(topic, "b.json",
      """{"id": 2, "ip": "10.0.0.2", "hostName": "h2",
        |"riskScore": 5.5}""".stripMargin.replaceAll("\n", ""), 2000L)
    reg.runOnce()
    val p2 = proposalJson()
    val targets2 = (0 until p2.get("suggestions").size())
      .map(i => p2.get("suggestions").get(i).get("target").asText())
    assert(targets2.contains("risk_score"), s"drifted proposal: $targets2")
  }

  test("failure path preserves prior progress and records the reason") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("t"))
    writeFile(topic, "a.json", """{"x": 1}""", 1000L)
    val reg = registry(bronze, wh)
    reg.runOnce()
    val before = reg.readState("t")
    // a newer file whose records are ALL unreadable → every field null-type
    // is still a schema… force failure instead with an empty-schema batch:
    writeFile(topic, "b.json", "", 2000L)
    writeFile(topic, "c.json", "", 2001L)
    // registry with maxFiles=2 samples only the two newest (empty) files
    val reg2 = new SchemaRegistry(spark, bronze.toString, wh.toString,
      Config(multiLine = false, samplingRatio = 1.0, maxFilesForInference = 2),
      now = () => Instant.parse("2026-01-02T00:00:00Z"))
    val out = reg2.runOnce()
    assert(out.head.isInstanceOf[Failed])
    val st = reg2.readState("t")
    assert(st.lastProcessedMtime == before.lastProcessedMtime,
      "failure must not advance the watermark")
    assert(st.schemaHash == before.schemaHash)
    assert(st.failureReason.exists(_.contains("empty schema")))
    assert(st.lastAttemptTs.contains("2026-01-02T00:00:00Z"))
    assert(st.lastSuccessTs == before.lastSuccessTs)
  }

  test("top-N newest sampling bounds inference work") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    val topic = Files.createDirectory(bronze.resolve("t"))
    (1 to 10).foreach(i =>
      writeFile(topic, s"f$i.json", s"""{"x": $i}""", 1000L + i))
    val reg = new SchemaRegistry(spark, bronze.toString, wh.toString,
      Config(multiLine = false, samplingRatio = 1.0, maxFilesForInference = 3),
      now = () => Instant.parse("2026-01-01T00:00:00Z"))
    reg.runOnce()
    val st = reg.readState("t")
    assert(st.sampleFileCount.contains(3))
    assert(st.sampleFiles.forall(p =>
      p.endsWith("f8.json") || p.endsWith("f9.json") || p.endsWith("f10.json")),
      s"should sample the 3 newest, got ${st.sampleFiles}")
  }

  test("a governance pass runs one Spark job per changed topic (its " +
      "inference); the schema and state artifacts are written without " +
      "one and read back as one part file each") {
    val bronze = tmp("bronze-"); val wh = tmp("wh-")
    Seq("t1", "t2").foreach { t =>
      val topic = Files.createDirectory(bronze.resolve(t))
      writeFile(topic, "a.json", s"""{"x": 1, "$t": "s"}""", 1000L)
    }
    val reg = registry(bronze, wh)
    var out = Seq.empty[Outcome]
    assert(jobsDuring { out = reg.runOnce() } == 2)
    assert(out.forall(_.isInstanceOf[Updated]), out)
    Seq("t1", "t2").foreach { t =>
      assert(reg.readSchema(t).get.fieldNames.toSet == Set("x", t))
      assert(reg.readState(t).lastProcessedMtime == 1000L)
      Seq("schema", "_state").foreach { a =>
        val parts = Files.list(wh.resolve(t).resolve(a)).toArray.toSeq
          .map(_.toString.split('/').last).filterNot(_.startsWith("."))
        assert(parts == Seq("part-00000.txt"), s"$t/$a: $parts")
      }
    }
    // drift on one topic rewrites its artifacts in place
    writeFile(bronze.resolve("t1"), "b.json", """{"y": 2}""", 2000L)
    assert(jobsDuring { out = reg.runOnce() } == 1)
    assert(reg.readSchema("t1").get.fieldNames.toSet == Set("x", "t1", "y"))
    assert(reg.readState("t1").previousSchemaHash.isDefined)
  }
}
