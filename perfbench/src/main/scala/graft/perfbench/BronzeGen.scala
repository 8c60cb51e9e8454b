package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest
import java.util.{HexFormat, Locale, SplittableRandom}

/** Seeded bronze generator for the two reference sources.
  *
  * Documents follow the explicit bronze schemas of
  * `SourceSpec.rapid7` / `SourceSpec.fortisiem` (the shapes of
  * `Fixtures`). Every file is one pretty-printed JSON array, so the
  * engine's `multiLine=true` reader sees several documents per file; a
  * corrupt file is a truncated document and surfaces as exactly one
  * `_corrupt_record` row. Sightings draw assets from a fixed pool with a
  * heavy head, so gold groups differ in size. The engine sees only the
  * files; the counts it must reproduce come back as [[Expected]].
  *
  * Output depends on the seed alone: the same seed gives byte-identical
  * files.
  */
object BronzeGen {

  val Sources: Seq[String] = Seq("rapid7", "fortisiem")
  def topic(source: String): String = s"${source}_assets"

  /** Field every rapid7 document carries from the drift wave on. */
  val DriftField = "agentVersion"

  private val PoolSize = Map("rapid7" -> 600, "fortisiem" -> 400)

  /** One generated file. `uids` are the `asset_uid`s of its good rows. */
  final case class GenFile(source: String, name: String, content: String,
      goodRows: Int, corrupt: Boolean, uids: Set[String]) {
    def bytes: Array[Byte] = content.getBytes(UTF_8)
  }

  /** What the engine must reproduce from a set of files. */
  final case class Expected(goodRows: Map[String, Long],
      distinctUids: Map[String, Long], corruptFiles: Map[String, Int],
      files: Map[String, Int]) {
    def toJson: String = {
      def obj[V](m: Map[String, V]) = Sources
        .map(s => s"\"$s\": ${m.getOrElse(s, 0)}").mkString("{", ", ", "}")
      s"""{"good_rows": ${obj(goodRows)}, "distinct_asset_uid": """ +
        s"""${obj(distinctUids)}, "corrupt_files": ${obj(corruptFiles)}, """ +
        s""""files": ${obj(files)}}"""
    }
  }

  def expected(files: Seq[GenFile]): Expected = {
    val by = files.groupBy(_.source)
    def per[V](f: Seq[GenFile] => V): Map[String, V] =
      Sources.map(s => s -> f(by.getOrElse(s, Nil))).toMap
    Expected(
      per(_.map(_.goodRows.toLong).sum),
      per(_.flatMap(_.uids).toSet.size.toLong),
      per(_.count(_.corrupt)),
      per(_.size))
  }

  /** `n` files of `records` documents for `source`, `corruptEvery`-th
    * file (counted from a seeded offset) truncated. `tag` names the
    * file set; distinct tags give independent draws.
    */
  def files(seed: Long, source: String, tag: String, n: Int, records: Int,
      corruptEvery: Int, drift: Boolean = false): Seq[GenFile] = {
    require(Sources.contains(source), s"unknown source $source")
    val rnd = new SplittableRandom(mix(seed, s"$source/$tag"))
    val corruptOffset = rnd.nextInt(corruptEvery)
    (0 until n).map { i =>
      val name = f"$tag-$i%05d.json"
      if (i % corruptEvery == corruptOffset) {
        val doc = document(rnd, source, drift)._1
        GenFile(source, name, "[\n" + doc.take(doc.length / 2), 0, true,
          Set.empty)
      } else {
        val docs = (0 until records).map(_ => document(rnd, source, drift))
        GenFile(source, name, docs.map(_._1).mkString("[\n", ",\n", "\n]\n"),
          records, false, docs.map(_._2).toSet)
      }
    }
  }

  /** Write files into `<bronzeRoot>/<topic>/`, each made visible by one
    * rename so a file source never lists a half-written file.
    */
  def write(bronzeRoot: Path, files: Seq[GenFile]): Unit = files.foreach {
    f =>
      val dir = bronzeRoot.resolve(topic(f.source))
      Files.createDirectories(dir)
      val tmp = dir.resolve(s".${f.name}.tmp")
      Files.write(tmp, f.bytes)
      Files.move(tmp, dir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def mix(seed: Long, tag: String): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s"$seed/$tag".getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  /** Heavy-head draw: low indices are sighted far more often. */
  private def asset(rnd: SplittableRandom, source: String): Int =
    (PoolSize(source) * math.pow(rnd.nextDouble(), 2.5)).toInt

  private def sha256Hex(s: String): String =
    HexFormat.of.formatHex(
      MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  /** Normalize's surrogate key: sha2 over the lower-cased, trimmed
    * hostname and ip and the raw id, `|`-joined.
    */
  private def uid(host: String, ip: String, id: String): String =
    sha256Hex(Seq(host.trim.toLowerCase(Locale.ROOT),
      ip.trim.toLowerCase(Locale.ROOT), id).mkString("|"))

  private def num(x: Double): String = String.format(Locale.ROOT, "%.2f",
    java.lang.Double.valueOf(x))

  /** Case and whitespace variants of one hostname: one asset, one uid. */
  private def spelled(rnd: SplittableRandom, host: String): String =
    rnd.nextInt(4) match {
      case 0 => host.toUpperCase(Locale.ROOT)
      case 1 => s"  $host "
      case _ => host
    }

  private def document(rnd: SplittableRandom, source: String,
      drift: Boolean): (String, String) = {
    val a = asset(rnd, source)
    source match {
      case "rapid7" =>
        val id = 1000 + a
        val ip = s"10.${a / 200}.${a % 200}.${(a * 7) % 250 + 1}"
        val host = f"srv-$a%04d.corp.example"
        val family = Seq("Linux", "Windows", "BSD")(a % 3)
        val total = rnd.nextInt(40)
        val critical = rnd.nextInt(total / 4 + 1)
        val severe = rnd.nextInt(total - critical + 1)
        val driftLine =
          if (drift) s""",\n    "$DriftField": "7.${a % 9}.${a % 31}"""" else ""
        val doc =
          s"""  {
             |    "id": $id,
             |    "ip": "$ip",
             |    "hostName": "${spelled(rnd, host)}",
             |    "addresses": [{"ip": "$ip"}, {"ip": "192.168.${a % 250}.${a % 200 + 1}"}],
             |    "assessedForPolicies": ${a % 2 == 0},
             |    "assessedForVulnerabilities": true,
             |    "os": "$family ${a % 5 + 10}",
             |    "osCertainty": "${num(0.5 + rnd.nextDouble() / 2)}",
             |    "osFingerprint": {"architecture": "x86_64", "family": "$family", "vendor": "vendor-${a % 7}", "product": "product-${a % 11}", "cpe": {"version": "${a % 5 + 10}.0"}},
             |    "riskScore": ${num(rnd.nextDouble() * 1000)},
             |    "rawRiskScore": ${num(rnd.nextDouble() * 1200)},
             |    "vulnerabilities": {"total": $total, "critical": $critical, "severe": $severe, "moderate": ${total - critical - severe}, "exploits": ${rnd.nextInt(3)}, "malwareKits": 0}$driftLine
             |  }""".stripMargin
        (doc, uid(host, ip, id.toString))
      case _ =>
        val oid = sha256Hex(s"device-$a").take(24)
        val ip = s"172.16.${a / 250}.${a % 250 + 1}"
        val host = f"fw-$a%04d"
        val doc =
          s"""  {
             |    "_id": {"$$oid": "$oid"},
             |    "accessIp": "$ip",
             |    "name": "${spelled(rnd, host)}",
             |    "naturalId": "FGT${a}X${rnd.nextInt(10)}",
             |    "approved": ${rnd.nextInt(5) != 0},
             |    "unmanaged": ${a % 9 == 0},
             |    "deviceType": {"vendor": "Fortinet", "model": "FortiGate-${60 + a % 4 * 20}F", "version": "7.${a % 4}.${rnd.nextInt(9)}"}
             |  }""".stripMargin
        (doc, uid(host, ip, oid))
    }
  }
}
