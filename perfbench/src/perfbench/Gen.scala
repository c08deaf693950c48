package perfbench

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Base64, SplittableRandom}

import scala.collection.mutable

/** Seeded input generator with its own ground truth.
  *
  * Records are Loggregator envelopes, protobuf-encoded by the small
  * wire writer below (not the program's codec), base64'd into shard-log
  * lines `seq,arrivalMillis,base64`. Every record carries the outcome
  * the reference's routing/key truth table gives it (`main.go:362-430`):
  * malformed, not a LogMessage, unrouted (incl. the four dormant
  * drop-routes), no app key, or emitted to `gorouter-<day>`. The
  * outcome is derived from what the generator chose, never by running
  * the pipeline.
  *
  * Shard-line poison (a line that is not `seq,millis,base64`) is never
  * generated: it stops the stream, and a stuck stream has no
  * throughput to measure.
  */
object Gen {
  final val Emitted = 0
  final val Malformed = 1
  final val NonLogMessage = 2
  final val Unrouted = 3
  final val NoAppKey = 4
  val OutcomeNames: IndexedSeq[String] =
    IndexedSeq("emitted", "malformed", "non_logmessage", "unrouted", "no_app_key")

  /** Rows of the generated app dimension (customer at sf0.1). */
  val DimApps = 15000
  val Nations = 25
  val Regions = 5
  val StripSuffixes: Seq[String] = Seq("-venerable", "-blue", "-green")

  def guid(n: Long): String = f"$n%08d-0000-4000-8000-$n%012d"

  /** Name of dims app `k`; `Fixtures` writes the dimension with it. Some names carry a
    * suffix the reference strips (`strippedName`).
    */
  def appName(k: Long): String = {
    val base = f"Customer#$k%09d"
    (k % 17).toInt match {
      case 3 => base + "-blue"
      case 5 => base + "-green-blue"
      case 7 => base + "-venerable"
      case _ => base
    }
  }

  /** Reference app-name rule: strip the first matching suffix. */
  def strippedName(name: String): String =
    StripSuffixes.find(name.endsWith).map(s => name.dropRight(s.length)).getOrElse(name)

  private val dayFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  def esIndex(arrivalMillis: Long): String =
    "gorouter-" + dayFmt.format(Instant.ofEpochMilli(arrivalMillis))

  def docId(esIndex: String, seq: Long): String = {
    val d = MessageDigest.getInstance("MD5").digest(s"$esIndex:$seq".getBytes(UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(Character.forDigit((b >> 4) & 0xf, 16)).append(Character.forDigit(b & 0xf, 16)))
    sb.toString
  }

  /** One generated record. `appKey`/`expectedApp` are set for emitted ones. */
  final case class Rec(seq: Long, shard: Int, outcome: Int, route: String, keyClass: String,
                       appKey: String, expectedApp: String, msgLen: Int, b64: String)

  // ---- protobuf wire writer (proto2 encoding of the fields the pipeline reads)
  private final class Pb {
    val out = new java.io.ByteArrayOutputStream()
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def str(field: Int, s: String): Unit = bytes(field, s.getBytes(UTF_8))
    def bytes(field: Int, b: Array[Byte]): Unit = {
      varint((field.toLong << 3) | 2); varint(b.length.toLong); out.write(b)
    }
    def vint(field: Int, v: Long): Unit = { varint(field.toLong << 3); varint(v) }
    def result: Array[Byte] = out.toByteArray
  }

  private val Verbs = Array("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val Paths = Array("/", "/api/v1/items", "/healthz", "/static/app.js",
    "/search", "/api/v2/records/export", "/login", "/assets/img/logo.png")
  private val Agents = Array("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
    "curl/7.88.1", "python-requests/2.31.0", "Go-http-client/1.1")
  private val AppLines = Array("INFO  request handled", "WARN  slow upstream response",
    "ERROR connection reset by peer", "DEBUG cache refresh complete",
    "INFO  worker heartbeat ok")
  private val DropInstances = Array("/var/log/syslog", "/var/vcap/sys/log/gorouter/access.log",
    "/var/vcap/sys/log/director/director.debug.log", "/var/vcap/sys/log/uaa/uaa.log")
  private val DropRoutes = Array("drop_var_log", "drop_gorouter_access", "drop_director",
    "drop_vcap_sys_log")
  private val NonLogTypes = Array(4L, 6L, 6L, 7L, 7L, 8L, 9L)

  private def hex(r: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Character.forDigit(r.nextInt(16), 16)); i += 1 }
    sb.toString
  }
  private def ip(r: SplittableRandom): String =
    s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"

  /** Gorouter access-log line, the shape (and length spread) of real traffic. */
  private def accessLine(r: SplittableRandom, appId: String): String = {
    val path = Paths(r.nextInt(Paths.length)) +
      (if (r.nextInt(3) == 0) "?q=" + hex(r, 4 + r.nextInt(120)) else "")
    s"""app.example.gov.au - [2026-01-01T00:00:00.000+0000] "${Verbs(r.nextInt(Verbs.length))} $path HTTP/1.1" """ +
      s"""${Vector(200, 200, 200, 204, 302, 404, 500)(r.nextInt(7))} 0 ${r.nextInt(90000)} "-" """ +
      s""""${Agents(r.nextInt(Agents.length))}" "${ip(r)}:${1024 + r.nextInt(60000)}" """ +
      s""""${ip(r)}:61001" x_forwarded_for:"${ip(r)}" x_forwarded_proto:"https" """ +
      s"""vcap_request_id:"${hex(r, 8)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 4)}-${hex(r, 12)}" """ +
      s"""response_time:0.${r.nextInt(999999)} app_id:"$appId" app_index:"${r.nextInt(4)}" """ +
      s"""x_b3_traceid:"${hex(r, 16)}" x_b3_spanid:"${hex(r, 16)}""""
  }

  private def appLine(r: SplittableRandom): String =
    AppLines(r.nextInt(AppLines.length)) + " " + hex(r, r.nextInt(200))

  private def malformedPayload(r: SplittableRandom): Array[Byte] = r.nextInt(4) match {
    case 0 => Array[Byte](0x0a, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0x01)
    case 1 => Array[Byte](0x0a, 0x7f, 0x61, 0x62, 0x63) // length past the end
    case 2 => Array[Byte](0x10, 0x05, 0x0f, 0x00) // wire type 7
    case _ => // a LogMessage envelope without the required origin
      val lm = new Pb; lm.str(1, "orphan"); lm.vint(2, 1); lm.vint(3, 1L)
      val e = new Pb; e.vint(2, 5); e.bytes(8, lm.result); e.result
  }

  /** Deterministic record stream: the same seed gives the same records. */
  final class Source(seed: Long, nShards: Int) {
    private val r = new SplittableRandom(seed)
    private var seq = 0L

    def next(): Rec = {
      val s = seq; seq += 1
      val shard = (s % nShards).toInt
      // assumed shares (see README.md): 1% malformed, 14% other event types
      val u = r.nextInt(1000)
      val rec: Rec =
        if (u < 10) Rec(s, shard, Malformed, "malformed", "", "", "", 0, enc(malformedPayload(r)))
        else if (u < 150) {
          val e = envelopeHead(NonLogTypes(r.nextInt(NonLogTypes.length)))
          Rec(s, shard, NonLogMessage, "non_logmessage", "", "", "", 0, enc(e.result))
        } else logMessage(s, shard)
      rec
    }

    private def envelopeHead(eventType: Long): Pb = {
      val e = new Pb
      e.str(1, Vector("cf.prod.gov.au", "cf.staging.gov.au")(r.nextInt(2)))
      e.vint(2, eventType)
      e.vint(6, 1767225600000000000L + r.nextInt(1000000))
      e.str(13, "cf"); e.str(14, Vector("router", "diego-cell")(r.nextInt(2)))
      e.str(15, hex(r, 8)); e.str(16, ip(r))
      e
    }

    private def logMessage(s: Long, shard: Int): Rec = {
      // routing mix (assumed, see README.md): gorouter tag 45%, APP/PROC/WEB 30%,
      // dormant drop-routes 12%, unrouted 13%
      val u = r.nextInt(100)
      val (route, tagGorouter, sourceType, instance) =
        if (u < 45) ("gorouter_tag", true, "RTR", s"APP/PROC/WEB/$s")
        else if (u < 75) ("app_proc_web", false, "APP/PROC/WEB", s"APP/PROC/WEB/$s")
        else if (u < 87) {
          val d = r.nextInt(4)
          (DropRoutes(d), d == 1, "RTR", DropInstances(d))
        } else ("unrouted", false, Vector("APP/PROC/WORKER", "STG", "")(r.nextInt(3)),
          s"APP/PROC/WORKER/$s")
      // app ids: 1/7 empty; assumed: 3% invalid, else cubic skew over 1.2x the dims key space
      val v = r.nextInt(700)
      val (keyClass, appId) =
        if (v < 100) ("empty", "")
        else if (v < 121) ("invalid", "app-" + hex(r, 10))
        else {
          val k = (DimApps * 1.2 * math.pow(r.nextDouble(), 3)).toLong
          (if (k < DimApps) "in_dims" else "missing_from_dims", guid(k))
        }
      val msg = if (tagGorouter || route == "gorouter_tag") accessLine(r, appId) else appLine(r)
      val lm = new Pb
      lm.str(1, msg); lm.vint(2, 1 + r.nextInt(2)); lm.vint(3, 1767225600000000000L + s)
      if (appId.nonEmpty) lm.str(4, appId)
      if (sourceType.nonEmpty) lm.str(5, sourceType)
      lm.str(6, instance)
      val e = envelopeHead(5)
      e.bytes(8, lm.result)
      if (tagGorouter) { val t = new Pb; t.str(1, "source_id"); t.str(2, "gorouter"); e.bytes(17, t.result) }
      if (r.nextInt(2) == 0) { val t = new Pb; t.str(1, "deployment"); t.str(2, "cf"); e.bytes(17, t.result) }
      val routed = route == "gorouter_tag" || route == "app_proc_web"
      val outcome = if (!routed) Unrouted else if (appId.isEmpty) NoAppKey else Emitted
      val expectedApp =
        if (outcome == Emitted && keyClass == "in_dims")
          strippedName(appName(appId.take(8).toLong)) else ""
      Rec(s, shard, outcome, route, keyClass, if (outcome == Emitted) appId else "",
        expectedApp, msg.length, enc(e.result))
    }
  }

  private def enc(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)

  def line(rec: Rec, arrivalMillis: Long): String = s"${rec.seq},$arrivalMillis,${rec.b64}\n"

  /** Input properties the generator records for every run. */
  final class Props {
    val outcome = Array.fill(5)(0L)
    val route = mutable.TreeMap.empty[String, Long]
    val keyClass = mutable.TreeMap.empty[String, Long]
    private val lens = mutable.ArrayBuffer.empty[Int]
    def add(r: Rec): Unit = {
      outcome(r.outcome) += 1
      route(r.route) = route.getOrElse(r.route, 0L) + 1
      if (r.keyClass.nonEmpty) keyClass(r.keyClass) = keyClass.getOrElse(r.keyClass, 0L) + 1
      if (r.msgLen > 0 && lens.length < 200000) lens += r.msgLen
    }
    def total: Long = outcome.sum
    def toJson: String = {
      val l = lens.sorted
      def q(p: Double) = if (l.isEmpty) 0 else l(((l.length - 1) * p).toInt)
      def m(x: collection.Map[String, Long]) =
        x.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"records":$total,"outcomes":${m(OutcomeNames.zip(outcome).toMap)},""" +
        s""""routes":${m(route)},"app_keys":${m(keyClass)},""" +
        s""""msg_len":{"p10":${q(0.1)},"p50":${q(0.5)},"p90":${q(0.9)},"max":${q(1.0)}}}"""
    }
  }

  /** Appends pre-formatted lines to shard logs, one write per shard. */
  def appendLines(dir: File, byShard: collection.Map[Int, StringBuilder]): Unit =
    byShard.foreach { case (s, sb) =>
      if (sb.nonEmpty) {
        val out = new FileOutputStream(shardFile(dir, s), true)
        try out.write(sb.toString.getBytes(UTF_8)) finally out.close()
      }
    }

  def shardFile(dir: File, s: Int): File = new File(dir, f"shard-$s%03d.log")
}
