package perfbench

import java.util.Base64

import graft.pipeline.EnvelopeCodec

/** The generator's own checks, run by `perfbench/test_perfbench.py`:
  * determinism for a seed (records and tables), and the ground-truth
  * label of every record of a tiny seed against the reference's
  * routing/key truth table applied to the record's decoded bytes. Prints
  * `ok` or exits non-zero.
  */
object SelfTest {
  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) { System.err.println(s"FAIL $msg"); sys.exit(1) }

  /** `main.go:362-430`: type filter, first-match route chain, app key. */
  def referenceOutcome(b64: String): Int =
    try {
      val e = EnvelopeCodec.decode(Base64.getDecoder.decode(b64))
      if (e.event_type != "LogMessage" || e.log_message.isEmpty) Gen.NonLogMessage
      else {
        val lm = e.log_message.get
        val si = lm.source_instance
        val dropped = si.startsWith("/var/log/") ||
          si.contains("/var/vcap/sys/log/gorouter/access.log") ||
          si.contains("/var/vcap/sys/log/director/") || si.startsWith("/var/vcap/sys/log/")
        val routed = !dropped &&
          (e.tags.get("source_id").contains("gorouter") || lm.source_type == "APP/PROC/WEB")
        if (!routed) Gen.Unrouted else if (lm.app_id.isEmpty) Gen.NoAppKey else Gen.Emitted
      }
    } catch { case _: EnvelopeCodec.MalformedEnvelopeException => Gen.Malformed }

  def main(args: Array[String]): Unit = {
    val a = new Gen.Source(7, 4)
    val b = new Gen.Source(7, 4)
    val c = new Gen.Source(8, 4)
    val xs = Vector.fill(5000)(a.next())
    check(xs == Vector.fill(5000)(b.next()), "same seed, different records")
    check(xs != Vector.fill(5000)(c.next()), "different seeds, same records")
    check(xs.map(_.shard) == xs.indices.map(_ % 4), "records are not dealt round-robin to shards")
    xs.foreach { r =>
      check(referenceOutcome(r.b64) == r.outcome,
        s"seq ${r.seq}: generator says ${Gen.OutcomeNames(r.outcome)}, " +
          s"reference says ${Gen.OutcomeNames(referenceOutcome(r.b64))}")
      if (r.outcome == Gen.Emitted) {
        val lm = EnvelopeCodec.decode(Base64.getDecoder.decode(r.b64)).log_message.get
        check(lm.app_id == r.appKey, s"seq ${r.seq}: app key ${r.appKey} != ${lm.app_id}")
        check(lm.source_instance == s"APP/PROC/WEB/${r.seq}", s"seq ${r.seq}: file_path breaks the shard audit")
      }
    }
    val counts = xs.groupBy(_.outcome).map { case (k, v) => Gen.OutcomeNames(k) -> v.size }
    Gen.OutcomeNames.foreach(o => check(counts.getOrElse(o, 0) > 0, s"no $o record in 5000"))
    check(xs.exists(_.keyClass == "invalid") && xs.exists(_.keyClass == "missing_from_dims") &&
      xs.exists(r => r.outcome == Gen.Emitted && r.expectedApp.nonEmpty), "app key classes missing")
    check(Gen.strippedName("a-green-blue") == "a-green" && Gen.strippedName("a-venerable") == "a",
      "app-name suffix rule")
    check(Gen.docId("gorouter-2026-01-01", 7) == "c4880431d5aa961f20521c96df702466", "doc_id is not md5(es_index:seq) in hex")
    val t5 = Fixtures.tables(5)
    check(t5 == Fixtures.tables(5), "same seed, different tables")
    check(t5.map(_.rows) != Fixtures.tables(6).map(_.rows), "different seeds, same tables")
    val customer = t5.find(_.name == "customer").get.rows
    check(customer.length == Gen.DimApps &&
      customer.forall(r => r.getString(1) == Gen.appName(r.getLong(0))), "dims names are not Gen.appName")
    println(s"ok ${counts.toSeq.sorted.mkString(" ")}")
  }
}
