package perfbench

import java.io.{File, PrintWriter}
import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, name: String, batchId: Long,
                      startMs: Double, endMs: Double, counts: Map[String, Long])

/** In-memory span recorder, written out once when the run ends. When
  * disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def nowMs: Double = epochOffsetMs + System.nanoTime() / 1e6
  def current: Long = stack.get.headOption.getOrElse(0L)

  def add(name: String, parent: Long, batchId: Long, startMs: Double, endMs: Double,
          counts: Map[String, Long] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.synchronized { spans += Span(id, parent, name, batchId, startMs, endMs, counts) }
    id
  }

  def span[T](name: String)(body: => T): T = spanC(name, (_: T) => Map.empty[String, Long])(body)

  /** Runs `body` inside a span; `counts` is evaluated on its result. */
  def spanC[T](name: String, counts: T => Map[String, Long])(body: => T): T = {
    if (!enabled) return body
    val parent = current
    val id = ids.incrementAndGet()
    stack.set(id :: stack.get)
    val t0 = nowMs
    try {
      val r = body
      spans.synchronized { spans += Span(id, parent, name, -1L, t0, nowMs, counts(r)) }
      r
    } finally stack.set(stack.get.tail)
  }

  def size: Int = spans.synchronized(spans.length)

  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try spans.synchronized(spans.sortBy(_.id)).foreach { s =>
      val c = s.counts.map { case (k, v) => s"${Util.json(k)}:$v" }.mkString("{", ",", "}")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Util.json(s.name)},""" +
        s""""batch_id":${s.batchId},"start_ms":${Util.num(s.startMs)},""" +
        s""""end_ms":${Util.num(s.endMs)},"counts":$c}""")
    } finally w.close()
  }
}

/** Records a span per trigger, with a child per `durationMs` phase, from
  * Spark's public listener API. Progress reports only phase durations, so
  * child spans are laid end to end in Spark's execution order.
  */
final class TriggerSpans(tracer: Tracer) extends StreamingQueryListener {
  @volatile var parentSpan: Long = 0L

  private val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = TriggerSpans.startMs(p).toDouble
    val trig = tracer.add("stream.trigger", parentSpan, p.batchId, start,
      start + d.getOrElse("triggerExecution", 0L),
      Map("rows" -> p.numInputRows))
    var t = start
    (phaseOrder.filter(d.contains) ++ d.keys.filterNot(k => phaseOrder.contains(k) ||
      k == "triggerExecution").toSeq.sorted).foreach { k =>
      tracer.add("stream." + k, trig, p.batchId, t, t + d(k)); t += d(k)
    }
  }
}

object TriggerSpans {
  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def commitMs(p: StreamingQueryProgress): Long =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L).longValue

  /** `shard-000.log=12;shard-001.log=9` → per-shard positions. */
  def offsets(json: String): Map[String, Long] =
    if (json == null || json.isEmpty || json == "null") Map.empty
    else json.split(";").map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toLong }.toMap
}
