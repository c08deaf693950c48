package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructType}

import graft.{GraftSession, QueriesRelational, SparkEntry, StreamingRehearsal}
import graft.pipeline.{Classifier, Enrich, Pipeline}
import graft.sources.{ShardReaderFactory, ShardSlice, ShardedMicroBatchStream, ShardedRecordSource}
import graft.streaming.StreamingPipeline

/** The benchmark's JVM, one per run: sets the engine up once (cold),
  * generates the seeded inputs, then drains a backlog, tails a live
  * open-loop stream and runs a battery query, checks every output and
  * writes one result file. The workload picks how deep each phase is,
  * so every end-to-end metric is measured on every workload.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <tablesDir> <resultFile>`
  */
object Main {

  private val t0Main = System.nanoTime()

  /** historyPerShard: lines already consumed before the run (the live tail's long history).
    * backlogPerShard: lines the restart drains, in drainBatches batches.
    */
  final case class Shape(historyPerShard: Int, backlogPerShard: Int, drainBatches: Int)

  // Depths and offered rates are assumptions of this benchmark: neither the
  // reference nor the repo gives a traffic figure for them. README.md gives
  // the reason for each value.
  val shapes: Map[String, Shape] = Map(
    "drain_backlog" -> Shape(0, 12000, 5),
    "live_tail" -> Shape(10000, 2500, 3))
  /** The live tail's low offered rate, far below what the tail commits, so
    * freshness reads per-trigger latency rather than queueing.
    */
  val LowRate = 2000.0
  /** The live path's code warms up over its first few batches: they are
    * not measured.
    */
  val PreRollMs = 3000L
  val LowShare = 0.75 // of --seconds at LowRate, after the pre-roll
  /** After the low-rate segment, bursts are appended to the idle tail; the
    * batch that takes one in shows the rate the tail sustains with batches
    * that large.
    */
  val Bursts = 2
  val BurstPerShard = 6000
  val PreRoll = -1; val Low = 0; val Burst = 1 // segments of the live tail; bursts are Burst + i
  val ProbePerShard = 5000
  /** Battery query every workload runs, so the operator library is measured too. */
  val Battery: Seq[String] = Seq("q108_bm25")

  val TriggerMs = 500L
  val LostMs = 1e9 // freshness of a record that never lands: misses every limit
  val BacklogEpochMs = 1767225600000L // 2026-01-01T00:00Z; backlog arrivals span 36 h

  /** Spark progress phases -> per-layer metric (medians over the low-rate segment's data batches). */
  val PhaseMetrics: Seq[(String, String)] = Seq(
    "latestOffset" -> "stream.latest_offset_ms", "getBatch" -> "stream.get_batch_ms",
    "queryPlanning" -> "stream.planning_ms", "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_ms",
    "triggerExecution" -> "stream.trigger_ms")
  /** Cumulative prefixes of the flagship, in order; each metric is the marginal cost of its prefix. */
  val PrefixMetrics: Seq[(String, String)] = Seq(
    "pipeline.decode" -> "pipeline.decode_ms", "pipeline.route" -> "pipeline.route_ms",
    "grok" -> "grok.ms", "pipeline.enrich" -> "pipeline.enrich_ms", "pipeline.docs" -> "pipeline.docs_ms")
  /** The funnel counts, in `Gen.OutcomeNames` order after `pipeline.read`. */
  val FunnelMetrics: Seq[String] = Seq("pipeline.read", "pipeline.emitted", "pipeline.malformed",
    "pipeline.non_logmessage", "pipeline.unrouted", "pipeline.no_app_key")

  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var props = "{}"
    def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    def l(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)
    def fail(msg: String): Unit = failures += msg
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, tablesS, resultS) = args
    val shape = shapes.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val work = new File(workS)
    val tracer = new Tracer(traceS == "1")
    val res = new Result
    try run(shape, seed, seconds, work, new File(tablesS), tracer, res)
    catch { case t: Throwable => t.printStackTrace(); res.fail(s"run aborted: $t") }
    finally SparkSession.getActiveSession.foreach(_.stop())
    if (tracer.enabled) tracer.write(new File(resultS + ".spans.jsonl"))
    writeResult(new File(resultS), res, tracer)
    System.exit(0)
  }

  private def session(cores: Int): SparkSession = {
    val s = GraftSession.get(s"local[$cores]", cores.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def readStream(spark: SparkSession, dir: File, cap: Option[Long]): DataFrame = {
    val r = spark.readStream.format(classOf[ShardedRecordSource].getName)
      .option("path", dir.getAbsolutePath)
    cap.fold(r)(c => r.option("maxRecordsPerBatch", c.toString)).load()
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A full GC before each measured phase, so no phase pays for the garbage of the one before. */
  private def settle(): Unit = System.gc()

  def log(msg: String): Unit = System.err.println(f"[perfbench ${ms(t0Main) / 1000}%7.2fs] $msg")

  def run(shape: Shape, seed: Long, seconds: Double, work: File, tables: File, tracer: Tracer,
          res: Result): Unit = {
    val n = Runtime.getRuntime.availableProcessors
    val shards = new File(work, "shards")
    val slice = new File(work, "slice")
    val warm = new File(work, "warm")
    Seq(shards, slice, warm).foreach(_.mkdirs())
    def fresh(name: String): String = { val f = new File(work, name); Util.rmTree(f); f.getAbsolutePath }

    // ---------------- set-up, timed from JVM main to the end of the warm-up:
    // session with the engine's extensions, dims, grok compile, a warm-up drain.
    // Writing the warm-up shards is input generation, and its time is taken out.
    log("setup")
    val tGen = System.nanoTime()
    tracer.span("setup.inputs") {
      writeLines(warm, { val w = new Gen.Source(seed + 1, n); Vector.fill(500 * n)(w.next()) },
        i => BacklogEpochMs + i)
    }
    val genMs = ms(tGen)
    val spark = tracer.span("setup.session")(session(n))
    val dims = tracer.span("setup.warm") {
      val d = QueriesRelational.flagshipDims(spark, tables.getAbsolutePath)
      d.queryExecution.toRdd.count()
      StreamingPipeline.start(readStream(spark, warm, None), d, fresh("warm_ck"),
        fresh("warm_out"), Trigger.AvailableNow()).awaitTermination()
      d
    }
    res.m("setup_s", (ms(t0Main) - genMs) / 1000, "s")
    log(f"setup ${(ms(t0Main) - genMs) / 1000}%.3f s (inputs ${genMs / 1000}%.3f s taken out)")

    // ---------------- input generation
    log("generating inputs")
    val src = new Gen.Source(seed, n)
    val props = new Gen.Props
    // history is only skipped over, never decoded: lines reuse a pool of payloads
    val pool = Vector.fill(997)(new Gen.Source(seed + 2, n).next())
    writeLines(shards, Vector.tabulate(shape.historyPerShard * n)(i => src.next().copy(b64 = pool(i % 997).b64)),
      i => BacklogEpochMs - 86400000L + i)
    val ckMain = fresh("ck")
    // mark the history consumed: a no-op sink never reads the records
    if (shape.historyPerShard > 0)
      readStream(spark, shards, None).writeStream.option("checkpointLocation", ckMain)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ())
        .start().awaitTermination()
    log("history written")
    val backlog = Vector.fill(shape.backlogPerShard * n)(src.next())
    val backlogSpanMs = 36L * 3600 * 1000
    val backlogLen = backlog.length
    val backlogArrival = (i: Int) => BacklogEpochMs + i * backlogSpanMs / backlogLen
    writeLines(shards, backlog, backlogArrival)
    backlog.foreach(props.add)
    // the layer probes' fixed slice: the first ProbePerShard backlog records of each shard
    writeLines(slice, backlog.take(ProbePerShard * n), backlogArrival)
    log("backlog written")
    if (tracer.enabled && new File(ckMain).exists)
      Seq("ck_untraced1", "ck_untraced2").foreach(c => copyTree(new File(ckMain), new File(work, c)))
    // the live schedule: pre-encoded records with due offsets from the live start
    val live = mutable.ArrayBuffer.empty[(Gen.Rec, Long, Int)] // rec, due offset, segment
    def schedule(rate: Double, fromMs: Double, lenMs: Double, segment: Int): Unit = {
      val k = (rate * lenMs / 1000).toInt
      (0 until k).foreach(i => live += ((src.next(), (fromMs + i * 1000.0 / rate).toLong, segment)))
    }
    schedule(LowRate, 0, PreRollMs, PreRoll)
    schedule(LowRate, PreRollMs, LowShare * seconds * 1000, Low)
    val bursts = Vector.fill(Bursts)(Vector.fill(BurstPerShard * n)(src.next()))
    live.foreach(x => props.add(x._1))
    bursts.foreach(_.foreach(props.add))
    res.props = props.toJson

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val triggerSpans = new TriggerSpans(tracer)
    if (tracer.enabled) spark.streams.addListener(triggerSpans)
    val mem = ManagementFactory.getMemoryMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val threads = ManagementFactory.getThreadMXBean
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage()); threads.resetPeakThreadCount()
    val gc0 = gcs.map(_.getCollectionTime).sum
    val cap = Some(math.max(1L, shape.backlogPerShard.toLong * n / shape.drainBatches))
    val out = fresh("out")

    def drain(ck: String, sink: String): (Double, Seq[Double], Long) = {
      val t0 = System.currentTimeMillis()
      val q = StreamingPipeline.start(readStream(spark, shards, cap), dims, ck, sink,
        Trigger.AvailableNow())
      q.awaitTermination()
      val ps = q.recentProgress.toSeq.filter(_.numInputRows > 0)
      val rows = ps.map(_.numInputRows).sum
      val end = if (ps.isEmpty) System.currentTimeMillis() else ps.map(TriggerSpans.commitMs).max
      (rows * 1000.0 / math.max(1L, end - t0),
        ps.map(_.durationMs.get("triggerExecution").doubleValue), rows)
    }

    // ---------------- drain the backlog (a restart)
    log("drain")
    settle()
    // traced runs bracket the traced drain with two untraced ones of the same backlog
    def untracedDrain(i: Int): Double = {
      spark.streams.removeListener(triggerSpans)
      try drain(new File(work, s"ck_untraced$i").getAbsolutePath, fresh(s"out_untraced$i"))._1
      finally spark.streams.addListener(triggerSpans)
    }
    val untraced1 = if (tracer.enabled) untracedDrain(1) else 0.0
    val counters = StreamingPipeline.registerMetrics(spark)
    val (drainRps, drainBatches, drainRows) = tracer.span("drain") {
      triggerSpans.parentSpan = tracer.current
      drain(ckMain, out)
    }
    res.m("drain_rps", drainRps, "records/s")
    res.m("drain_batch_p50_ms", Util.median(drainBatches), "ms")
    if (drainRows != backlog.length) res.fail(s"drain read $drainRows of ${backlog.length} records")
    if (tracer.enabled) {
      spark.streams.removeListener(counters)
      val untraced = (untraced1 + untracedDrain(2)) / 2
      spark.streams.addListener(counters)
      res.l("trace.overhead_pct", 100.0 * (untraced / drainRps - 1), "%")
    }

    // ---------------- tail a live stream (open loop, fixed schedule)
    settle()
    log("live")
    val basePos: Array[Long] = Array.tabulate(n)(s => ShardedRecordSource.countLines(Gen.shardFile(shards, s)))
    val liveQ = StreamingPipeline.start(readStream(spark, shards, None), dims, ckMain, out,
      Trigger.ProcessingTime(TriggerMs))
    val gen = new LiveGenerator(shards, live.toVector)
    tracer.span("live") {
      triggerSpans.parentSpan = tracer.current
      val genThread = new Thread(gen, "perfbench-generator")
      genThread.start()
      genThread.join()
    }
    def committed(): Long = liveQ.lastProgress match {
      case null => 0L
      case p => TriggerSpans.offsets(p.sources.head.endOffset).values.sum - basePos.sum
    }
    // wait (bounded) until every appended record is committed
    def catchUp(appended: Long): Unit = {
      val waitEnd = System.currentTimeMillis() + 20000
      while (committed() < appended && System.currentTimeMillis() < waitEnd && liveQ.isActive)
        Thread.sleep(20)
    }
    var appended = live.length.toLong
    catchUp(appended)
    // the bursts: each appended at once (one write per shard) to the idle tail,
    // half-way between two triggers (Spark fires them at multiples of the
    // interval since the epoch) and clear of the empty trigger that follows
    // a commit, so no trigger sees half a burst
    val burstAt = bursts.map { b =>
      val now = System.currentTimeMillis() + 250
      val at = now + Math.floorMod(TriggerMs / 2 - now, TriggerMs)
      val by = mutable.Map.empty[Int, StringBuilder]
      b.foreach(r => by.getOrElseUpdate(r.shard, new StringBuilder).append(Gen.line(r, at)))
      Thread.sleep(math.max(0L, at - System.currentTimeMillis()))
      tracer.span("live.burst")(Gen.appendLines(shards, by))
      appended += b.length
      catchUp(appended)
      at
    }
    liveQ.stop()
    liveQ.exception.foreach(e => res.fail(s"live query died: ${e.getMessage.take(300)}"))
    // every tail record with its arrival time and segment, in append order
    val tail: Vector[(Gen.Rec, Long, Int)] = live.toVector.map { case (r, d, g) => (r, gen.t0 + d, g) } ++
      bursts.zip(burstAt).zipWithIndex.flatMap { case ((b, at), i) => b.map(r => (r, at, Burst + i)) }
    liveMetrics(tail, gen, liveQ.recentProgress.toSeq, basePos, n, res)

    // ---------------- the reader's cost, then correctness of everything sunk
    log("view")
    settle()
    val views = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tracer.span("view") { StreamingPipeline.currentView(spark, out).queryExecution.toRdd.count() }
      ms(t0) / 1000
    }
    res.m("view_s", Util.median(views), "s")
    log("check")
    checkSink(spark, out, backlog, backlogArrival, tail, n, counters, res)
    log("checked")

    // ---------------- battery queries, honest (toRdd), results kept for the oracle
    log("battery")
    settle()
    val batteryOut = new File(work, "battery")
    batteryOut.mkdirs()
    val qTimes = Battery.map { q =>
      // warm JVM: one untimed execution first, then the median of three; some
      // queries materialise intermediates while the frame is built, so its
      // construction is timed too
      SparkEntry.queries(q)(spark, tables.getAbsolutePath).queryExecution.toRdd.count()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val (df, rows) = tracer.spanC(s"battery.$q",
          (r: (DataFrame, Array[org.apache.spark.sql.catalyst.InternalRow])) => Map("rows" -> r._2.length.toLong)) {
          val df = SparkEntry.queries(q)(spark, tables.getAbsolutePath)
          (df, df.queryExecution.toRdd.map(_.copy()).collect())
        }
        (ms(t0) / 1000, df, rows)
      }
      val t = Util.median(runs.map(_._1))
      val (_, df, rows) = runs.last
      val conv = CatalystTypeConverters.createToScalaConverter(df.schema)
      spark.createDataFrame(rows.map(r => conv(r).asInstanceOf[Row]).toSeq.asJava, df.schema)
        .coalesce(1).write.mode("overwrite").parquet(new File(batteryOut, q).getPath)
      res.l(s"battery.${q}_s", t, "s")
      q -> t
    }
    res.m("battery_s", qTimes.map(_._2).sum, "s")
    val oracle = Battery.map(q => s"${Util.json(q)}:${Util.json(SparkEntry.oracleSql(q))}")
    Files.write(new File(batteryOut, "oracle_sql.json").toPath,
      oracle.mkString("{", ",\n", "}").getBytes("UTF-8"))
    res.attempted += Battery.length

    res.l("jvm.gc_ms", (gcs.map(_.getCollectionTime).sum - gc0).toDouble, "ms")
    res.l("jvm.threads_peak", threads.getPeakThreadCount.toDouble, "count")
    res.l("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    // Spark's cleaner frees broadcasts and shuffles asynchronously: settle, then take the least
    val heapAfterGc = (1 to 3).map { i =>
      System.gc(); if (i == 2) Thread.sleep(300); mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    res.m("heap_after_gc_mb", heapAfterGc, "MB")

    if (tracer.enabled) {
      layerProbes(spark, dims, shards, slice, backlog.take(ProbePerShard * n), work, tracer, res)
      val (files, bytes) = Util.dirBytes(new File(out))
      val batches = liveQ.recentProgress.count(_.numInputRows > 0) + drainBatches.length
      res.l("sink.files", files.toDouble, "count")
      res.l("sink.files_per_batch", files.toDouble / math.max(1, batches), "count")
      res.l("sink.bytes", bytes.toDouble, "bytes")
      spark.stop()
      // the single-thread baseline: the same drain of the backlog at local[1]
      val s1 = session(1)
      val d1 = QueriesRelational.flagshipDims(s1, tables.getAbsolutePath)
      val t0 = System.currentTimeMillis()
      val q1 = tracer.span("scale.c1_drain") {
        val q = StreamingPipeline.start(readStream(s1, slice, cap), d1, fresh("ck_c1"), fresh("out_c1"),
          Trigger.AvailableNow())
        q.awaitTermination(); q
      }
      val rows1 = q1.recentProgress.map(_.numInputRows).sum
      res.l("scale.c1_rps", rows1 * 1000.0 / math.max(1L, System.currentTimeMillis() - t0), "records/s")
      s1.stop()
    }
  }

  private def writeLines(dir: File, recs: Seq[Gen.Rec], arrival: Int => Long): Unit = {
    val by = mutable.Map.empty[Int, StringBuilder]
    recs.zipWithIndex.foreach { case (r, i) =>
      by.getOrElseUpdate(r.shard, new StringBuilder).append(Gen.line(r, arrival(i)))
    }
    Gen.appendLines(dir, by)
  }

  private def copyTree(from: File, to: File): Unit =
    if (from.isDirectory) { to.mkdirs(); from.listFiles().foreach(f => copyTree(f, new File(to, f.getName))) }
    else Files.copy(from.toPath, to.toPath)

  /** The open-loop generator: one thread, whole lines, one write per shard per tick. */
  final class LiveGenerator(dir: File, live: IndexedSeq[(Gen.Rec, Long, Int)]) extends Runnable {
    val lateMs = new Array[Double](live.length)
    @volatile var t0: Long = 0L
    override def run(): Unit = {
      t0 = System.currentTimeMillis() + 50
      var j = 0
      while (j < live.length) {
        val now = System.currentTimeMillis()
        val due = t0 + live(j)._2
        if (now < due) Thread.sleep(math.min(20L, due - now))
        else {
          val by = mutable.Map.empty[Int, StringBuilder]
          val first = j
          while (j < live.length && t0 + live(j)._2 <= now) {
            val (r, d, _) = live(j)
            by.getOrElseUpdate(r.shard, new StringBuilder).append(Gen.line(r, t0 + d))
            j += 1
          }
          Gen.appendLines(dir, by)
          val wrote = System.currentTimeMillis()
          (first until j).foreach(k => lateMs(k) = (wrote - t0 - live(k)._2).toDouble)
        }
      }
    }
  }

  /** Freshness over the low-rate segment (commit time of a record's batch
    * minus its due time), the sustained rate from the bursts, and the
    * streaming layer's per-trigger numbers.
    */
  private def liveMetrics(tail: IndexedSeq[(Gen.Rec, Long, Int)], gen: LiveGenerator,
                          ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
                          basePos: Array[Long], n: Int, res: Result): Unit = {
    val names = (0 until n).map(s => Gen.shardFile(new File("."), s).getName)
    // shard position of every tail record, and the commit time of the batch that read it
    val perShard = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    tail.indices.foreach(j => perShard(tail(j)._1.shard) += j)
    val commit = Array.fill(tail.length)(LostMs)
    val data = ps.filter(_.numInputRows > 0).sortBy(_.batchId)
    // records of each shard committed once each data batch is done
    val done: Seq[Array[Long]] = data.map { p =>
      val en = TriggerSpans.offsets(p.sources.head.endOffset)
      Array.tabulate(n)(s => en.getOrElse(names(s), 0L) - basePos(s))
    }
    data.indices.foreach { b =>
      val c = TriggerSpans.commitMs(data(b)).toDouble
      (0 until n).foreach { s =>
        var k = if (b == 0) 0L else math.max(0L, done(b - 1)(s))
        while (k < done(b)(s) && k < perShard(s).length) { commit(perShard(s)(k.toInt)) = c; k += 1 }
      }
    }
    val fresh = tail.indices.filter(j => tail(j)._3 == Low && tail(j)._1.outcome == Gen.Emitted)
      .map(j => commit(j) - tail(j)._2)
    res.m("fresh_p50_ms", Util.pct(fresh, 0.5), "ms")
    res.m("fresh_p99_ms", Util.pct(fresh, 0.99), "ms")

    // sustained: a burst of B records is taken in by batches that run back to
    // back for T seconds. Offered B / T records/s, the tail would find B
    // records at every trigger and finish each in T: its backlog would not
    // grow. The faster burst counts, so one burst held up by a GC pause or
    // a busy host does not.
    val perBurst = (0 until Bursts).flatMap { i =>
      val g = Burst + i
      val first = Array.tabulate(n)(s => perShard(s).indexWhere(j => tail(j)._3 == g).toLong)
      val last = Array.tabulate(n)(s => perShard(s).lastIndexWhere(j => tail(j)._3 == g) + 1L)
      val k = done.indexWhere(d => (0 until n).exists(s => d(s) > first(s)))
      val m = done.indexWhere(d => (0 until n).forall(s => d(s) >= last(s)))
      if (k < 0 || m < 0) { res.fail(s"live tail did not commit burst $i"); None }
      else {
        val rows = data.slice(k, m + 1).map(_.numInputRows).sum
        val t = math.max(1L, TriggerSpans.commitMs(data(m)) - TriggerSpans.startMs(data(k)))
        log(s"burst $i: batches ${k + 1}..${m + 1}, $rows rows in $t ms")
        Some((rows * 1000.0 / t, t.toDouble, (m - k + 1).toDouble))
      }
    }
    if (perBurst.nonEmpty) {
      val fastest = perBurst.maxBy(_._1)
      res.m("sustained_rps", fastest._1, "records/s")
      res.l("live.burst_ms", fastest._2, "ms")
      res.l("live.burst_batches", perBurst.map(_._3).max, "count")
    }
    // backlog = appended - committed, sampled at each commit of the low-rate segment
    val lowLo = gen.t0 + PreRollMs
    val lowHi = tail.filter(_._3 == Low).map(_._2).max + TriggerMs
    val openLoop = tail.filter(_._3 <= Low).map(_._2)
    val samples = data.indices.map { b =>
      val c = TriggerSpans.commitMs(data(b)).toDouble
      (c, (openLoop.count(_ <= c) - done(b).sum).toDouble)
    }.filter { case (t, _) => t >= lowLo && t <= lowHi }
    // growth over the segment's second half: its first commits still carry the pre-roll
    val late = samples.filter(_._1 >= (lowLo + lowHi) / 2)
    val growth = if (late.length < 2) 0.0
      else (late.last._2 - late.head._2) * 1000 / math.max(1.0, late.last._1 - late.head._1)
    res.l("stream.backlog_end", samples.lastOption.map(_._2).getOrElse(0.0), "records")
    res.l("stream.backlog_growth_rps", growth, "records/s")
    res.l("gen.late_ms_p99", Util.pct(gen.lateMs.toSeq, 0.99), "ms")
    // per-trigger phases over the low-rate segment's batches, where triggers are small
    val lowBatches = data.filter { p => val c = TriggerSpans.commitMs(p); c >= lowLo && c <= lowHi }
    def phase(k: String) = Util.median(lowBatches.map(_.durationMs.getOrDefault(k, 0L).doubleValue))
    PhaseMetrics.foreach { case (k, name) => res.l(name, phase(k), "ms") }
    log("low-rate batches (ms): " + lowBatches.map(_.durationMs.get("triggerExecution")).mkString(" "))
    res.l("stream.batches", data.length.toDouble, "count")
    res.l("stream.rows_per_batch", Util.median(lowBatches.map(_.numInputRows.toDouble)), "records")
  }

  /** Emitted doc_id set == expected, no duplicates after currentView,
    * every doc routed to its index and enriched with its app, shard
    * purity/order, and the program's own counters == records read.
    */
  private def checkSink(spark: SparkSession, out: String, backlog: Seq[Gen.Rec],
                        backlogArrival: Int => Long, tail: IndexedSeq[(Gen.Rec, Long, Int)],
                        n: Int, counters: StreamingPipeline.Metrics,
                        res: Result): Unit = {
    val expected = mutable.HashMap.empty[String, (String, String, String)]
    def expect(r: Gen.Rec, arrival: Long): Unit = if (r.outcome == Gen.Emitted) {
      val idx = Gen.esIndex(arrival)
      expected(Gen.docId(idx, r.seq)) = (idx, r.appKey, r.expectedApp)
    }
    backlog.zipWithIndex.foreach { case (r, i) => expect(r, backlogArrival(i)) }
    tail.foreach { case (r, at, _) => expect(r, at) }
    val records = backlog.length + tail.length
    res.attempted += records
    val fields = from_json(col("doc"), new StructType().add("fields",
      new StructType().add("@cf.app_id", StringType).add("@cf.app", StringType)))
    val got = StreamingPipeline.currentView(spark, out)
      .select(col("doc_id"), col("es_index"), fields.getField("fields").as("f"))
      .select(col("doc_id"), col("es_index"), col("f").getField("@cf.app_id"), col("f").getField("@cf.app"))
      .collect()
    var missing = 0L; var wrong = 0L; var unexpected = 0L
    val seen = mutable.HashSet.empty[String]
    var dups = 0L
    got.foreach { r =>
      val id = r.getString(0)
      if (!seen.add(id)) dups += 1
      expected.get(id) match {
        case None => unexpected += 1
        case Some((idx, key, app)) =>
          if (idx != r.getString(1) || key != r.getString(2) || app != r.getString(3)) wrong += 1
      }
    }
    missing = expected.keys.count(k => !seen.contains(k))
    val bad = missing + wrong + unexpected + dups
    if (bad > 0) res.fail(s"sink: $missing missing, $dups duplicated, $unexpected unexpected, " +
      s"$wrong wrong index/app of ${expected.size} expected docs")
    res.failed += bad
    log("sink compared")
    try StreamingRehearsal.auditShardInvariants(spark, out, n)
    catch { case e: Throwable => res.fail(s"shard purity/order: ${e.getMessage}") }
    val expMalformed = (backlog ++ tail.map(_._1)).count(_.outcome == Gen.Malformed)
    if (counters.recordsTotal.get != records || counters.malformedTotal.get != expMalformed)
      res.fail(s"pipeline counters: records_total ${counters.recordsTotal.get} (expected $records), " +
        s"malformed_total ${counters.malformedTotal.get} (expected $expMalformed)")
  }

  /** Traced-run layer costs: source calls at head vs depth, cumulative
    * prefixes of the flagship timed honest over the backlog slice (marginal
    * ms per 100k records), the funnel counts, and one sink write.
    */
  private def layerProbes(spark: SparkSession, dims: DataFrame, shards: File, slice: File,
                          probe: Seq[Gen.Rec], work: File, tracer: Tracer,
                          res: Result): Unit = {
    def med3(name: String)(f: => Unit): Double = {
      f // warm
      Util.median((1 to 3).map { _ => val t0 = System.nanoTime(); tracer.span(name)(f); ms(t0) })
    }
    val stream = new ShardedMicroBatchStream(shards.getAbsolutePath, None)
    res.l("sources.offset_ms", med3("sources.latestOffset")(stream.latestOffset()), "ms")
    val f0 = Gen.shardFile(shards, 0)
    val depth = ShardedRecordSource.countLines(f0)
    def read(from: Long): Unit = {
      val r = new ShardReaderFactory().createReader(ShardSlice(f0.getAbsolutePath, from, from + 1000))
      try while (r.next()) r.get() finally r.close()
    }
    val head = med3("sources.read_head")(read(0))
    val deep = med3("sources.read_deep")(read(depth - 1000))
    res.l("sources.read_krec_ms.head", head, "ms")
    res.l("sources.read_krec_ms.deep", deep, "ms")
    res.l("sources.skip_ratio", deep / head, "ratio")

    val records = spark.read.format(classOf[ShardedRecordSource].getName)
      .option("path", slice.getAbsolutePath).load()
    val decoded = Pipeline.withEnv(records)
    val logs = decoded.filter(col("env").isNotNull).filter(col("env.event_type") === "LogMessage")
    val routed = logs.withColumn("family", Classifier.family(col("env.log_message.source_instance"),
      col("env.tags"), col("env.log_message.source_type"))).filter(col("family").isNotNull)
    val grokked = routed.withColumn("captures", graft.functions.grok_extract_map(
      col("env.log_message.message"), Classifier.familyPatterns("gorouter")))
    val enriched = Enrich.enrich(grokked, dims, col("env.log_message.app_id"),
      coalesce(col("captures").getItem("rtr_app_id"), lit("")))
    val docs = Pipeline.toJsonDocs(Pipeline.assemble(records, dims))
    val prefixes = records +: Seq(decoded, routed, grokked, enriched, docs)
    val names = "sources.read" +: PrefixMetrics.map(_._1)
    val times = prefixes.zip(names).map { case (df, k) => med3(k)(df.queryExecution.toRdd.count(): Unit) }
    val sinkDir = new File(work, "probe_sink").getAbsolutePath
    val sinkMs = med3("sink.write")(StreamingPipeline.sinkDocs(Pipeline.assemble(records, dims), 0L, sinkDir))
    val per100k = 1e5 / probe.length
    PrefixMetrics.zipWithIndex.foreach { case ((_, name), i) =>
      res.l(name, (times(i + 1) - times(i)) * per100k, "ms/100krec")
    }
    res.l("sink.write_ms", (sinkMs - times.last) * per100k, "ms/100krec")

    // the funnel, counted where each layer drops rows
    val nRead = records.count()
    val nDecoded = decoded.filter(col("env").isNotNull).count()
    val nLog = logs.count()
    val nRouted = routed.count()
    val nEnriched = enriched.count()
    val nEmitted = spark.read.parquet(sinkDir).count()
    val nHit = enriched.filter(col("`@cf.space_id`") =!= "").count()
    // emitted, malformed, non_logmessage, unrouted, no_app_key: the order of Gen.OutcomeNames
    val measured = Seq(nEmitted, nRead - nDecoded, nDecoded - nLog, nLog - nRouted, nRouted - nEnriched)
    val funnel = FunnelMetrics.zip(nRead +: measured)
    funnel.foreach { case (k, v) => res.l(k, v.toDouble, "records") }
    tracer.add("pipeline.funnel", 0, -1, tracer.nowMs, tracer.nowMs, funnel.toMap)
    res.l("pipeline.emit_ratio", nEmitted.toDouble / nRead, "ratio")
    res.l("enrich.hit_ratio", nHit.toDouble / math.max(1L, nEnriched), "ratio")
    val truth = Gen.OutcomeNames.indices.map(o => probe.count(_.outcome == o).toLong)
    if (nRead != measured.sum || nEnriched != nEmitted)
      res.fail(s"funnel conservation: read $nRead != ${measured.sum}, enriched $nEnriched, emitted $nEmitted")
    if (measured != truth || nRead != probe.length)
      res.fail(s"funnel vs generator truth: measured $measured, expected $truth")
  }

  private def writeResult(f: File, res: Result, tracer: Tracer): Unit = {
    def m(x: collection.Map[String, (Double, String)]) = x.map { case (k, (v, u)) =>
      s"${Util.json(k)}:{${"\"value\""}:${Util.num(v)},${"\"unit\""}:${Util.json(u)}}"
    }.mkString("{", ",", "}")
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s"""{"metrics":${m(res.metrics)},"layers":${m(res.layers)},""" +
      s""""attempted":${res.attempted},"failed":${res.failed},"spans":${tracer.size},""" +
      s""""failures":${res.failures.map(Util.json).mkString("[", ",", "]")},"input":${res.props}}""")
    finally w.close()
  }
}
