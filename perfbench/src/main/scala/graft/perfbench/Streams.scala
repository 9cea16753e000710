package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.nats.{CsvCodec, MiniNatsServer, NatsConnection, NatsTransport}

/** Open-loop schedule: row i is due at `start + i * intervalNs`, however
  * late earlier rows went out. A stalled sender does not push the due
  * times back, so latency measured from the due time counts the stall
  * (no coordinated omission). */
final class OpenLoop(count: Int, intervalNs: Long) {
  val dueNs = new Array[Long](count)
  val sentNs = new Array[Long](count)

  def run(startNs: Long)(send: Int => Unit): Unit = {
    var i = 0
    while (i < count) {
      val due = startNs + i * intervalNs
      dueNs(i) = due
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      sentNs(i) = now
      send(i)
      i += 1
    }
  }
}

/** Output-subject arrivals, indexed by row id. The handler runs on the
  * subscriber's reader thread, so it only stamps and stores. */
final class Arrivals(capacity: Int) {
  val firstNs: Array[Long] = Array.fill(capacity)(-1L)
  private val payloads = new Array[String](capacity)
  private var duplicates, malformed = 0L
  private var counted = 0L

  def onMessage(nowNs: Long, bytes: Array[Byte]): Unit = {
    val s = new String(bytes, UTF_8)
    val comma = s.indexOf(',')
    val id = if (comma <= 0) -1 else s.substring(0, comma).toIntOption.getOrElse(-1)
    synchronized {
      if (id < 0 || id >= capacity) malformed += 1
      else if (firstNs(id) >= 0) duplicates += 1
      else { firstNs(id) = nowNs; payloads(id) = s; counted += 1 }
    }
  }

  def arrivedCount: Long = synchronized(counted)
  def payload(id: Int): String = synchronized(payloads(id))
  def duplicateCount: Long = synchronized(duplicates)
  def malformedCount: Long = synchronized(malformed)
}

object Latency {
  /** Due-to-arrival latency in ms of the rows in `ids` that arrived. */
  def fromDue(ids: Seq[Int], dueNs: Int => Long, arrivalNs: Int => Long): Seq[Double] =
    ids.flatMap { id =>
      val a = arrivalNs(id)
      if (a < 0) None else Some((a - dueNs(id)) / 1e6)
    }
}

/** `stream_steady` and `stream_burst`: `events` rows as CSV over `nats://`
  * TCP into an in-process [[MiniNatsServer]], one streaming SQL query from
  * `format("nats")` to `format("nats")`, and the benchmark subscribed to
  * the output subject. Expected output is computed from the generated
  * rows; every id is checked for exactly-once arrival and its value.
  */
object Streams {
  private val InSubject = "perfbench.in"
  private val OutSubject = "perfbench.out"
  private val Kept = Seq("view", "click", "purchase")
  val schema: StructType = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", IntegerType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = false)))

  /** The seed-ordered `events` rows run.py wrote ("ts,user_id,event_type,
    * value,props"); row `id` is base row `id % n` renumbered to `id`. */
  final class Input(path: String) {
    private val base = Files.readAllLines(Paths.get(path), UTF_8).asScala.toArray
    private val score: Array[Double] = base.map { l =>
      val f = l.split(",", -1)
      if (Kept.contains(f(2))) f(3).toDouble * 2 + f(1).toInt else Double.NaN
    }
    def payload(id: Int): Array[Byte] = s"$id,${base(id % base.length)}".getBytes(UTF_8)
    def kept(id: Int): Boolean = !score(id % base.length).isNaN
    /** The output row the query must produce for a kept id. */
    def expectedOutput(id: Int): String = {
      val f = base(id % base.length).split(",", -1)
      s"$id,${f(2)},${score(id % base.length)}"
    }
  }

  private final class Pipeline(ctx: Ctx, options: Map[String, String], capacity: Int) {
    val server = new MiniNatsServer()
    val arrivals = new Arrivals(capacity)
    val sub: NatsConnection = NatsTransport.connect(server.url)
    sub.subscribe(OutSubject)(b => arrivals.onMessage(System.nanoTime(), b))
    val pub: NatsConnection = NatsTransport.connect(server.url)
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val query: StreamingQuery = ctx.spark.readStream.format("nats").schema(schema)
      .option("url", server.url).option("subject", InSubject).options(options).load()
      .where(col("event_type").isin(Kept: _*))
      .selectExpr("id", "event_type", "value * 2 + user_id AS score")
      .writeStream.format("nats")
      .option("url", server.url).option("subject", OutSubject)
      .option("checkpointLocation", s"${ctx.runDir}/checkpoint")
      .start()
    require(awaitTrue(30000)(
      server.subscriptionCount(InSubject) > 0 && server.subscriptionCount(OutSubject) > 0),
      "the stream or the benchmark never subscribed within 30 s")

    /** Publish timing, switched on only for traced segments. */
    @volatile var timePublish = false
    val publishNs = ArrayBuffer.empty[Long]
    var publishCalls = 0L
    def publish(bytes: Array[Byte]): Unit = {
      publishCalls += 1
      if (!timePublish) pub.publish(InSubject, bytes)
      else {
        val t = System.nanoTime()
        pub.publish(InSubject, bytes)
        publishNs += System.nanoTime() - t
      }
    }

    def progress: Seq[StreamingQueryProgress] = query.recentProgress.toSeq.filter(_.numInputRows > 0)

    def close(): Unit = {
      try query.stop()
      finally { pub.close(); sub.close(); server.stop() }
    }
  }

  /** Records one span per trigger (and its phases) while `on`. */
  private final class TriggerSpans(tracer: Tracer) extends StreamingQueryListener {
    @volatile var on = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (on && p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue * 1000L }
        val id = p.batchId.toString
        val top = tracer.add(-1, id, "trigger", start, start + d.getOrElse("triggerExecution", 0L))
        // Execution order inside MicroBatchExecution.
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k => d.get(k).foreach { us => tracer.add(top, id, k, t, t + us); t += us } }
      }
    }
  }

  /** Poll `cond` until it holds or `timeoutMs` passes; false on timeout. */
  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) return false
      Thread.sleep(2)
    }
    true
  }

  /** Check every id in `ids`: a kept row must arrive once with the right
    * value, a filtered row must not arrive. Returns the ids that arrived
    * correctly (the latency sample). */
  private def check(ctx: Ctx, in: Input, arrivals: Arrivals, ids: Range, what: String): Seq[Int] = {
    ctx.outcomes.attempt(ids.length)
    val ok = ArrayBuffer.empty[Int]
    var missing, wrong, unexpected = 0L
    ids.foreach { id =>
      val arrived = arrivals.firstNs(id) >= 0
      if (in.kept(id)) {
        if (!arrived) missing += 1
        else if (arrivals.payload(id) != in.expectedOutput(id)) {
          wrong += 1
          if (wrong == 1) ctx.note(s"$what: id $id arrived as '${arrivals.payload(id)}', " +
            s"expected '${in.expectedOutput(id)}'")
        } else ok += id
      } else if (arrived) unexpected += 1
    }
    ctx.outcomes.fail("missing", missing)
    ctx.outcomes.fail("wrong value", wrong)
    ctx.outcomes.fail("filtered row delivered", unexpected)
    ok.toSeq
  }

  /** Duplicates and unparsable output rows, counted once at the end. */
  private def checkExtras(ctx: Ctx, arrivals: Arrivals): Unit = {
    ctx.outcomes.attempt(arrivals.malformedCount)
    ctx.outcomes.fail("malformed output", arrivals.malformedCount)
    ctx.outcomes.fail("duplicate", arrivals.duplicateCount)
  }

  /** Map each arrival to the last trigger that started before it. */
  private def triggerOf(progress: Seq[StreamingQueryProgress], nanoToEpochMs: Long => Double)
      : Long => Int = {
    val starts = progress.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble).toArray
    ns => {
      val ms = nanoToEpochMs(ns)
      val i = java.util.Arrays.binarySearch(starts, ms)
      if (i >= 0) i else -i - 2
    }
  }

  private def clock(): Long => Double = {
    val ms0 = System.currentTimeMillis().toDouble
    val ns0 = System.nanoTime()
    ns => ms0 + (ns - ns0) / 1e6
  }

  /** Per-layer metrics shared by both stream workloads, over the timed
    * window's triggers (`window` in epoch ms). */
  private def streamLayers(
      ctx: Ctx, p: Pipeline, in: Input, progress: Seq[StreamingQueryProgress],
      arrivalNs: Seq[Long], toMs: Long => Double, lateMs: Seq[Double],
      window: (Long, Long), overhead: Double, overheadSamples: Int): Seq[Metric] = {
    def m(n: String, v: Double, k: Int = progress.length) = Metric(n, v, LayerUnits(n), k)
    val phaseMetrics = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
      "walCommit", "commitOffsets", "triggerExecution").flatMap { ph =>
      val vs = progress.map(pr => Option(pr.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0))
      Seq(m(s"trigger.${ph}_ms_p50", Stats.median(vs)), m(s"trigger.${ph}_ms_p95", Stats.percentile(vs, 95)))
    }
    def sourceMetric(k: String): Double = (0.0 +: progress.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.metrics.get(k))).map(_.toDouble)).max
    val spans = arrivalNs.groupBy(triggerOf(progress, toMs)).values.filter(_.size > 1)
      .map(ts => (ts.max - ts.min) / 1e6).toSeq
    val tasks = ctx.listener.window(window._1, window._2).tasks
    // Codec cost over this run's own payloads: parse every published
    // row, then encode the parsed values back.
    val codec = CsvCodec.strict(schema)
    val payloads = (0 until math.min(200000, p.publishCalls.toInt)).map(i => new String(in.payload(i), UTF_8))
    val t0 = System.nanoTime()
    val parsed = payloads.map(s => codec.parse(s).toOption.get)
    val t1 = System.nanoTime()
    parsed.foreach(v => codec.encode(v))
    val t2 = System.nanoTime()
    Seq(
      m("generator.late_ms_p99", Stats.percentile(lateMs, 99), lateMs.length),
      m("transport.publish_us_p50", Stats.median(p.publishNs.map(_ / 1e3).toSeq), p.publishNs.length),
      m("transport.publish_calls", p.publishCalls.toDouble, 1),
      m("trigger.count", progress.length.toDouble),
      m("trigger.tasks", tasks.toDouble / progress.length),
      m("ledger.rows_per_trigger", Stats.median(progress.map(_.numInputRows.toDouble))),
      m("source.backlog_rows_max", sourceMetric("backlogRows")),
      m("source.dropped_rows", sourceMetric("droppedRows")),
      m("source.malformed_rows", sourceMetric("malformedRows")),
      m("codec.parse_ns_per_row", (t1 - t0).toDouble / payloads.length, payloads.length),
      m("codec.encode_ns_per_row", (t2 - t1).toDouble / payloads.length, payloads.length),
      m("sink.arrival_span_ms", if (spans.isEmpty) 0.0 else Stats.median(spans), spans.length),
      m("trace.overhead_share", overhead, overheadSamples)) ++ phaseMetrics
  }

  private def failDropped(ctx: Ctx, progress: Seq[StreamingQueryProgress]): Unit = {
    val dropped = progress.flatMap(_.sources.headOption)
      .flatMap(s => Option(s.metrics.get("droppedRows"))).map(_.toLong).maxOption.getOrElse(0L)
    if (dropped > 0) ctx.note(s"source dropped $dropped rows (counted as missing)")
  }

  private def startedAfter(progress: Seq[StreamingQueryProgress], fromMs: Long) =
    progress.filter(pr => java.time.Instant.parse(pr.timestamp).toEpochMilli >= fromMs)

  // ---------------------------------------------------------------- steady

  /** Offered load: well below saturation, so every trigger takes the
    * whole backlog and latency is set by per-trigger cost. */
  val SteadyRate = 2000
  private val SteadyWarmupRows = 4 * SteadyRate
  /** Traced runs switch tracing on for every other half-second segment,
    * so traced and untraced rows see the same warm-up drift. */
  private val SegmentRows = SteadyRate / 2

  def steady(ctx: Ctx): WorkloadResult = {
    val in = new Input(s"${ctx.runDir}/events.csv")
    val timedRows = SteadyRate * ctx.seconds
    val capacity = SteadyWarmupRows + timedRows
    val p = new Pipeline(ctx, Map(
      "batchSize" -> "50", "flushTimeoutMs" -> "50",
      "maxBatchesPerTrigger" -> "100000", "maxBufferSize" -> capacity.toString), capacity)
    val spansListener = new TriggerSpans(ctx.tracer)
    if (ctx.trace) ctx.spark.streams.addListener(spansListener)
    val intervalNs = 1000000000L / SteadyRate
    def tracedRow(id: Int) = ctx.trace && ((id - SteadyWarmupRows) / SegmentRows) % 2 == 1
    try {
      // ---- set-up: the same schedule, until its rows are all through
      val warmIds = 0 until SteadyWarmupRows
      new OpenLoop(SteadyWarmupRows, intervalNs).run(System.nanoTime())(i => p.publish(in.payload(i)))
      awaitTrue(30000)(p.arrivals.arrivedCount >= warmIds.count(in.kept))
      ctx.markTimedStart()

      // ---- timed: open loop at the fixed rate
      val toMs = clock()
      val fromMs = System.currentTimeMillis()
      val timedIds = SteadyWarmupRows until capacity
      val loop = new OpenLoop(timedRows, intervalNs)
      loop.run(System.nanoTime()) { i =>
        val id = SteadyWarmupRows + i
        if (i % SegmentRows == 0) {
          p.timePublish = tracedRow(id)
          spansListener.on = tracedRow(id)
        }
        p.publish(in.payload(id))
      }
      awaitTrue(30000)(p.arrivals.arrivedCount >= (warmIds ++ timedIds).count(in.kept))
      Thread.sleep(200) // late duplicates would land here
      val toMsEnd = System.currentTimeMillis()
      val progress = startedAfter(p.progress, fromMs)

      check(ctx, in, p.arrivals, warmIds, "warm-up")
      val ok = check(ctx, in, p.arrivals, timedIds, "timed").toSet
      checkExtras(ctx, p.arrivals)
      failDropped(ctx, progress)

      val due = (id: Int) => loop.dueNs(id - SteadyWarmupRows)
      val arrival = (id: Int) => p.arrivals.firstNs(id)
      val (tracedIds, sampleIds) = timedIds.filter(ok).partition(tracedRow)
      val lat = Latency.fromDue(sampleIds, due, arrival)
      val throughput = timedRows / ((timedIds.filter(ok).map(arrival).max - loop.dueNs(0)) / 1e9)
      val p95 = Stats.percentile(lat, 95)
      val byTrigger = triggerOf(progress, toMs)
      val tailTriggers = sampleIds.zip(lat).collect { case (id, l) if l > p95 => byTrigger(arrival(id)) }
        .distinct.length
      // A backlog that does not grow from the first half of the window to
      // the second shows the offered rate is below saturation.
      val backlog = progress.map(pr => Option(pr.sources.head.metrics.get("backlogRows")).fold(0L)(_.toLong))
      val (early, late) = backlog.splitAt(backlog.length / 2)
      ctx.note(s"stream_steady: $timedRows rows at $SteadyRate rows/s, ${ok.size} delivered, " +
        s"${progress.length} non-empty triggers, ${Stats.beyond(lat, 95)} rows beyond p95 " +
        s"from $tailTriggers triggers, " +
        s"backlog max ${early.maxOption.getOrElse(0L)} rows in the first half, " +
        s"${late.maxOption.getOrElse(0L)} in the second")
      val e2e = Seq(
        Metric("latency_p50_ms", Stats.median(lat), "ms", lat.length),
        Metric("latency_p95_ms", p95, "ms", lat.length),
        Metric("latency_geomean_ms", Stats.geomean(lat), "ms", lat.length),
        Metric("throughput_per_s", throughput, "1/s", ok.size))
      val perLayer =
        if (!ctx.trace) Nil
        else {
          val tracedLat = Latency.fromDue(tracedIds, due, arrival)
          streamLayers(ctx, p, in, progress, timedIds.filter(ok).map(arrival), toMs,
            loop.dueNs.indices.map(i => (loop.sentNs(i) - loop.dueNs(i)) / 1e6), (fromMs, toMsEnd),
            Stats.median(tracedLat) / Stats.median(lat) - 1, tracedLat.length)
        }
      WorkloadResult(e2e, perLayer)
    } finally p.close()
  }

  // ----------------------------------------------------------------- burst

  /** Rows per burst: deep enough that a drain spans several 64-batch
    * triggers. Two untimed bursts warm up first. */
  val BurstRows = 200000
  private val MaxBursts = 8
  private val WarmupBursts = 2

  def burst(ctx: Ctx): WorkloadResult = {
    val in = new Input(s"${ctx.runDir}/events.csv")
    val capacity = (MaxBursts + WarmupBursts) * BurstRows
    val p = new Pipeline(ctx, Map(
      "batchSize" -> "1000", "maxBatchesPerTrigger" -> "64",
      "numPartitions" -> Session.cores.toString,
      "maxBufferSize" -> (2 * BurstRows).toString), capacity)
    val spansListener = new TriggerSpans(ctx.tracer)
    if (ctx.trace) ctx.spark.streams.addListener(spansListener)
    final case class Burst(ids: Range, startNs: Long, endNs: Long, traced: Boolean) {
      def rate: Double = ids.length / ((endNs - startNs) / 1e9)
    }
    /** Publish burst `n` back to back and wait for every kept row. */
    def drain(n: Int, traced: Boolean): Burst = {
      val ids = n * BurstRows until (n + 1) * BurstRows
      val kept = ids.filter(in.kept)
      val want = p.arrivals.arrivedCount + kept.length
      p.timePublish = traced
      spansListener.on = traced
      val t0 = System.nanoTime()
      ids.foreach(i => p.publish(in.payload(i)))
      awaitTrue(60000)(p.arrivals.arrivedCount >= want)
      val last = kept.map(p.arrivals.firstNs(_)).max
      Burst(ids, t0, if (last > 0) last else System.nanoTime(), traced)
    }
    try {
      (0 until WarmupBursts).foreach(drain(_, traced = false))
      ctx.markTimedStart()

      // ---- timed: bursts until the budget is spent; a traced run goes
      // untraced, traced, traced, untraced, ... so drift cancels out
      val toMs = clock()
      val fromMs = System.currentTimeMillis()
      val bursts = ArrayBuffer.empty[Burst]
      val t0 = System.nanoTime()
      val minBursts = if (ctx.trace) 4 else 3
      while (bursts.length < MaxBursts &&
        (bursts.length < minBursts || (System.nanoTime() - t0) / 1e9 < ctx.seconds))
        bursts += drain(WarmupBursts + bursts.length, ctx.trace && Set(1, 2)(bursts.length % 4))
      Thread.sleep(200) // late duplicates would land here
      val toMsEnd = System.currentTimeMillis()
      val progress = startedAfter(p.progress, fromMs)

      check(ctx, in, p.arrivals, 0 until WarmupBursts * BurstRows, "warm-up")
      val ok = bursts.map(b => b -> check(ctx, in, p.arrivals, b.ids, "timed")).toMap
      checkExtras(ctx, p.arrivals)
      failDropped(ctx, progress)

      val (traced, plain) = bursts.toSeq.partition(_.traced)
      val lat = plain.flatMap(b => Latency.fromDue(ok(b), _ => b.startNs, p.arrivals.firstNs(_)))
      val rates = plain.map(_.rate)
      ctx.note(s"stream_burst: ${bursts.length} bursts of $BurstRows rows, drain rates " +
        bursts.map(b => f"${b.rate}%.0f").mkString(", ") + s" rows/s, ${progress.length} non-empty triggers")
      val e2e = Seq(
        Metric("latency_p50_ms", Stats.median(lat), "ms", lat.length),
        Metric("latency_p95_ms", Stats.percentile(lat, 95), "ms", lat.length),
        Metric("latency_geomean_ms", Stats.geomean(lat), "ms", lat.length),
        Metric("throughput_per_s", Stats.median(rates), "1/s", rates.length))
      val perLayer =
        if (!ctx.trace) Nil
        else streamLayers(ctx, p, in, progress,
          bursts.toSeq.flatMap(b => ok(b).map(p.arrivals.firstNs(_))), toMs, Seq(0.0),
          (fromMs, toMsEnd), Stats.median(rates) / Stats.median(traced.map(_.rate)) - 1, traced.length)
      WorkloadResult(e2e, perLayer)
    } finally p.close()
  }
}
