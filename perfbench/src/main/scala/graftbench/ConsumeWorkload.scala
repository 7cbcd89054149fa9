package graftbench

import graft.functions.ProtoWire
import graft.operators.Dedup
import graft.streaming.ConsumePipeline
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** `consume_stream`: wire-encoded `EventMetadata` frames into
  * `ConsumePipeline.startFromWire`, the engine's only writing path (parquet
  * sinks, dedup state store, checkpoint logs).
  *
  * Phases, all on one streaming query: a closed-loop priming batch
  * (codegen, state-store init), an open-loop generator at a fixed rate
  * (warm-up, then the measured window), a drain, then closed-loop
  * 50,000-event batches back to back for capacity. Every offered event is
  * then checked against the batch form of the same pipeline.
  */
object ConsumeWorkload {

  val Rate = 8000               // offered events/s: 8x the reference load test
  val ChunkEvents = 80          // one offer every 10 ms
  val PrimeBatches = 1
  val PrimeEvents = 8000
  val WarmupS = 2.0
  val CapacityEvents = 50000
  val CapacityBatches = 3
  // Event time advances 0.5 s per event (4,000x wall time at 8k events/s),
  // so the 1 h dedup state turns over within the measured window.
  val StepMicros = 500000L
  val T0Micros = 1704067200000000L // 2024-01-01T00:00:00Z
  // Redeliveries and out-of-order events stay well inside the 1 h
  // watermark delay (together at most 50 min behind the newest event), so
  // no event is ever late and no output depends on batch boundaries.
  val MaxRedeliveryGap = 2400   // events: 20 min of event time
  val MaxDisorderMicros = 30L * 60 * 1000000
  val HourMicros = 3600L * 1000000

  object Kind {
    val Normal: Byte = 0; val Redelivery: Byte = 1; val Invalid: Byte = 2
    val Poison: Byte = 3; val Failure: Byte = 4; val Disorder: Byte = 5
  }

  val FailingService = "svc-failing"
  val failurePredicate: Column = col("source_service") === FailingService

  /** Generated stream: frame k is the k-th event offered. */
  final case class Inputs(topics: Array[String], frames: Array[Array[Byte]],
                          kinds: Array[Byte], ids: Array[String],
                          shares: Map[String, Double]) {
    def size: Int = frames.length
    def rows(from: Int, until: Int): Seq[(String, Array[Byte])] =
      (from until until).map(i => (topics(i), frames(i)))
  }

  /** Base rows (event_id, user_id, event_type) from `events`. */
  def baseRows(spark: SparkSession, data: String): Array[(Long, Long, String)] = {
    import spark.implicits._
    graft.sources.Tables.events(spark, data)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy("event_id").as[(Long, Long, String)].collect()
  }

  /** Deterministic in (base, seed, n). The seed sets the share of each
    * event class and which events they hit. Frames reuse `events` rows with
    * an id shift per pass over the table; event time follows the offer
    * order. */
  def generate(base: Array[(Long, Long, String)], seed: Long, n: Int): Inputs = {
    import ProtoWire._
    val rnd = new java.util.SplittableRandom(seed)
    val shares = Map(
      "redelivery" -> (0.03 + 0.04 * rnd.nextDouble()),
      "invalid" -> (0.005 + 0.01 * rnd.nextDouble()),
      "poison" -> (0.002 + 0.004 * rnd.nextDouble()),
      "failure" -> (0.02 + 0.02 * rnd.nextDouble()),
      "disorder" -> (0.03 + 0.04 * rnd.nextDouble()))
    val cuts = Seq("redelivery", "invalid", "poison", "failure", "disorder")
      .scanLeft(0.0)(_ + shares(_)).tail
    val offset = rnd.nextInt(base.length)
    val topics = new Array[String](n)
    val frames = new Array[Array[Byte]](n)
    val kinds = new Array[Byte](n)
    val ids = new Array[String](n)
    var k = 0
    while (k < n) {
      val u = rnd.nextDouble()
      var kind = (cuts.indexWhere(u < _) + 1).toByte // 0 when u >= last cut
      if (kind == Kind.Redelivery) {
        val src = k - 1 - rnd.nextInt(MaxRedeliveryGap)
        if (src >= 0 && (kinds(src) == Kind.Normal || kinds(src) == Kind.Failure ||
            kinds(src) == Kind.Disorder)) {
          topics(k) = topics(src); frames(k) = frames(src); ids(k) = ids(src)
        } else kind = Kind.Normal
      }
      kinds(k) = kind
      if (kind != Kind.Redelivery) {
        val (eventId, user, eventType) = base((offset + k) % base.length)
        val idNum = eventId + ((offset + k) / base.length).toLong * 10000000L
        val id = idNum.toString
        val ts = T0Micros + k * StepMicros -
          (if (kind == Kind.Disorder) 1000000L + rnd.nextLong(MaxDisorderMicros) else 0L)
        val retry = if (kind == Kind.Failure) rnd.nextInt(5) else 0
        val frame = message(lenField(1, message(
          stringField(1, if (kind == Kind.Invalid) "" else id),
          stringField(2, s"corr-${idNum % 97}"),
          stringField(3, if (kind == Kind.Failure) FailingService else s"svc-${idNum % 7}"),
          timestampField(4, Math.floorDiv(ts, 1000000L),
            (Math.floorMod(ts, 1000000L) * 1000L).toInt),
          varintField(5, idNum % 3 + 1),
          mapEntryField(6, "event_type", eventType),
          stringField(7, s"tenant-${user % 50}"),
          stringField(8, user.toString),
          varintField(9, idNum % 4),
          varintField(10, retry))))
        topics(k) = s"nnipa.events.$eventType.recorded"
        // a truncated frame fails the safe decode: a poison pill
        frames(k) =
          if (kind == Kind.Poison) frame.take(frame.length - 1 - rnd.nextInt(8)) else frame
        ids(k) = if (kind == Kind.Invalid) "" else if (kind == Kind.Poison) null else id
      }
      k += 1
    }
    Inputs(topics, frames, kinds, ids, shares)
  }

  /** One progress event of a micro-batch that ran (data or no-data). */
  final case class Progress(batchId: Long, at: Double, endOffset: Long, rows: Long,
                            durations: Map[String, Long], stateRows: Long,
                            stateBytes: Long, stateCommitMs: Long, dropped: Long)

  /** One generator offer: events [first, first + count), due at `dueMs`
    * (its last event's due time), offered at `offeredMs` as source offset
    * `offset`. */
  final case class Chunk(first: Int, count: Int, dueMs: Double, offeredMs: Double,
                         offset: Long)

  /** Open-loop generator: offers `ChunkEvents` frames every
    * `ChunkEvents / Rate` seconds on its own clock and never waits on the
    * pipeline. */
  final class Generator(offer: Seq[(String, Array[Byte])] => Long, inputs: Inputs,
                        first: Int, until: Int, startMs: Double, nowMs: () => Double,
                        offered: AtomicLong) extends Thread("perfbench-generator") {
    setDaemon(true)
    val chunks = mutable.ArrayBuffer.empty[Chunk]
    @volatile var stopAtMs: Double = Double.MaxValue
    @volatile var failure: Throwable = null

    /** Due time of event `i` (relative to the generator's first event). */
    def dueMs(i: Int): Double = startMs + (i - first + 1) * 1000.0 / Rate

    override def run(): Unit = try {
      var i = first
      while (i < until && dueMs(math.min(until, i + ChunkEvents) - 1) <= stopAtMs) {
        val j = math.min(until, i + ChunkEvents)
        val due = dueMs(j - 1)
        var now = nowMs()
        while (now < due) {
          LockSupport.parkNanos(((due - now) * 1e6).toLong)
          now = nowMs()
        }
        val off = offer(inputs.rows(i, j))
        offered.set(j)
        chunks += Chunk(i, j - i, due, now, off)
        i = j
      }
    } catch { case t: Throwable => failure = t }
  }

  def run(args: Main.Args): Map[String, Any] = {
    // executor threads + generator thread + the stream's execution thread
    // <= host cores
    val cores = math.max(1, Main.hostCores - 2)
    val spark = Main.session(cores, args.out)
    val trace = new Trace(spark)
    if (args.trace) trace.attach()
    Main.note("session up")
    val base = baseRows(spark, args.data)
    Main.note("base rows read")
    val openEvents = (Rate * (WarmupS + args.seconds)).toInt + Rate // + slack
    val primeEnd = PrimeBatches * PrimeEvents
    // the traced run repeats the capacity phase untraced (tracing overhead)
    val inputs = generate(base, args.seed, primeEnd + openEvents +
      (if (args.trace) 2 else 1) * CapacityBatches * CapacityEvents)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[(String, Array[Byte])]
    val outDir = args.out.resolve("consume").toString
    val progress = mutable.ArrayBuffer.empty[Progress]
    val committed = new AtomicLong(-1L) // highest committed source offset
    val offeredEvents = new AtomicLong(0L)
    val lagSamples = mutable.ArrayBuffer.empty[(Double, Long)] // (at, offered)
    @volatile var streamError: String = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val at = trace.nowMs
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (d.contains("addBatch")) { // a micro-batch ran (idle triggers also report)
          Main.note(s"batch ${p.batchId}: ${p.numInputRows} rows, " +
            s"${p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)} state rows, " +
            s"watermark ${p.eventTime.get("watermark")}, $d")
          val st = p.stateOperators.headOption
          val end = Option(p.sources.headOption.map(_.endOffset).orNull)
            .map(_.trim.toLong).getOrElse(-1L)
          progress.synchronized {
            progress += Progress(p.batchId, at, end, p.numInputRows, d,
              st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
              st.map(_.commitTimeMs).getOrElse(0L),
              st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
            lagSamples += ((at, offeredEvents.get()))
            committed.accumulateAndGet(end, math.max)
            progress.notifyAll()
          }
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => streamError = x.take(500))
    }
    spark.streams.addListener(listener)
    // MemoryStream makes one input partition per offer; coalescing to the
    // executor count models a topic with that many partitions
    val source = stream.toDF().toDF("topic", "value").coalesce(cores)
    val query = ConsumePipeline.startFromWire(source, outDir, ConsumePipeline.Config(),
      failurePredicate, availableNow = false)
    def offer(rows: Seq[(String, Array[Byte])]): Long = stream.addData(rows).json.toLong
    /** Waits until source offset `off` is committed; returns its commit time. */
    def awaitCommit(off: Long, timeoutS: Double): Double = progress.synchronized {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (committed.get() < off && streamError == null && System.nanoTime() < deadline)
        progress.wait(50)
      if (committed.get() < off)
        throw new IllegalStateException(s"offset $off not committed: ${Option(streamError).getOrElse("timeout")}")
      progress.find(_.endOffset >= off).get.at
    }

    // a micro-batch that fails stops the stream: the failure is counted
    // (one more attempted operation, one failed) and nothing is timed
    var measured = Map.empty[String, Any]
    var offeredUntil = 0
    try {
      Main.note(s"generated ${inputs.size} frames; priming")
      // set-up: closed-loop priming batches
      (0 until PrimeBatches).foreach { b =>
        Main.note(s"priming batch $b")
        awaitCommit(offer(inputs.rows(b * PrimeEvents, (b + 1) * PrimeEvents)), 120)
      }
      offeredEvents.set(primeEnd)

      // open loop: warm-up, then the measured window
      val genStart = trace.nowMs + 50
      val windowStart = genStart + WarmupS * 1e3
      val windowEnd = windowStart + args.seconds * 1e3
      val gen = new Generator(offer, inputs, primeEnd, primeEnd + openEvents, genStart,
        () => trace.nowMs, offeredEvents)
      gen.stopAtMs = windowEnd
      gen.start()
      while (trace.nowMs < windowStart && gen.isAlive) Thread.sleep(1)
      val setupS = (trace.nowMs - args.launchMs) / 1e3
      val noise = new Main.HostNoise
      val gc0 = graft.Bench.gcMillis()
      Main.note("measured window")
      gen.join()
      if (gen.failure != null) throw gen.failure
      val openUntil = gen.chunks.last.first + gen.chunks.last.count
      awaitCommit(gen.chunks.last.offset, 60) // drain
      val gcS = (graft.Bench.gcMillis() - gc0) / 1e3
      val prog = progress.synchronized(progress.toList)
      val windowProg = prog.filter(p => p.at >= windowStart && p.at <= windowEnd)
  
      // per-event latency: from due time to its micro-batch's commit
      val latencies = mutable.ArrayBuffer.empty[Double]
      val lateness = mutable.ArrayBuffer.empty[Double]
      gen.chunks.foreach { c =>
        val commitAt = prog.find(_.endOffset >= c.offset).get.at
        (c.first until c.first + c.count).foreach { i =>
          val due = gen.dueMs(i)
          if (due >= windowStart && due < windowEnd) latencies += commitAt - due
        }
        if (c.dueMs >= windowStart && c.dueMs < windowEnd) lateness += c.offeredMs - c.dueMs
      }
      // delivered rate: committed events between the first and last commit
      // inside the window, over the time between them
      def committedEvents(off: Long): Long =
        gen.chunks.filter(_.offset <= off).lastOption
          .map(c => (c.first + c.count).toLong).getOrElse(primeEnd.toLong)
      val delivered =
        if (windowProg.size < 2) Double.NaN
        else (committedEvents(windowProg.last.endOffset) - committedEvents(windowProg.head.endOffset)) /
          ((windowProg.last.at - windowProg.head.at) / 1e3)
      val lags = prog.zip(lagSamples.synchronized(lagSamples.toList))
        .filter(x => x._1.at >= windowStart && x._1.at <= windowEnd)
        .map { case (p, (_, off)) => off - committedEvents(p.endOffset) }

      // closed loop: fixed 50,000-event batches back to back
      def capacityBatches(from: Int): Seq[Double] = (0 until CapacityBatches).map { b =>
        val i = from + b * CapacityEvents
        val t0 = trace.nowMs
        val off = offer(inputs.rows(i, i + CapacityEvents))
        val at = awaitCommit(off, 120)
        (at - t0) / 1e3
      }
      Main.note("capacity phase")
      val capStart = openUntil
      val capacity = capacityBatches(capStart)
      offeredUntil = capStart + CapacityBatches * CapacityEvents
      val context = noise.finish()

      var layers = Map.empty[String, Any]
      if (args.trace) {
        // tracing overhead: the same closed-loop batches with the listeners off
        trace.flush()
        trace.detach()
        val untraced = capacityBatches(offeredUntil)
        offeredUntil += CapacityBatches * CapacityEvents
        trace.attach()
        layers = traceLayers(spark, trace, inputs, windowProg, windowStart, windowEnd,
          latencies.size, capacity, untraced, outDir, prog, lags, capStart, gcS)
        trace.detach()
      }
      measured = Map(
        "setup_s" -> setupS,
        "latency_ms" -> latencies,
        "lateness_ms" -> lateness,
        "delivered_events_per_s" -> delivered,
        "capacity_batch_s" -> capacity,
        "held_mb" -> windowProg.lastOption.map(_.stateBytes / 1e6).getOrElse(0.0),
        "layers" -> layers,
        "context" -> context)
    } catch {
      case NonFatal(e) =>
        if (streamError == null) streamError = e.toString.take(500)
        Main.note(s"stream failed: $streamError")
    }
    query.stop()
    spark.streams.removeListener(listener)
    val failed = if (streamError != null) 1L else 0L
    val attempted = progress.synchronized(progress.size).toLong + failed

    Main.note("checking outputs")
    val checkT0 = trace.nowMs
    val problems =
      if (failed > 0) Seq(s"stream failed: $streamError")
      else check(spark, inputs, offeredUntil, outDir)
    val checkS = (trace.nowMs - checkT0) / 1e3
    if (args.trace) trace.dump(args.out.resolve("trace.json"))
    spark.stop()

    measured ++ Map(
      "workload" -> args.workload,
      "cores" -> cores,
      "attempted" -> attempted,
      "failed" -> failed,
      "capacity_events" -> CapacityEvents,
      "offered_events" -> offeredUntil,
      "shares" -> inputs.shares,
      "problems" -> problems,
      "check_s" -> checkS)
  }

  def traceLayers(spark: SparkSession, trace: Trace, inputs: Inputs,
                  windowProg: Seq[Progress], windowStart: Double, windowEnd: Double,
                  windowEvents: Int, traced: Seq[Double], untraced: Seq[Double],
                  outDir: String, prog: Seq[Progress], lags: Seq[Long],
                  capStart: Int, gcS: Double): Map[String, Any] = {
    prog.foreach(p => trace.addSpan("streaming", s"batch ${p.batchId}",
      p.at - p.durations.getOrElse("triggerExecution", 0L), p.at))
    val data = windowProg.filter(_.rows > 0)
    def med(f: Progress => Double): Double = Main.median(data.map(f))
    val jobs = trace.jobsPerBatch
    val w = trace.window(windowStart, windowEnd)
    val sink = Seq("processed", "dlq", "retry").flatMap { d =>
      val p = java.nio.file.Paths.get(outDir, d)
      if (!Files.isDirectory(p)) Nil
      else Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).toSeq
    }
    val dataBatches = prog.count(_.rows > 0)
    val committedRows = prog.map(_.rows).sum
    // layer kernels over the workload's own frames, through the noop sink
    import spark.implicits._
    val n = CapacityBatches * CapacityEvents
    val frames = inputs.rows(capStart, capStart + n).toDF("topic", "value").persist()
    frames.count()
    def timed(f: => Unit): Double = Main.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })
    val decodeNs = trace.span("functions", "fromWire")(timed(
      ConsumePipeline.fromWire(frames).write.format("noop").mode("overwrite").save()))
    val decoded = ConsumePipeline.fromWire(frames).persist()
    decoded.count()
    val routeNs = trace.span("operators", "route")(timed {
      val r = ConsumePipeline.route(decoded, ConsumePipeline.Config(), failurePredicate)
      Seq(r.processed, r.dlq, r.retry).foreach(_.write.format("noop").mode("overwrite").save())
    })
    decoded.unpersist(); frames.unpersist()
    val oneCore = oneCoreEventsPerS(inputs, capStart, capStart + n)
    Map(
      "source.lag_events_max" -> (if (lags.isEmpty) 0L else lags.max),
      "source.lag_events_final" -> lags.lastOption.getOrElse(0L),
      "streaming.batches" -> windowProg.size,
      "streaming.empty_batches" -> windowProg.count(_.rows == 0),
      "streaming.trigger_ms" -> med(_.durations.getOrElse("triggerExecution", 0L).toDouble),
      "streaming.addbatch_ms" -> med(_.durations.getOrElse("addBatch", 0L).toDouble),
      "streaming.state_commit_ms" -> med(_.stateCommitMs.toDouble),
      "streaming.log_commit_ms" -> med(p => (p.durations.getOrElse("walCommit", 0L) +
        p.durations.getOrElse("commitOffsets", 0L)).toDouble),
      "streaming.planning_ms" -> med(_.durations.getOrElse("queryPlanning", 0L).toDouble),
      "streaming.jobs_per_batch" -> Main.median(data.map(p => jobs.getOrElse(p.batchId, 0).toDouble)),
      "streaming.state_rows" -> windowProg.lastOption.map(_.stateRows).getOrElse(0L),
      "streaming.state_bytes" -> windowProg.lastOption.map(_.stateBytes).getOrElse(0L),
      "streaming.dropped_by_watermark" -> prog.map(_.dropped).sum,
      "sink.files_per_batch" -> sink.size.toDouble / math.max(1, dataBatches),
      "sink.bytes_per_event" -> sink.sum.toDouble / math.max(1L, committedRows),
      "functions.decode_ns_per_event" -> decodeNs / n,
      "operators.route_ns_per_event" -> routeNs / n,
      "spark.cpu_s_per_kevent" -> w.cpuS / math.max(1.0, windowEvents / 1000.0),
      "consume.capacity_1core_events_per_s" -> oneCore,
      "caches.barriers" -> w.persistedRdds,
      "jvm.gc_s" -> gcS,
      "spark.jobs" -> w.jobs, "spark.stages" -> w.stages, "spark.tasks" -> w.tasks,
      "spark.cpu_s" -> w.cpuS, "spark.planning_ms" -> w.planningMs,
      "spark.shuffle_write_bytes" -> w.shuffleWrite,
      "spark.shuffle_read_bytes" -> w.shuffleRead, "spark.spill_bytes" -> w.spill,
      "trace.overhead_s" -> (Main.median(traced) - Main.median(untraced)))
  }

  /** Single-thread baseline of the same consume logic (safe decode,
    * validation, keep-first dedup within the TTL, retry/DLQ decision) with
    * no engine: the capacity one core reaches without any framework cost. */
  def oneCoreEventsPerS(inputs: Inputs, from: Int, until: Int): Double = {
    def once(): Double = {
      val seen = new java.util.HashMap[String, java.lang.Long]()
      var maxTs = Long.MinValue
      var routed = 0L
      val t0 = System.nanoTime()
      var i = from
      while (i < until) {
        val row = ProtoWire.eventMetadataStructSafe(inputs.frames(i))
        if (row == null) routed += 1 // poison -> DLQ
        else {
          val id = row.getUTF8String(0).toString
          val ts = row.getLong(3)
          if (!seen.containsKey(id)) {
            seen.put(id, ts + HourMicros)
            if (id.isEmpty) routed += 1 // invalid -> DLQ
            else if (row.getUTF8String(2).toString == FailingService)
              routed += (if (row.getInt(9) < graft.operators.Retry.MaxRetries) 2 else 1)
            else routed += 3
          }
          if (ts > maxTs) maxTs = ts
        }
        if ((i & 0xfff) == 0) { // evict keys older than the watermark
          val wm = maxTs - HourMicros
          seen.values().removeIf(_ < wm)
        }
        i += 1
      }
      if (routed == 42) println() // keep the loop observable
      (until - from) / ((System.nanoTime() - t0) / 1e9)
    }
    Main.median((0 until 3).map(_ => once()))
  }

  /** Compares the streamed sinks with the batch form of the same pipeline
    * (`Dedup.keepFirst` + `ConsumePipeline.route`) over every offered
    * event. Returns the problems found; empty means correct.
    *
    * Invalid (empty id) and poison (null id) events share one dedup key
    * each, so how many of them the streaming dedup passes depends on when
    * its state for that key expires; the batch form keeps exactly one. For
    * those two keys the check requires at least one row in the DLQ, and
    * every such row to be one of the offered frames of that class. */
  def check(spark: SparkSession, inputs: Inputs, offered: Int, outDir: String): Seq[String] = {
    val read = (d: String) => spark.read.parquet(s"$outDir/$d")
    checkAgainst(spark, inputs, offered, read("processed"), read("dlq"), read("retry"))
  }

  def checkAgainst(spark: SparkSession, inputs: Inputs, offered: Int,
                   processed: DataFrame, dlq: DataFrame, retry: DataFrame): Seq[String] = {
    import spark.implicits._
    val problems = mutable.ArrayBuffer.empty[String]
    val raw = spark.sparkContext.parallelize(inputs.rows(0, offered), 8).toDF("topic", "value")
    val kept = Dedup.keepFirst(ConsumePipeline.fromWire(raw), Seq("event_id_s"), Seq("ts"))
      .persist()
    val want = ConsumePipeline.route(kept, ConsumePipeline.Config(), failurePredicate)
    val keyed = col("event_id_s").isNotNull && col("event_id_s") =!= ""
    val branches = Seq(("processed", processed, want.processed),
      ("retry", retry, want.retry), ("dlq", dlq.filter(keyed), want.dlq.filter(keyed)))

    // multiset fingerprint per branch, one job per side: row count and the
    // exact sum of a 64-bit row hash; only a mismatch diffs the rows
    def fingerprints(side: Seq[(String, DataFrame)]): Map[String, (Long, java.math.BigDecimal)] =
      side.map { case (name, df) =>
        df.select(lit(name).as("branch"),
          xxhash64(df.columns.sorted.map(col).toSeq: _*).cast("decimal(38,0)").as("h"))
      }.reduce(_ union _).groupBy("branch").agg(count(lit(1)), sum(col("h"))).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val schemaOk = branches.filter { case (name, got, exp) =>
      val same = got.columns.sorted.toSeq == exp.columns.sorted.toSeq
      if (!same) problems += s"$name: columns ${got.columns.sorted.mkString(",")} != " +
        exp.columns.sorted.mkString(",")
      same
    }
    val gotFp = fingerprints(schemaOk.map(b => b._1 -> b._2))
    val wantFp = fingerprints(schemaOk.map(b => b._1 -> b._3))
    schemaOk.foreach { case (name, got, exp) =>
      if (gotFp.get(name) != wantFp.get(name)) {
        val cs = exp.columns.sorted.map(col).toSeq
        val extra = got.select(cs: _*).exceptAll(exp.select(cs: _*)).count()
        val missing = exp.select(cs: _*).exceptAll(got.select(cs: _*)).count()
        problems += s"$name: $extra unexpected rows, $missing missing rows"
      }
    }

    // every event id exactly once in processed, and exactly the ids the
    // generator made valid and non-failing
    val ids = processed.groupBy("event_id_s").count()
      .agg(sum(col("count")), count(when(col("count") > 1, 1))).head()
    if (ids.getLong(1) > 0) problems += s"processed: ${ids.getLong(1)} event ids more than once"
    val expectIds = (0 until offered).filter(i =>
      inputs.kinds(i) == Kind.Normal || inputs.kinds(i) == Kind.Disorder).map(inputs.ids(_)).toSet
    val gotRows = if (ids.isNullAt(0)) 0L else ids.getLong(0)
    if (gotRows != expectIds.size)
      problems += s"processed: $gotRows rows, generator expects ${expectIds.size}"

    // the shared-key classes: present, and only offered frames of the class
    val sharedKinds = Seq(("invalid", Kind.Invalid), ("poison", Kind.Poison))
    val offeredShared = (0 until offered).flatMap { i =>
      sharedKinds.find(_._2 == inputs.kinds(i)).map(k => (k._1, inputs.frames(i))) }
    val classOf = when(col("event_id_s") === "", "invalid")
      .when(col("event_id_s").isNull, "poison")
    val seen = dlq.filter(!keyed).select(classOf.as("class"), col("value"))
      .join(offeredShared.toDF("offered_class", "value").distinct(), Seq("value"), "left")
      .groupBy("class")
      .agg(count(lit(1)), count(when(col("offered_class") === col("class"), 1)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    sharedKinds.foreach { case (label, _) =>
      val nOffered = offeredShared.count(_._1 == label)
      val (n, matched) = seen.getOrElse(label, (0L, 0L))
      if (nOffered > 0 && (n < 1 || n > nOffered))
        problems += s"dlq: $n $label rows for $nOffered offered"
      if (matched != n) problems += s"dlq: ${n - matched} $label rows not among the offered frames"
    }
    kept.unpersist()
    problems.toSeq
  }
}
