package graft.perfbench

import java.io.{BufferedOutputStream, File}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.US_ASCII

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.cdc.{Graft, MqttTrie}
import graft.nats.{CdcProto, NatsServer, NatsWire, TcpBroker}
import graft.stream.Streams

/** Each consumer query reads the bus over its OWN connection and session
  * (core NATS fans every frame out to every subscribed connection), as
  * separate subscribers of one NATS deployment would. The broker class
  * name selects the session, so one class per query. */
class TakeBroker extends TcpBroker
class RpcBroker extends TcpBroker
class CaptureBroker extends TcpBroker

/** `bus_live`: an open-loop generator publishes `CdcMsg` frames on a fixed
  * rate ladder over one TCP connection to an embedded [[NatsServer]];
  * the consumer connects with [[Graft.live]] and runs the reference's
  * full surface at once — ~50 subscription counters, take(n) per key,
  * first-response RPC and the parquet capture.
  *
  * A frame's latency runs from its due time at the generator to the
  * commit of the last consumer batch that holds it (batch commit = the
  * progress record's trigger start plus its trigger duration). Expected
  * counters, take-n sets and RPC answers come from the generator's own
  * schedule and the small matcher in [[Topic]], not from the engine's
  * pattern code. */
object Live {

  /** One rung of the rate ladder: `rate` frames/s from `startNs` (after
    * the ladder's start) for `durNs`. */
  final case class Rung(rate: Int, startNs: Long, durNs: Long)

  /** The rate ladder over `seconds`. The three rungs above the nominal
    * one last a fixed 1.8 s each, so the burst the system must absorb
    * (about 115k frames at the top rung, beyond what the seed transport
    * carries) is the same whatever the window; the nominal rung (the rate
    * the latency metrics are read at) gets the rest of the window for its
    * samples. Smoke mode splits a short window between two low rates. */
  def ladder(smoke: Boolean, seconds: Double): Seq[Rung] = {
    val total = (seconds * 1e9).toLong
    val upperNs = 1800000000L
    val (rates, durs) =
      if (smoke) (Seq(100, 400), Seq(total / 2, total / 2))
      else {
        require(total >= 3 * upperNs + 2000000000L,
          s"bus_live needs --seconds >= ${(3 * upperNs + 2000000000L) / 1e9}")
        (Seq(250, 4000, 16000, 64000), (total - 3 * upperNs) +: Seq.fill(3)(upperNs))
      }
    val starts = durs.scanLeft(0L)(_ + _)
    rates.indices.map(i => Rung(rates(i), starts(i), durs(i)))
  }

  val TakeN = 3
  val LatencyTailPct = 90.0
  val RpcTimeoutMs = 1000L

  /** One scheduled frame: `idx` is its publish position (its sequence
    * number at every consumer is idx + 1). */
  final case class Frame(idx: Int, rung: Int, dueNs: Long, channel: String,
                         kind: Char, reqId: Long, bytes: Array[Byte])

  val Patterns: Seq[String] = {
    val types = Seq("signup", "click", "view", "purchase", "error")
    Seq("#", "cdc/#", "rpc/#", "rpc/req/+", "rpc/res/+") ++
      types.flatMap(t => Seq(s"cdc/$t/#", s"cdc/$t/+")) ++
      (0 until 35).map(u => s"cdc/+/${u * 4}")
  }
  val TakePatterns: Seq[String] =
    Seq("cdc/error/#", "cdc/purchase/+", "cdc/+/8", "rpc/res/+", "cdc/signup/12")

  /** Independent MQTT topic matcher: `+` is one level, a trailing `#` is
    * the rest (zero levels included). */
  object Topic {
    def matches(pattern: String, topic: String): Boolean = {
      val p = pattern.split("/", -1); val t = topic.split("/", -1)
      var i = 0
      while (i < p.length) {
        if (p(i) == "#") return i == p.length - 1
        if (i >= t.length) return false
        if (p(i) != "+" && p(i) != t(i)) return false
        i += 1
      }
      i == t.length
    }
  }

  private def payload(kind: Char, idx: Int, dueMs: Long, userId: Long,
                      eventType: String, value: Double, reqId: Long): Array[Byte] =
    s"$kind|$idx|$dueMs|$userId|$eventType|$value|$reqId".getBytes(US_ASCII)

  private def envelope(channel: String, body: Array[Byte]): Array[Byte] =
    CdcProto.encode(CdcProto.CdcMsg("perfbench-gen", channel, "text", "nats",
      "", 0, false, body))

  /** Event rows the generator samples from. */
  final case class Ev(userId: Long, eventType: String, value: Double)

  /** The whole schedule, from the seed: slot s of every ten carries an
    * RPC request at s%10 == 3; 70% of requests get a response three slots
    * later and 30% of those a second, later one (the first must win);
    * every other slot is a sampled `events` row on its CDC channel. */
  def schedule(seed: Long, rungs: Seq[Rung], t0: Long, wallT0Ms: Long,
               events: IndexedSeq[Ev], firstIdx: Int): Vector[Frame] = {
    val rnd = new scala.util.Random(seed)
    val out = Vector.newBuilder[Frame]
    var idx = firstIdx
    val answered = mutable.Map.empty[Long, Int] // reqId → responses planned
    rungs.zipWithIndex.foreach { case (Rung(rate, start, dur), r) =>
      val n = (rate.toLong * dur / 1000000000L).toInt
      (0 until n).foreach { i =>
        val due = t0 + start + i * 1000000000L / rate
        val dueMs = wallT0Ms + (due - t0) / 1000000L
        val slot = idx % 10
        val base = idx / 10
        val (kind, ch, req) =
          if (slot == 3) {
            answered(base.toLong) = if (rnd.nextDouble() < 0.7) (if (rnd.nextDouble() < 0.3) 2 else 1) else 0
            ('q', s"rpc/req/$base", base.toLong)
          } else if (slot == 6 && answered.getOrElse(base.toLong, 0) >= 1) ('r', s"rpc/res/$base", base.toLong)
          else if (slot == 8 && answered.getOrElse(base.toLong, 0) >= 2) ('r', s"rpc/res/$base", base.toLong)
          else ('e', "", -1L)
        val e = if (kind == 'e') events(rnd.nextInt(events.size)) else Ev(0L, "", 0.0)
        val channel = if (kind == 'e') graft.Tables.channelString(e.eventType, e.userId) else ch
        out += Frame(idx, r, due, channel, kind, req,
          envelope(channel, payload(kind, idx, dueMs, e.userId, e.eventType, e.value, req)))
        idx += 1
      }
    }
    out.result()
  }

  /** The generator: its own thread and its own TCP connection. Frames go
    * out at their due time whether or not the consumer keeps up; writes
    * coalesce whatever is already due. */
  final class Generator(port: Int, frames: Vector[Frame]) extends Thread("perfbench-gen") {
    setDaemon(true)
    val sentNs = new Array[Long](frames.size)
    @volatile var busyNs = 0L
    @volatile var error: Option[Throwable] = None
    override def run(): Unit = try {
      val sock = new Socket(InetAddress.getLoopbackAddress, port)
      sock.setTcpNoDelay(true)
      val in = sock.getInputStream
      val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
      out.write(NatsWire.connect("""{"verbose":false,"pedantic":false,"name":"perfbench-gen"}"""))
      var i = 0
      while (i < frames.size) {
        val wait = frames(i).dueNs - System.nanoTime()
        if (wait > 200000L) java.util.concurrent.locks.LockSupport.parkNanos(wait - 100000L)
        else {
          val b0 = System.nanoTime()
          while (i < frames.size && frames(i).dueNs <= System.nanoTime()) {
            out.write(NatsWire.pub("cdc.client", frames(i).bytes))
            sentNs(i) = System.nanoTime()
            i += 1
          }
          out.flush()
          busyNs += System.nanoTime() - b0
        }
      }
      // PING/PONG: everything before the PING has been routed
      out.write(NatsWire.ping); out.flush()
      val buf = new Array[Byte](4096)
      val seen = new StringBuilder
      sock.setSoTimeout(60000)
      while (!seen.toString.contains("PONG")) {
        val n = in.read(buf)
        if (n < 0) throw new IllegalStateException("server closed the generator connection")
        seen.append(new String(buf, 0, n, US_ASCII))
        if (seen.length > 8192) seen.delete(0, seen.length - 16)
      }
      sock.close()
    } catch { case e: Throwable => error = Some(e) }
  }

  private def loadEvents(spark: SparkSession, data: String): IndexedSeq[Ev] =
    graft.Tables.events(spark, data).select("user_id", "event_type", "value")
      .collect().map(r => Ev(r.getLong(0), r.getString(1), r.getDouble(2))).toIndexedSeq

  /** The live frame's payload fields as columns. */
  private def fields(bus: DataFrame): DataFrame = {
    val p = split(col("payload").cast("string"), "\\|")
    bus.select(col("ts").as("arrival_ts"), col("channel"),
      p.getItem(0).as("kind"), p.getItem(1).cast("long").as("event_id"),
      timestamp_millis(p.getItem(2).cast("long")).as("ts"),
      p.getItem(3).cast("long").as("user_id"), p.getItem(4).as("event_type"),
      p.getItem(5).cast("double").as("value"), p.getItem(6).cast("long").as("req_id"))
  }

  private def stream(spark: SparkSession, broker: Class[_]): DataFrame =
    spark.readStream.format("graft-nats").option("broker", broker.getName).load()

  /** Commit wall-clock (epoch ms) and end sequence of each batch. */
  private def commits(ps: Seq[StreamingQueryProgress]): Vector[(Long, Double)] =
    ps.filter(_.sources.nonEmpty).flatMap { p =>
      val end = """\d+""".r.findFirstIn(p.sources.head.endOffset).map(_.toLong).getOrElse(0L)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      Option(p.durationMs.get("triggerExecution")).map(d => (end, startMs + d.toDouble))
    }.sortBy(_._1).toVector

  private def sinkOf(q: StreamingQuery): Seq[StreamingQueryProgress] = q.recentProgress.toSeq

  def run(spark: SparkSession, args: Main.Args, res: Result,
          tracer: Option[Tracer], jvmStartMs: Long): Unit = {
    import spark.implicits._
    implicit val s: SparkSession = spark
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // two state partitions per stateful operator, as the graded streams use
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val rd = new File(args.runDir).getAbsoluteFile
    val events = loadEvents(spark, args.data)
    val server = new NatsServer()
    val queries = mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      val bus = Graft.live(spark, server.target)
      // every subscription is live before the first publish (at-most-once)
      Seq(new TcpBroker, new TakeBroker, new RpcBroker, new CaptureBroker).foreach(_.flush())

      queries += Streams.subCounters(bus.frame, Patterns)
        .writeStream.outputMode("complete").format("memory").queryName("live_counters")
        .option("checkpointLocation", s"$rd/ckpt/counters").start()
      val takeIn = fields(stream(spark, classOf[TakeBroker]))
        .withColumn("sub", explode(array(TakePatterns.map(p =>
          when(graft.functions.GraftFunctions.mqtt_matches(lit(p), col("channel")), lit(p))): _*)))
        .filter(col("sub").isNotNull)
        .select(col("sub"), struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), lit("").as("props")))
        .as[(String, Streams.BusEvent)]
      queries += Streams.takeNPerKey(takeIn, TakeN).writeStream.format("memory")
        .queryName("live_take").option("checkpointLocation", s"$rd/ckpt/take").start()
      val rpcIn = fields(stream(spark, classOf[RpcBroker]))
        .filter(col("kind") =!= "e")
        .select(col("req_id"), when(col("kind") === "q", "req").otherwise("res").as("kind"),
          col("ts"), col("event_id"), col("channel").as("payload"))
        .as[Streams.RpcMsg]
      queries += Streams.rpcStream(rpcIn, RpcTimeoutMs).writeStream.format("memory")
        .queryName("live_rpc").option("checkpointLocation", s"$rd/ckpt/rpc").start()
      val capIn = fields(stream(spark, classOf[CaptureBroker])).filter(col("kind") === "e")
      queries += Streams.captureTo(capIn, s"$rd/capture", s"$rd/ckpt/capture")

      // warm-up that every query must have committed before the ladder
      // starts: two seconds at 1000 frames/s, then one at 16000 frames/s,
      // so the per-frame and the large-batch paths are compiled before
      // anything is timed
      val rungs = ladder(args.smoke, args.seconds)
      val t0w = System.nanoTime() + 50000000L
      val warm = schedule(args.seed ^ 0x5eed,
        Seq(Rung(1000, 0L, 2000000000L), Rung(16000, 2000000000L, 1000000000L)), t0w,
        System.currentTimeMillis() + 50, events, 0)
      publish(server, warm, "warm-up")
      awaitSeq(queries.toSeq, warm.size.toLong, 60000L)
      res.e2e("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")
      Heap.mark()

      val rungSpans = mutable.ArrayBuffer.empty[(Long, Long, Long)] // start, end, span id
      def ladderRun(firstIdx: Int, seed: Long, parent: Long): (Vector[Frame], Generator) = {
        val t0 = System.nanoTime() + 100000000L
        val wall0 = System.currentTimeMillis() + 100
        val frames = schedule(seed, rungs, t0, wall0, events, firstIdx)
        val gen = new Generator(server.port, frames)
        gen.start(); gen.join()
        gen.error.foreach(e => throw new IllegalStateException(s"generator failed: $e", e))
        tracer.foreach { t =>
          rungs.foreach { g =>
            val (a, b) = (t0 + g.startNs, t0 + g.startNs + g.durNs)
            rungSpans += ((a, b, t.record(s"rung.${g.rate}", a, b, parent)))
          }
          t.record("gen", frames.head.dueNs, gen.sentNs.last, parent)
        }
        (frames, gen)
      }

      val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
      val runs = mutable.ArrayBuffer.empty[(Vector[Frame], Generator)]
      val (f1, g1) = ladderRun(warm.size, args.seed, 0L)
      runs += ((f1, g1))
      tracer.foreach { t =>
        // the traced ladder: the same ladder again, every listener on
        awaitSeq(queries.toSeq, (warm.size + f1.size).toLong, 60000L)
        t.attach()
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
            progress.add(e.progress)
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        })
        val (f2, g2) = t.span(args.workload)(w => ladderRun(warm.size + f1.size, args.seed + 1, w))
        runs += ((f2, g2))
      }
      // a final far-future RPC frame moves the event-time watermark past
      // every deadline, so every request resolves
      val lastIdx = warm.size + runs.map(_._1.size).sum
      val flush = Frame(lastIdx, -1, System.nanoTime(), "rpc/res/-1", 'r', -1L,
        envelope("rpc/res/-1", payload('r', lastIdx, System.currentTimeMillis() + 10 * RpcTimeoutMs,
          0L, "", 0.0, -1L)))
      publish(server, Vector(flush), "flush")
      val total = (lastIdx + 1).toLong
      awaitSeq(queries.toSeq, total, 60000L)
      val requests = (warm ++ runs.flatMap(_._1)).count(_.kind == 'q')
      val deadline = System.currentTimeMillis() + 30000L
      while (spark.table("live_rpc").count() < requests && System.currentTimeMillis() < deadline)
        Thread.sleep(50)

      Heap.mark()

      // ---- measurements ----
      val all = warm ++ runs.flatMap(_._1) :+ flush
      val perQuery = queries.map(q => commits(sinkOf(q))).toSeq
      // a frame's commit at each consumer: the commit of that query's
      // first batch ending at or after the frame's sequence number
      def commitsMs(seq: Long): Seq[Double] = perQuery.flatMap(_.find(_._1 >= seq).map(_._2))
      val (frames, gen) = runs.head
      val wall0 = System.currentTimeMillis() - (System.nanoTime() - frames.head.dueNs) / 1000000L
      def dueMs(f: Frame) = wall0 + (f.dueNs - frames.head.dueNs) / 1e6
      // one latency sample per frame and consumer output: each of the four
      // sinks commits the frame in its own batch
      val lat = frames.map(f => f -> commitsMs(f.idx + 1L).map(_ - dueMs(f)))
      val byRung = lat.groupBy(_._1.rung)
      val rates = rungs.map(_.rate)
      // Frames of one micro-batch share its commit, so the nominal rung's
      // ~2.7k frames come from about a dozen commits per consumer, and a
      // percentile above 90 is set by the run's one or two slowest
      // batches. The latency tail is p90, with over 1000 samples beyond it.
      def tail(xs: Seq[Double]) = Stats.quantile(xs, LatencyTailPct / 100)
      val nominal = byRung(0).flatMap(_._2)
      res.e2e("latency_p50_ms", Stats.median(nominal), "ms")
      val lt = tail(nominal)
      res.e2e("latency_tail_ms", lt, "ms")
      res.note("latency_tail_ms.percentile", LatencyTailPct)
      res.note("latency.samples", nominal.size)
      // A rung is sustained when the backlog does not grow — the latency of
      // its last quarter stays within 1.5x (+100 ms) of its first quarter's
      // — and its tail latency stays within twice the nominal rung's.
      val sustained = rates.indices.takeWhile { r =>
        val xs = byRung.getOrElse(r, Vector.empty).flatMap(_._2)
        val q = math.max(1, xs.size / 4)
        xs.nonEmpty && tail(xs) <= 2 * lt &&
          Stats.median(xs.takeRight(q)) <= 1.5 * Stats.median(xs.take(q)) + 100.0
      }
      res.note("rungs_sustained", sustained.size)
      // full-result time: for each consumer query, from the top rung's
      // start until that query has committed the ladder's last frame,
      // summed over the four queries (as `batch` sums its queries). It is
      // the time the system takes to absorb the top rung's burst: the
      // rung's own 1.8 s is in it, the rest of the ladder's fixed schedule
      // is not. One sum over four outputs, not the slowest output alone,
      // because each output's finish moves in steps of a micro-batch.
      val topStartMs = wall0 + rungs.last.startNs / 1e6
      val lastSeq = frames.last.idx + 1L
      val doneMs = perQuery.map(_.find(_._1 >= lastSeq).map(_._2)
        .getOrElse(throw new IllegalStateException("last frame not committed")))
      val lastCommit = doneMs.max
      res.e2e("total_s", doneMs.map(_ - topStartMs).sum / 1e3, "s")
      // The rate the consumers sustain under overload: from the top rung's
      // start until the backlog is drained, frames processed per second of
      // batch time, pooled over the four consumer queries.
      val topBatches = queries.toSeq.flatMap(sinkOf).filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        t >= topStartMs && t <= lastCommit && p.numInputRows > 0
      }
      val topMs = topBatches.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble)).sum
      res.e2e("sustained_eps", topBatches.map(_.numInputRows.toDouble).sum / (topMs / 1e3), "1/s")
      res.note("ladder", rates.mkString(","))
      rates.indices.foreach { r =>
        val xs = byRung.getOrElse(r, Vector.empty).flatMap(_._2)
        val q = math.max(1, xs.size / 4)
        res.note(s"rung.${rates(r)}", f"p50=${Stats.median(xs)}%.0f tail=${tail(xs)}%.0f " +
          f"first=${Stats.median(xs.take(q))}%.0f last=${Stats.median(xs.takeRight(q))}%.0f")
      }
      // the consumer micro-batches of the ladder are the "queries" of
      // this workload
      val batchS = queries.toSeq.flatMap(sinkOf).filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        t >= wall0 && t <= lastCommit && p.numInputRows > 0
      }.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble / 1e3))
      res.e2e("query_p50_s", Stats.median(batchS), "s")
      val (bt, bp) = Stats.tail(batchS)
      res.e2e("query_tail_s", bt, "s")
      res.note("query_tail_s.percentile", bp)
      res.note("query_tail_s.samples", batchS.size)
      // generator lateness at the nominal rung decides whether the load
      // arrived as scheduled (run.py rejects the run otherwise); above it
      // lateness is the transport pushing back, reported as a note
      val late = frames.indices.map(i => (gen.sentNs(i) - frames(i).dueNs) / 1e6)
      val (lateTail, _) = Stats.tail(late.indices.filter(frames(_).rung == 0).map(late))
      res.layer("gen.late_ms_tail", lateTail, "ms")
      res.note("gen.late_ms_all_max", late.max)

      // ---- correctness against the schedule ----
      check(spark, res, all, requests, rd)

      tracer.foreach { t =>
        t.drain()
        import scala.jdk.CollectionConverters._
        val ps = progress.asScala.toSeq
        val (f2, g2) = runs.last
        val wall2 = System.currentTimeMillis() - (System.nanoTime() - f2.head.dueNs) / 1000000L
        val traced = f2.filter(_.rung == 0).flatMap(f =>
          commitsMs(f.idx + 1L).map(_ - (wall2 + (f.dueNs - f2.head.dueNs) / 1e6)))
        res.layer("trace.overhead_frac", Stats.median(traced) / Stats.median(nominal) - 1.0, "ratio")
        StreamStats.report(queries.toSeq.flatMap(sinkOf), res)
        natsLayers(spark, res, ps, queries.toSeq.map(q => commits(sinkOf(q))), f2, g2, wall2, rd)
        cdcLayers(res, all)
        // micro-batch spans (from progress) with their phases laid out in
        // execution order
        val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
        ps.foreach { p =>
          val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
          val startNs = startMs * 1000000L + offset
          val dur = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
          val rung = rungSpans.find { case (a, e, _) => startNs >= a && startNs < e }.map(_._3)
          val b = t.record(s"batch.${p.name}", startNs, startNs + dur * 1000000L, rung.getOrElse(0L))
          var at = startNs
          Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
            .foreach { ph => Option(p.durationMs.get(ph)).foreach { d =>
              t.record(ph, at, at + d.toLong * 1000000L, b); at += d.toLong * 1000000L } }
        }
      }
    } finally {
      queries.foreach(q => try q.stop() catch { case scala.util.control.NonFatal(_) => () })
      server.close()
      Seq(classOf[TcpBroker], classOf[TakeBroker], classOf[RpcBroker], classOf[CaptureBroker])
        .foreach(c => graft.nats.TextProtocolBroker.dropSession(c, "cdc.client", server.target))
      sys.props.remove(TcpBroker.TargetProperty)
    }
  }

  /** Publish a fixed batch of frames over a fresh generator connection. */
  private def publish(server: NatsServer, frames: Vector[Frame], what: String): Unit = {
    val g = new Generator(server.port, frames)
    g.start(); g.join()
    g.error.foreach(e => throw new IllegalStateException(s"$what publish failed: $e", e))
  }

  /** Wait until every query has committed a batch ending at `seq` or later. */
  private def awaitSeq(qs: Seq[StreamingQuery], seq: Long, maxMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def done(q: StreamingQuery) = commits(sinkOf(q)).lastOption.exists(_._1 >= seq)
    while (!qs.forall(done) && System.currentTimeMillis() < deadline) {
      qs.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(20)
    }
    if (!qs.forall(done)) throw new IllegalStateException(s"consumers did not reach seq $seq")
  }

  private def check(spark: SparkSession, res: Result, all: Vector[Frame],
                    requests: Int, rd: File): Unit = {
    var checked = 0L; var wrong = 0L
    // counters: one output per pattern
    val counts = spark.table("live_counters").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Patterns.foreach { p =>
      val want = all.count(f => Topic.matches(p, f.channel)).toLong
      checked += 1
      if (counts.getOrElse(p, 0L) != want) {
        wrong += 1
        res.check(s"counter $p", ok = false, s"got ${counts.getOrElse(p, 0L)} want $want")
      }
    }
    val lost = all.size - counts.getOrElse("#", 0L)
    // take(n): exactly min(n, matches) distinct deliveries per key, each a
    // frame that matches the key
    val byIdx = all.map(f => f.idx.toLong -> f).toMap
    val take = spark.table("live_take").collect().map(r => (r.getString(0), r.getLong(1)))
    TakePatterns.foreach { p =>
      val got = take.filter(_._1 == p).map(_._2)
      val want = math.min(TakeN, all.count(f => Topic.matches(p, f.channel)))
      checked += 1
      val ok = got.length == want && got.distinct.length == got.length &&
        got.forall(i => byIdx.get(i).exists(f => Topic.matches(p, f.channel)))
      if (!ok) { wrong += 1; res.check(s"take $p", ok = false, s"got ${got.mkString(",")}") }
    }
    // RPC: 200 with the first response, or 408
    val firstRes = all.filter(f => f.kind == 'r' && f.reqId >= 0).groupBy(_.reqId)
      .map { case (k, fs) => k -> fs.minBy(_.idx).idx.toLong }
    val outcomes = spark.table("live_rpc").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).groupBy(_._1)
    var unanswered = 0L
    all.filter(_.kind == 'q').foreach { q =>
      checked += 1
      outcomes.get(q.reqId) match {
        case None => unanswered += 1
        case Some(os) =>
          val want = firstRes.get(q.reqId).map(i => (200L, i)).getOrElse((408L, -1L))
          if (os.length != 1 || os.head._2 != want) {
            wrong += 1
            res.check(s"rpc ${q.reqId}", ok = false, s"got ${os.map(_._2).mkString(",")} want $want")
          }
      }
    }
    // capture: every event frame lands in the parquet dir
    val cap = spark.read.parquet(s"$rd/capture").select("event_id").as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect()
    val capSet = cap.toSet
    val events = all.filter(_.kind == 'e').map(_.idx.toLong)
    val missing = events.count(i => !capSet.contains(i))
    checked += 1
    if (missing > 0) { wrong += 1; res.check("capture", ok = false, s"$missing event frames missing") }
    res.note("capture.duplicates", cap.length - capSet.size)
    res.attempted = all.size.toLong + requests
    res.failed = math.max(0L, lost) + unanswered
    res.note("live.frames", all.size)
    res.note("live.requests", requests)
    res.note("live.unanswered", unanswered)
    res.note("checked", checked)
    res.note("wrong", wrong)
  }

  private def natsLayers(spark: SparkSession, res: Result, ps: Seq[StreamingQueryProgress],
                         perQuery: Seq[Vector[(Long, Double)]],
                         frames: Vector[Frame], gen: Generator, wall0: Long, rd: File): Unit = {
    // backlog: frames sent minus frames committed, at each commit of each
    // consumer during the traced ladder
    val sent = frames.indices.map(i => wall0 + (gen.sentNs(i) - frames.head.dueNs) / 1e6).sorted
    val first = frames.head.idx.toLong
    val lastSent = sent.last
    val backlog = perQuery.flatMap { cs =>
      cs.filter { case (_, t) => t >= wall0 && t <= lastSent + 1 }.map { case (end, t) =>
        val published = first + sent.count(_ <= t)
        math.max(0L, published - end).toDouble
      }
    }
    res.layer("nats.backlog_frames_max", backlog.maxOption.getOrElse(0.0), "frames")
    res.layer("nats.latest_offset_ms_p50",
      Stats.median(ps.flatMap(p => Option(p.durationMs.get("latestOffset")).map(_.toDouble))), "ms")
    res.layer("nats.frames_published", frames.size.toDouble, "frames")
    res.layer("nats.frames_delivered", ps.map(_.numInputRows.toDouble).sum, "frames")
    res.layer("nats.publish_busy_s", gen.busyNs / 1e9, "s")
    // arrival stamp (the source's `ts`) minus the due time, from the capture
    val dueByIdx = frames.map(f => f.idx.toLong -> (wall0 + (f.dueNs - frames.head.dueNs) / 1e6)).toMap
    val lags = spark.read.parquet(s"$rd/capture").select(col("event_id"),
        (unix_micros(col("arrival_ts")) / 1000.0).as("a")).collect()
      .flatMap(r => dueByIdx.get(r.getLong(0)).map(d => r.getDouble(1) - d))
    res.layer("nats.arrival_lag_ms_p50", Stats.median(lags.toSeq), "ms")
  }

  /** `CdcProto.decode` and `MqttTrie.dispatch` over the run's own frames,
    * on one thread, best of five. */
  private def cdcLayers(res: Result, frames: Vector[Frame]): Unit = {
    val bytes = frames.map(_.bytes)
    val trie = MqttTrie(Patterns)
    def best(body: => Long): Double = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble }.min
    var sink = 0L
    val dec = best { bytes.foreach(b => sink += CdcProto.decode(b).channel.length); sink }
    val channels = frames.map(_.channel)
    var hits = 0L
    val disp = best { hits = 0L; channels.foreach(c => hits += trie.dispatch(c).length); hits }
    res.layer("cdc.decode_ns_per_frame", dec / bytes.size, "ns")
    res.layer("cdc.dispatch_ns_per_frame", disp / channels.size, "ns")
    res.layer("cdc.deliveries_per_frame", hits.toDouble / channels.size, "ratio")
  }
}
