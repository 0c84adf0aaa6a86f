package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Benchmark harness entry point: runs ONE workload in this JVM and writes
  * its measurements as a JSON object to `--out`. `perfbench/run.py`
  * builds, launches, checks outputs and prints the final result line.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --run-dir DIR --out FILE [--smoke 1]`. Everything the run
  * writes (warehouse, checkpoints, local dirs, captured outputs) lives
  * under `--run-dir`.
  */
object Main {

  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, runDir: String,
                        out: String, smoke: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("run-dir"), m("out"),
      m.getOrElse("smoke", "0") == "1")
  }

  def session(args: Args): SparkSession = {
    val rd = new File(args.runDir).getAbsolutePath
    SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${args.workload}")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$rd/warehouse")
      .config("spark.local.dir", s"$rd/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
  }

  /** The outputs each workload checks and their oracle SQL twins, as
    * JSON (for the expected-output tool): `--list 1 --smoke 0|1`. */
  private def list(smoke: Boolean): String = {
    val ws = Seq("batch" -> Batch.queries(smoke).map(_.name))
    val lists = ws.map { case (w, ns) => s"${Json.str(w)}:${ns.map(Json.str).mkString("[", ",", "]")}" }
    val oracle = graft.SparkEntry.oracleSql.filter(kv => ws.exists(_._2.contains(kv._1))).toSeq.sortBy(_._1)
    s"""{"workloads":${lists.mkString("{", ",", "}")},"oracle":${Json.obj(oracle)}}"""
  }

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--list")) {
      println(list(argv.sliding(2).exists(_.toSeq == Seq("--smoke", "1"))))
      return
    }
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    Heap.install()
    val spark = session(args)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (args.trace) Some(new Tracer(spark, args.workload)) else None
    val res = new Result
    res.layer("setup.session_s", sessionReadyS, "s")
    res.note("cores", Cores)
    args.workload match {
      case "batch"         => Batch.run(spark, args, res, tracer, jvmStartMs)
      case "bus_live"      => Live.run(spark, args, res, tracer, jvmStartMs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    res.layer("fail_frac", res.failed.toDouble / math.max(1L, res.attempted), "ratio")
    res.e2e("heap_peak_mb", Heap.peakMb, "MB")
    tracer.foreach(_.finish(res, new File(args.runDir, "trace")))
    Files.write(Paths.get(args.out), res.json.getBytes(UTF_8))
    spark.stop()
  }
}

/** The run's peak heap in use after a collection. Every collection
  * reports its post-GC heap usage through the JDK's GC notifications, from
  * JVM start to the end of the run, so a transient peak (frames the broker
  * buffers during a backlog, a query's execution memory) counts when a
  * collection happens inside it. [[mark]] forces full collections at fixed
  * points (end of set-up, end of the measured window): a floor that does
  * not depend on when the collector happens to run. The second forced
  * collection follows Spark's context cleaner, which frees shuffle and
  * broadcast state only after the first one has cleared their references. */
object Heap {
  private val peak = new AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def mark(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak.accumulateAndGet(used, (a, b) => math.max(a, b))
  }

  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

/** Collected measurements; serialized with [[json]]. End-to-end metrics
  * and per-layer metrics are kept apart, plus free-form notes (sample
  * counts, percentile choices) and the check lists `run.py` verifies. */
final class Result {
  import scala.collection.mutable
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, String]
  /** Outputs to hash-check: name → parquet dir. */
  val outputs = mutable.LinkedHashMap.empty[String, String]
  /** Checks done in the JVM: (what, ok, detail). */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def e2e(n: String, v: Double, unit: String): Unit = e2eMetrics(n) = (v, unit)
  def layer(n: String, v: Double, unit: String): Unit = layerMetrics(n) = (v, unit)
  def note(n: String, v: Any): Unit = notes(n) = v.toString
  def check(what: String, ok: Boolean, detail: String = ""): Unit = checks += ((what, ok, detail))

  def json: String = {
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}" }
        .mkString("{", ",", "}")
    val ck = checks.map { case (w, ok, d) =>
      s"""{"what":${Json.str(w)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,"e2e":${metrics(e2eMetrics)},""" +
      s""""layers":${metrics(layerMetrics)},"notes":${Json.obj(notes.toSeq)},""" +
      s""""outputs":${Json.obj(outputs.toSeq)},"checks":$ck}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest of the candidate percentiles that still leaves at least
    * `beyond` samples above it; None when there are too few samples. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 66.0, 50.0)
      .find(p => n * (1 - p / 100.0) >= beyond - 1e-9)
  /** (value, percentile) at [[tailPercentile]]; the maximum (percentile
    * 100) when there are too few samples for any candidate. */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) =
    tailPercentile(xs.size, beyond) match {
      case Some(p) => (quantile(xs, p / 100), p)
      case None => (xs.maxOption.getOrElse(Double.NaN), 100.0)
    }
}
