package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.cdc.CdcBus
import graft.llm.{HashDedup, Multimodal, TextOps, VectorOps}
import graft.rel.{Bucketed, RelQueries}

/** The batch workload. Each query is timed from the builder call to the
  * last row written into a `noop` sink, so nothing the query computes can
  * be pruned away (a `count()` lets Catalyst drop sorts, output columns
  * and whole kernels). It is a small fixed sample of the catalog — one
  * run has to fit set-up and several passes into under a minute — made
  * of a relational half (time in exchanges, joins, windows and planning)
  * and an `llm` half (time in the compiled kernels), reported per layer.
  *
  * Set-up is the run up to ready: JVM start, session, one untimed pass
  * that builds the `Warehouse` artifacts in the run's fresh warehouse dir
  * and writes each query's full output for the hash check, and one
  * untimed pass through the timed path. The timed window then runs
  * seed-shuffled passes until `--seconds` is spent (the first pass always
  * completes); a query's time is its fastest pass.
  */
object Batch {

  type Builder = (SparkSession, String) => DataFrame
  /** A query with its layer (`cdc`, `rel`, `llm.dedup`, `llm.text`,
    * `llm.vector`, `llm.mm`). */
  final case class Q(name: String, layer: String, build: Builder)

  /** The relational half: CdcBus batch queries (routing, SQL routing,
    * counters, take, SCD2), the Bucketed pair (Warehouse artifacts) and
    * relational joins and windows. */
  val RelSet: Seq[(String, String)] =
    Seq("cdc_route_hot", "cdc_sql_route", "cdc_sub_counters", "cdc_take_n",
      "cdc_scd2").map(_ -> "cdc") ++
    Seq("bucketed_agg", "bucketed_join", "join_right", "window_lead_next").map(_ -> "rel")

  /** The llm half: named kernel rows from each llm module — dedup
    * signatures, text statistics, vector top-k and clustering, multimodal
    * pairs. */
  val LlmSet: Seq[(String, String)] =
    Seq("simhash_sig", "minhash_sig", "minhash_jaccard_est").map(_ -> "llm.dedup") ++
    Seq("gopher_rules", "bm25_top_terms").map(_ -> "llm.text") ++
    Seq("maxsim_topk", "kmeans_step").map(_ -> "llm.vector") ++
    Seq("mm_phash_pairs", "mm_chunk").map(_ -> "llm.mm")

  val WarmPasses = 1

  private val all: Map[String, Builder] =
    CdcBus.queries ++ Bucketed.queries ++ RelQueries.queries ++ HashDedup.queries ++
      TextOps.queries ++ VectorOps.queries ++ Multimodal.queries

  def queries(smoke: Boolean): Seq[Q] =
    // smoke: every other query of each half
    Seq(RelSet, LlmSet).flatMap(_.zipWithIndex.collect {
      case ((n, layer), i) if !smoke || i % 2 == 0 => Q(n, layer, all(n))
    })

  final class Sample(val q: Q) {
    val build = mutable.ArrayBuffer.empty[Double]
    val exec = mutable.ArrayBuffer.empty[Double]
    def full: Seq[Double] = build.indices.map(i => build(i) + exec(i))
    var failed = false
  }

  /** Builder call + `noop` write, in seconds; the frame is aliased so the
    * tracer can attribute its plan. */
  def timeOne(spark: SparkSession, q: Q, data: String,
              tracer: Option[Tracer] = None): (Double, Double) = {
    spark.sparkContext.setLocalProperty(Tracer.QueryProp, q.name)
    try {
      val t0 = System.nanoTime()
      val df = q.build(spark, data).as(Tracer.AliasPrefix + q.name)
      val t1 = System.nanoTime()
      // analysis runs eagerly in the builder, on the frame's own tracker
      tracer.foreach(_.addAnalysis(q.name, df.queryExecution.tracker))
      df.write.format("noop").mode("overwrite").save()
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    } finally spark.sparkContext.setLocalProperty(Tracer.QueryProp, null)
  }

  private def dirSize(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirSize).sum else f.length()

  def run(spark: SparkSession, args: Main.Args, res: Result,
          tracer: Option[Tracer], jvmStartMs: Long): Unit = {
    val qs = queries(args.smoke)
    val outDir = new File(args.runDir, "out")
    val warehouse = new File(args.runDir, "warehouse")
    val samples = qs.map(q => q.name -> new Sample(q)).toMap
    res.note("queries", qs.size)

    // ---- set-up: the warm pass, which also writes each full output ----
    val warm = mutable.LinkedHashMap.empty[String, (Double, Boolean)]
    qs.foreach { q =>
      val before = dirSize(warehouse)
      val t0 = System.nanoTime()
      res.attempted += 1
      try {
        spark.sparkContext.setLocalProperty(Tracer.QueryProp, q.name)
        val path = new File(outDir, q.name).getAbsolutePath
        q.build(spark, args.data).coalesce(1).write.mode("overwrite").parquet(path)
        res.outputs(q.name) = path
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"perfbench: ${q.name} failed in set-up: $e")
          samples(q.name).failed = true
          res.failed += 1
      } finally spark.sparkContext.setLocalProperty(Tracer.QueryProp, null)
      warm(q.name) = ((System.nanoTime() - t0) / 1e9, dirSize(warehouse) > before)
    }
    // one more untimed pass through the measured path: short queries are
    // dominated by query-planning code on the calling thread, whose JIT
    // state otherwise still moves during the window
    (0 until WarmPasses).foreach { _ =>
      qs.map(q => samples(q.name)).filterNot(_.failed).foreach { s =>
        res.attempted += 1
        try timeOne(spark, s.q, args.data)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"perfbench: ${s.q.name} failed in set-up: $e")
            s.failed = true
            res.failed += 1
        }
      }
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    res.e2e("setup_s", setupS, "s")
    Heap.mark()
    res.layer("setup.warm_pass_s", warm.values.map(_._1).sum, "s")

    // ---- timed window(s) ----
    def window(seconds: Double, passSeed: Long, tracer: Option[Tracer], parent: Long): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var pass = 0
      while (pass == 0 || System.nanoTime() < deadline) {
        val order = new scala.util.Random(passSeed * 7919L + pass).shuffle(qs)
        val it = order.iterator
        while (it.hasNext && (pass == 0 || System.nanoTime() < deadline)) {
          val q = it.next()
          val s = samples(q.name)
          if (!s.failed) {
            res.attempted += 1
            try {
              val (b, e) = tracer match {
                case Some(t) => t.span(q.name, parent) { id =>
                  val t0 = System.nanoTime()
                  val (b, e) = timeOne(spark, q, args.data, tracer)
                  val t1 = t0 + (b * 1e9).toLong
                  t.record("build", t0, t1, id)
                  t.record("execute", t1, t1 + (e * 1e9).toLong, id)
                  (b, e)
                }
                case None => timeOne(spark, q, args.data)
              }
              s.build += b; s.exec += e
            } catch {
              case scala.util.control.NonFatal(e) =>
                System.err.println(s"perfbench: ${q.name} failed: $e")
                s.failed = true
                res.failed += 1
            }
          }
        }
        pass += 1
      }
      res.note("passes", pass)
    }

    def summarize(record: Boolean, seconds: Double): Double = {
      val ok = samples.values.filter(s => !s.failed && s.build.nonEmpty).toSeq
      // per-query minimum over passes: contention from outside the run
      // only ever slows a pass, so the fastest pass is the steadiest
      // estimate of the query's own cost
      val perQuery = ok.map(_.full.min)
      val total = perQuery.sum
      if (record) {
        res.e2e("total_s", total, "s")
        res.e2e("query_p50_s", Stats.median(perQuery), "s")
        // per-query times are few (one per query): the tail leaves 3 beyond it
        val (qt, qp) = Stats.tail(perQuery, beyond = 3)
        res.e2e("query_tail_s", qt, "s")
        res.note("query_tail_s.percentile", qp)
        res.note("query_tail_s.samples", perQuery.size)
        // every execution is one latency sample
        val execs = ok.flatMap(_.full).map(_ * 1e3)
        res.e2e("latency_p50_ms", Stats.median(execs), "ms")
        val (lt, lp) = Stats.tail(execs)
        res.e2e("latency_tail_ms", lt, "ms")
        res.note("latency_tail_ms.percentile", lp)
        res.note("latency.samples", execs.size)
        res.e2e("sustained_eps", execs.size / seconds, "1/s")
      }
      total
    }

    def timed(seconds: Double, seed: Long, tracer: Option[Tracer], parent: Long): Double = {
      val t0 = System.nanoTime()
      window(seconds, seed, tracer, parent)
      val spent = (System.nanoTime() - t0) / 1e9
      Heap.mark()
      spent
    }
    tracer match {
      case None =>
        summarize(record = true, timed(args.seconds, args.seed, None, 0L))
      case Some(t) =>
        // untraced half, then the same work with every listener attached
        val untraced = summarize(record = true, timed(args.seconds / 2, args.seed, None, 0L))
        samples.values.foreach { s => s.build.clear(); s.exec.clear() }
        t.attach()
        t.reset()
        val traced = t.span(args.workload)(w =>
          summarize(record = false, timed(args.seconds / 2, args.seed + 1, Some(t), w)))
        t.drain()
        res.layer("trace.overhead_frac", traced / untraced - 1.0, "ratio")
        layers(spark, args, res, t, samples, warm)
    }
  }

  /** Per-layer metrics and the per-query audit table of a traced run. */
  private def layers(spark: SparkSession, args: Main.Args, res: Result, t: Tracer,
                     samples: Map[String, Sample],
                     warm: mutable.LinkedHashMap[String, (Double, Boolean)]): Unit = {
    val ok = samples.values.filter(s => !s.failed && s.build.nonEmpty).toSeq
    def med(s: Sample, f: Sample => Seq[Double]) = f(s).min
    // module sums of median build / exec time
    val byLayer = ok.groupBy(_.q.layer)
    def sum(pred: String => Boolean, f: Sample => Seq[Double]): Double =
      byLayer.filter(kv => pred(kv._1)).values.flatten.map(med(_, f)).sum
    res.layer("cdc.build_s", sum(_ == "cdc", _.build.toSeq), "s")
    res.layer("cdc.exec_s", sum(_ == "cdc", _.exec.toSeq), "s")
    res.layer("rel.build_s", sum(_ == "rel", _.build.toSeq), "s")
    res.layer("rel.exec_s", sum(_ == "rel", _.exec.toSeq), "s")
    // first-pass time above the steady median, on the queries whose first
    // pass created Warehouse artifacts
    val prep = warm.collect { case (n, (w, true)) if samples(n).build.nonEmpty =>
      math.max(0.0, w - samples(n).full.min) }.sum
    res.layer("rel.warehouse_prep_s", prep, "s")
    res.layer("llm.build_s", sum(_.startsWith("llm"), _.build.toSeq), "s")
    res.layer("llm.exec_s", sum(_.startsWith("llm"), _.exec.toSeq), "s")
    Seq("dedup", "text", "vector", "mm").foreach { m =>
      res.layer(s"llm.$m.exec_s", sum(_ == s"llm.$m", _.exec.toSeq), "s")
    }
    // plans, sources and exec: totals over the traced window, per pass
    val names = ok.map(_.q.name)
    val passes = ok.map(_.build.size).sum.toDouble / math.max(1, ok.size)
    val plans = names.map(t.planOf)
    val tasks = names.map(t.tasksOf)
    def perPass(x: Double) = x / math.max(1.0, passes)
    res.layer("plans.analysis_ms", perPass(plans.map(_.analysisMs).sum), "ms")
    res.layer("plans.optimization_ms", perPass(plans.map(_.optimizationMs).sum), "ms")
    res.layer("plans.planning_ms", perPass(plans.map(_.planningMs).sum), "ms")
    val scanBytes = plans.map(_.scanBytes).sum.toDouble
    val tableBytes = plans.map(_.tableBytes).sum.toDouble
    res.layer("sources.scan_bytes", perPass(scanBytes), "bytes")
    res.layer("sources.scan_rows", perPass(plans.map(_.scanRows).sum.toDouble), "rows")
    res.layer("sources.files_read", perPass(plans.map(_.filesRead).sum.toDouble), "count")
    res.layer("sources.scan_frac", if (tableBytes > 0) scanBytes / tableBytes else 0.0, "ratio")
    res.layer("exec.exchanges", perPass(plans.map(_.exchanges).sum.toDouble), "count")
    res.layer("exec.shuffle_write_bytes", perPass(tasks.map(_.shuffleWrite).sum.toDouble), "bytes")
    res.layer("exec.shuffle_fetch_wait_s", perPass(tasks.map(_.fetchWaitMs).sum) / 1e3, "s")
    res.layer("exec.spill_bytes", perPass(tasks.map(_.spill).sum.toDouble), "bytes")
    res.layer("exec.stages", perPass(tasks.map(_.stages).sum.toDouble), "count")
    res.layer("exec.tasks", perPass(tasks.map(_.tasks).sum.toDouble), "count")
    res.layer("exec.task_ms_p50", Stats.median(tasks.flatMap(_.taskDurations)), "ms")
    val runS = tasks.map(_.runMs).sum / 1e3
    res.layer("exec.cpu_s", perPass(tasks.map(_.cpuNs).sum / 1e9), "s")
    res.layer("exec.run_s", perPass(runS), "s")
    res.layer("exec.gc_s", perPass(tasks.map(_.gcMs).sum / 1e3), "s")
    res.layer("exec.scheduler_delay_s", perPass(tasks.map(_.schedDelayMs).sum / 1e3), "s")
    val wall = ok.flatMap(_.full).sum
    res.layer("exec.core_util", if (wall > 0) runS / (wall * Main.Cores) else 0.0, "ratio")

    // per-query audit: full time, build vs exec, exchanges, shuffle bytes,
    // scan bytes per execution, and the same query's count() time
    val rows = ok.sortBy(_.q.name).map { s =>
      val n = s.q.name
      val p = t.planOf(n); val k = t.tasksOf(n)
      val execs = math.max(1L, p.executions).toDouble
      val countS = try {
        val t0 = System.nanoTime(); s.q.build(spark, args.data).count(); (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(_) => Double.NaN }
      f"""{"query":${Json.str(n)},"layer":${Json.str(s.q.layer)},""" +
        s""""full_s":${s.full.min},"build_s":${s.build.min},""" +
        s""""exec_s":${s.exec.min},"exchanges":${p.exchanges / execs},""" +
        s""""shuffle_bytes":${k.shuffleWrite / execs},"scan_bytes":${p.scanBytes / execs},""" +
        s""""count_s":${if (countS.isNaN) "null" else countS.toString}}"""
    }
    t.extraFiles("audit.json") = rows.mkString("[\n", ",\n", "\n]\n")
  }
}
