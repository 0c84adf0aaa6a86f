package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The `stream` layer's metrics, from `StreamingQueryProgress` records
  * (the listener's events in a traced run, or `recentProgress`). */
object StreamStats {

  def report(ps: Seq[StreamingQueryProgress], res: Result): Unit = {
    val withData = ps.filter(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Option[Double] =
      Option(p.durationMs.get(k)).map(_.toDouble)
    def p50(k: String) = Stats.median(ps.flatMap(dur(_, k)))
    val batchMs = ps.flatMap(dur(_, "triggerExecution"))
    res.layer("stream.batches", ps.size.toDouble, "count")
    res.layer("stream.batch_ms_p50", Stats.median(batchMs), "ms")
    Stats.tailPercentile(batchMs.size) match {
      case Some(p) => res.layer("stream.batch_ms_tail", Stats.quantile(batchMs, p / 100), "ms")
        res.note("stream.batch_ms_tail.percentile", p)
      case None => res.layer("stream.batch_ms_tail", batchMs.maxOption.getOrElse(Double.NaN), "ms")
    }
    res.layer("stream.add_batch_ms_p50", p50("addBatch"), "ms")
    res.layer("stream.planning_ms_p50", p50("queryPlanning"), "ms")
    res.layer("stream.wal_commit_ms_p50", p50("walCommit"), "ms")
    res.layer("stream.offset_commit_ms_p50", p50("commitOffsets"), "ms")
    val ops = ps.flatMap(_.stateOperators.toSeq)
    def custom(k: String): Double =
      ops.map(o => Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    // state size: the last progress of each query (state is cumulative)
    val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    res.layer("stream.state_rows", last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum, "rows")
    res.layer("stream.state_bytes", last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum, "bytes")
    res.layer("stream.state_commit_ms_p50", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
    res.layer("stream.rocksdb_gets", custom("rocksdbGetCount"), "count")
    res.layer("stream.rocksdb_puts", custom("rocksdbPutCount"), "count")
    res.layer("stream.rows_dropped_late", ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "rows")
    // each query's first batch (batch 0): the stream's start
    val firsts = ps.groupBy(_.runId).values.map(_.minBy(_.batchId)).toSeq
    res.layer("stream.start_ms", Stats.median(firsts.filter(_.batchId == 0).flatMap(dur(_, "triggerExecution"))), "ms")
    res.note("stream.progress_records", ps.size)
    res.note("stream.batches_with_data", withData.size)
  }
}
