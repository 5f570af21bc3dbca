package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of `graft.streaming` from micro-batch progress
  * (`StreamingQueryProgress`, the monitoring interface of Structured
  * Streaming): medians of the `durationMs` parts over batches that
  * read data, state-store size and commit time, and row counts. */
object StreamMetrics {

  val Parts: Seq[(String, String)] = Seq("batch_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "latest_offset_ms" -> "latestOffset", "query_planning_ms" -> "queryPlanning")

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Duration parts of `batches`, named `stream.<part>`. */
  def durations(batches: Seq[StreamingQueryProgress]): Seq[Metric] =
    Parts.map { case (n, key) =>
      Metric(s"stream.$n",
        med(batches.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue()))), "ms", batches.size)
    }

  def all(progress: Seq[StreamingQueryProgress]): Seq[Metric] = {
    val data = dataBatches(progress)
    def states(p: StreamingQueryProgress) = p.stateOperators.toSeq
    durations(data) ++ Seq(
      Metric("stream.state_commit_ms", med(data.map(states(_).map(_.commitTimeMs.toDouble).sum)), "ms", data.size),
      Metric("stream.state_rows_max", progress.map(states(_).map(_.numRowsTotal.toDouble).sum).maxOption.getOrElse(0.0), "rows"),
      Metric("stream.state_bytes_max",
        progress.map(states(_).map(_.memoryUsedBytes.toDouble).sum).maxOption.getOrElse(0.0), "bytes"),
      Metric("stream.rows_per_batch", med(data.map(_.numInputRows.toDouble)), "rows", data.size),
      Metric("stream.processed_rows_per_s", med(data.map(_.processedRowsPerSecond)), "1/s", data.size),
      Metric("stream.rows_dropped_late", progress.map(states(_).map(_.numRowsDroppedByWatermark).sum).sum.toDouble, "rows"),
      Metric("stream.micro_batches", progress.map(p => (p.runId, p.batchId)).distinct.size.toDouble, "count"))
  }

  /** Batches that read input (idle and watermark-only batches excluded). */
  def dataBatches(progress: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    progress.filter(_.numInputRows > 0)
}
