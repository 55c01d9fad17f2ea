package perfbench

/** The per-layer metrics a traced run reports, and how they are
  * derived from the recorder's spans. Every traced run prints every
  * name; a layer the workload never calls reads 0.
  */
object Layers {
  /** Facade calls timed as `api.<call>` spans. */
  val ApiCalls = Seq("dedupExact", "nearDuplicates", "dedupComponents",
    "join_survivors", "mineTriplets", "trainCentroids", "buildIvfIndex",
    "ivfSearch", "incrementalDedup", "append_batch", "compactIvfIndex")

  val Names: Seq[String] =
    ApiCalls.map(c => s"api.${c}_ms") ++ Seq(
      "api.unattributed_ms",
      "functions.assign_ns_per_row", "functions.cosine_ns_per_pair",
      "functions.minhash_ns_per_doc",
      "sources.index_open_ms", "sources.listing_jobs", "sources.bytes_read_mb",
      "sources.bytes_written_mb", "sources.files_per_cluster", "sources.readback_ms",
      "scheduler.jobs", "scheduler.tasks", "scheduler.one_task_stage_frac",
      "scheduler.driver_gap_ms", "scheduler.exec_busy_frac",
      "exchange.shuffle_write_mb", "exchange.shuffle_read_mb", "exchange.spill_mb",
      "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.trigger_ms",
      "ckpt.persisted_rdds_after", "ckpt.persisted_mb_after",
      "jvm.gc_ms", "host.steal_frac", "trace.overhead_ms")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_mb") || name.endsWith("_mb_after")) "MB"
    else if (name.endsWith("_ns_per_row") || name.endsWith("_ns_per_pair") ||
             name.endsWith("_ns_per_doc")) "ns"
    else if (name.endsWith("_frac") || name.endsWith("_per_cluster")) "ratio"
    else "count"

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Length of the union of `[a, b]` intervals clipped to `[lo, hi]`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** Per-layer numbers from the traced operations: medians over the
    * operations of what each operation's spans caused, and medians of
    * each `api.*` span's wall.
    */
  def summarize(rec: Recorder, cores: Int): Map[String, Double] = {
    val spans = rec.allSpans
    val cs = rec.counters()
    val children = spans.groupBy(_.parent)
    def subtree(id: Int): Seq[Span] =
      children.getOrElse(id, Nil).flatMap(s => s +: subtree(s.id))
    val ops = spans.filter(s => s.name == "op" && s.parent == 0)
    val perOp = ops.map { op =>
      val c = new Counters
      (op +: subtree(op.id)).foreach(s => cs.get(s.id).foreach(c.add))
      (op, c)
    }
    def perOpMedian(f: (Span, Counters) => Double) =
      median(perOp.map { case (s, c) => f(s, c) })
    val mb = 1048576.0
    val byName = spans.groupBy(_.name).map { case (n, ss) => n -> median(ss.map(_.wallNs / 1e6)) }
    val sumStages = perOp.map(_._2.stages).sum
    val sumWallMs = ops.map(_.wallNs / 1e6).sum
    val stream = rec.streamBatches.toArray(Array.empty[Map[String, Long]]).toSeq
    def streamMedian(k: String) = median(stream.flatMap(_.get(k)).map(_.toDouble))

    ApiCalls.flatMap(c => byName.get(s"api.$c").map(v => s"api.${c}_ms" -> v)).toMap ++
    byName.get("sources.readback").map("sources.readback_ms" -> _) ++
    byName.get("sources.index_open").map("sources.index_open_ms" -> _) ++
    Map(
      "sources.listing_jobs" -> median(spans.filter(_.name == "sources.index_open")
        .map(s => cs.get(s.id).map(_.jobs.toDouble).getOrElse(0.0))),
      "api.unattributed_ms" -> perOpMedian { (s, _) =>
        (s.wallNs - children.getOrElse(s.id, Nil).map(_.wallNs).sum) / 1e6 },
      "sources.bytes_read_mb" -> perOpMedian((_, c) => c.bytesRead / mb),
      "sources.bytes_written_mb" -> perOpMedian((_, c) => c.bytesWritten / mb),
      "scheduler.jobs" -> perOpMedian((_, c) => c.jobs.toDouble),
      "scheduler.tasks" -> perOpMedian((_, c) => c.tasks.toDouble),
      "scheduler.one_task_stage_frac" ->
        (if (sumStages == 0) 0.0 else perOp.map(_._2.oneTaskStages).sum.toDouble / sumStages),
      "scheduler.driver_gap_ms" -> perOpMedian { (s, c) =>
        s.wallNs / 1e6 - covered(c.jobIntervals.toSeq, s.startMs, s.endMs) },
      "scheduler.exec_busy_frac" ->
        (if (sumWallMs == 0) 0.0 else perOp.map(_._2.execRunMs).sum / (sumWallMs * cores)),
      "exchange.shuffle_write_mb" -> perOpMedian((_, c) => c.shuffleWrite / mb),
      "exchange.shuffle_read_mb" -> perOpMedian((_, c) => c.shuffleRead / mb),
      "exchange.spill_mb" -> perOpMedian((_, c) => c.spill / mb),
      "catalyst.analysis_ms" -> perOpMedian((_, c) => c.analysisMs.toDouble),
      "catalyst.optimization_ms" -> perOpMedian((_, c) => c.optimizationMs.toDouble),
      "catalyst.planning_ms" -> perOpMedian((_, c) => c.planningMs.toDouble),
      "streaming.add_batch_ms" -> streamMedian("addBatch"),
      "streaming.wal_commit_ms" -> streamMedian("walCommit"),
      "streaming.trigger_ms" -> streamMedian("triggerExecution"))
  }
}
