package platbench

/** The per-layer metrics of the traced run, with their units. Every
  * traced run reports all of them; a layer the workload does not
  * exercise reads 0.
  */
object PerLayer {
  val All: Seq[(String, String)] = Seq(
    // movies.Ingest / movies.Docs (full) / movies.PostingIndex (build)
    "ingest.normalize_s" -> "s", "ingest.jobs" -> "count",
    "ingest.shuffle_mb" -> "MB",
    "docs.full_s" -> "s", "docs.full_jobs" -> "count",
    "docs.full_shuffle_mb" -> "MB",
    "index.build_s" -> "s", "index.build_jobs" -> "count",
    // movies.PostingIndex (serve)
    "serve.jobs_per_query" -> "count", "serve.stages_per_query" -> "count",
    "serve.tasks_per_query" -> "count", "serve.input_mb_per_query" -> "MB",
    "serve.shuffle_mb_per_query" -> "MB", "serve.driver_gap_ms" -> "ms",
    "serve.p90_ms" -> "ms", "serve.requests" -> "count",
    "index.live_segments" -> "count",
    // movies.Docs (restricted re-denormalization inside drain)
    "docs.rebuild_s" -> "s", "docs.rebuild_jobs" -> "count",
    "docs.rebuilt_docs" -> "count", "docs.rebuilds_per_changed_doc" -> "ratio",
    // cdc.Keyset
    "keyset.scan_s" -> "s", "keyset.jobs" -> "count",
    "keyset.rows_consumed" -> "count", "keyset.input_mb" -> "MB",
    "cdc.source_mb" -> "MB",
    "cursor.save_ms" -> "ms", "cursor.saves" -> "count",
    // cdc.CdcPipeline
    "propagate.ids_out" -> "count", "cdc.ticks_per_round" -> "count",
    "cdc.jobs_per_round" -> "count", "cdc.driver_gap_s" -> "s",
    "cdc.changes_per_s" -> "rows/s", "cdc.stale_docs" -> "count",
    // sinks
    "sink.movies.upsert_s" -> "s", "sink.persons.upsert_s" -> "s",
    "sink.genres.upsert_s" -> "s", "sink.upsert_jobs" -> "count",
    "sink.written_mb" -> "MB", "sink.write_amp" -> "ratio",
    "sink.compact_s" -> "s",
    // ops.DedupOps / ops.GraphOps
    "dedup.minhash_s" -> "s", "dedup.lsh_verify_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.pair_precision" -> "ratio",
    "graph.cc_s" -> "s", "graph.cc_jobs" -> "count",
    "dedup.survivors" -> "count", "dedup.planted_clusters" -> "count",
    "dedup.pair_recall" -> "ratio",
    // Spark runtime and JVM over the timed phase
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_mb" -> "MB", "spark.task_cpu_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mb" -> "MB")

  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: $unknown")
    All.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Bulk-load layers: durations from the load, counters from its spans
    * (the load runs in set-up).
    */
  def load(tr: Trace, t: Load.Times): Seq[(String, Double)] = {
    val ing = tr.agg(_ == "ingest", setup = true)
    val full = tr.agg(_ == "docs.full", setup = true)
    val build = tr.agg(_ == "index.build", setup = true)
    Seq("ingest.normalize_s" -> t.ingestS, "ingest.jobs" -> ing.jobs.toDouble,
      "ingest.shuffle_mb" -> ing.shuffleMb, "docs.full_s" -> t.docsS,
      "docs.full_jobs" -> full.jobs.toDouble,
      "docs.full_shuffle_mb" -> full.shuffleMb, "index.build_s" -> t.indexS,
      "index.build_jobs" -> build.jobs.toDouble)
  }

  /** Per-request serve counters, averaged over the requests: `tags(i)`
    * tags request i, `wall(i)` its (start, end) in epoch ms.
    */
  def serve(tr: Trace, tags: Seq[String], wall: Seq[(Long, Long)],
      latMs: Seq[Double]): Seq[(String, Double)] = {
    val per = tags.map(t => tr.agg(_ == "serve", _ == t))
    def mean(f: Trace.Agg => Double) = per.map(f).sum / per.size
    Seq(
      "serve.jobs_per_query" -> mean(_.jobs.toDouble),
      "serve.stages_per_query" -> mean(_.stages.toDouble),
      "serve.tasks_per_query" -> mean(_.tasks.toDouble),
      "serve.input_mb_per_query" -> mean(_.inputMb),
      "serve.shuffle_mb_per_query" -> mean(_.shuffleMb),
      "serve.driver_gap_ms" -> per.indices.map { i =>
        (wall(i)._2 - wall(i)._1) - Trace.covered(per(i).jobIntervals)
      }.sum.toDouble / per.size,
      "serve.p90_ms" -> Stats.quantile(latMs, 0.9),
      "serve.requests" -> latMs.size.toDouble)
  }

  /** Spark counters of the timed phase (the tracer's own probes
    * excluded) and JVM figures.
    */
  def runtime(tr: Trace, gcS: Double, heapMb: Double): Seq[(String, Double)] = {
    val a = tr.agg(_ != Trace.TraceLayer)
    Seq("spark.jobs" -> a.jobs.toDouble, "spark.tasks" -> a.tasks.toDouble,
      "spark.shuffle_mb" -> a.shuffleMb, "spark.task_cpu_s" -> a.cpuS,
      "jvm.gc_s" -> gcS, "jvm.peak_heap_mb" -> heapMb)
  }
}
