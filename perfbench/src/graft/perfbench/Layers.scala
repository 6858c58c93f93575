package graft.perfbench

import java.nio.file.{Files, Paths}

/** The per-layer report of a traced run: every per_layer metric of
  * BENCHMARK.json (0 where the workload does not reach that layer), the
  * span dump, self time per layer and the tracing overhead.
  */
object Layers {
  val SparkCalls = Seq("scrape", "orchestrate", "work", "publish", "report",
    "search", "rerank", "curate")
  val SparkFields = Seq("jobs" -> "count", "tasks" -> "count", "shuffle_mb" -> "MB",
    "spill_mb" -> "MB", "task_busy_s" -> "s", "gc_s" -> "s")
  val CurateStages = Seq("url", "language", "quality", "pii", "exact_dedup",
    "near_dedup", "para_dedup", "decontam", "pack")
  val SelfLayers = Seq("sources", "streaming", "operators", "sinks")

  /** name -> unit, in BENCHMARK.json order. */
  val Metrics: Seq[(String, String)] = Seq(
    "sources.extract_calls" -> "count", "sources.pages_out" -> "count",
    "sources.pages_parsed" -> "count", "sources.parse_ratio" -> "ratio",
    "sources.extract_busy_s" -> "s", "sources.meta_busy_s" -> "s",
    "sources.fetch_calls" -> "count", "sources.fetch_mb" -> "MB",
    "sources.warc_read_s" -> "s",
    "streaming.scrape_s" -> "s", "streaming.orchestrate_s" -> "s",
    "streaming.work_s" -> "s", "streaming.microbatches" -> "count",
    "streaming.messages" -> "count", "streaming.quarantined" -> "count",
    "cleaner.clean_s" -> "s", "cleaner.rows_in" -> "count",
    "cleaner.records_out" -> "count", "cleaner.allocations_out" -> "count",
    "cdc.classify_s" -> "s", "cdc.proceed_frac" -> "ratio",
    "sinks.mb_written" -> "MB", "sinks.files_written" -> "count",
    "sinks.buckets_rewritten" -> "count", "sinks.write_amp" -> "ratio",
    "sinks.publish_s" -> "s",
    "ivfpq.build_s" -> "s", "ivfpq.search_s" -> "s", "ivfpq.rerank_s" -> "s",
    "ivfpq.candidates_per_query" -> "count") ++
    CurateStages.flatMap(s => Seq(s"curate.${s}_s" -> "s", s"curate.${s}_kept" -> "count")) ++
    Seq("dedup.lsh_candidates" -> "count", "dedup.lsh_precision" -> "ratio") ++
    SparkCalls.flatMap(c => SparkFields.map { case (f, u) => s"spark.$c.$f" -> u }) ++
    SelfLayers.map(l => s"self.${l}_s" -> "s") ++
    Seq("trace.overhead_pct" -> "%", "op_ms_tail" -> "ms", "op_tail_pct" -> "%",
      "op_samples" -> "count", "recall_at_10" -> "ratio", "failed_frac" -> "ratio",
      "host.steal_pct" -> "%")

  def report(workload: String, out: Outcome, spark: Map[String, Map[String, Double]],
             e2e: Map[String, Double], resultsDir: Option[String]): Map[String, (Double, String)] = {
    val c = Counters.all
    val spans = Trace.all
    val self = Trace.selfNs(spans)
    val selfByLayer = spans.filterNot(_.name.endsWith(".replay"))
      .groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    val overhead = resultsDir.map(d => Paths.get(d, s"$workload-untraced.txt"))
      .filter(Files.exists(_))
      .map(p => new String(Files.readAllBytes(p), "UTF-8").trim.toDouble)
      .filter(_ > 0)
      .map(untraced => (untraced / e2e("items_per_s") - 1) * 100)
    val derived = Map(
      "sources.parse_ratio" ->
        (if (c.getOrElse("sources.pages_out", 0.0) > 0)
          c("sources.pages_parsed") / c("sources.pages_out") else 0.0),
      "sources.fetch_mb" -> c.getOrElse("sources.fetch_bytes", 0.0) / 1e6,
      "trace.overhead_pct" -> overhead.getOrElse(0.0),
      "failed_frac" -> out.failed.toDouble / math.max(out.attempted, 1)) ++
      SelfLayers.map(l => s"self.${l}_s" -> selfByLayer.getOrElse(l, 0.0)) ++
      SparkCalls.flatMap(call => SparkFields.map { case (f, _) =>
        s"spark.$call.$f" -> spark.get(call).flatMap(_.get(f)).getOrElse(0.0)
      })
    val values = c ++ derived ++ out.layers

    resultsDir.foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d, s"$workload-spans.json"), Trace.toJson(spans).getBytes("UTF-8"))
      println(s"[trace] ${spans.size} spans written to ${Paths.get(d, s"$workload-spans.json")}")
    }
    selfByLayer.toSeq.sortBy(-_._2).foreach { case (l, s) => println(f"[self] $l%-10s $s%9.3f s") }
    println(overhead.fold("[trace] overhead: no untraced run of this workload to compare with")(
      o => f"[trace] overhead vs last untraced run: $o%.1f%% of items_per_s"))
    Metrics.foreach { case (n, u) => println(s"[layer] $n = ${values.getOrElse(n, 0.0)} $u") }
    Metrics.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }.toMap
  }
}
