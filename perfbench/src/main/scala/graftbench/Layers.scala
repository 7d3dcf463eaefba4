package graftbench

/** The per-layer metrics of a traced run, and the report that prints each
  * layer's self time and every ratio with its base.
  *
  * Every traced run prints every name in `PerLayer`; a layer the workload
  * does not exercise reads 0 (no work, and a ratio over an empty base).
  */
object Layers {
  /** name → unit, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s",
    "sources.bytes_read" -> "bytes",
    "sources.poll_lag_heights" -> "heights",
    "ingest.parse_s" -> "s",
    "ingest.rows_out" -> "rows",
    "ingest.tx_decode_ratio" -> "ratio",
    "routers.route_s" -> "s",
    "routers.event_keep_ratio" -> "ratio",
    "routers.numeric_keep_ratio" -> "ratio") ++
    Pump.Tables.map(t => s"sinks.merge_s.$t" -> "s") ++ Seq(
    "sinks.bucket_touch_ratio" -> "ratio",
    "sinks.rewrite_bytes_per_input_byte" -> "ratio",
    "sinks.live_files" -> "files",
    "live.batches" -> "count",
    "live.heights_per_batch" -> "heights",
    "live.trigger_overhead_s" -> "s",
    "catalog.plan_ms" -> "ms",
    "scan.files_read" -> "files",
    "scan.bytes_read" -> "bytes",
    "scan.rows_per_result_row" -> "ratio") ++
    RegistryMix.Families.map(f => s"registry.family_s.$f" -> "s") ++ Seq(
    "streaming.batches" -> "count",
    "streaming.state_rows" -> "rows",
    "streaming.state_commit_ms" -> "ms",
    "functions.layoutcache_builds" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s",
    "spark.parallel_eff" -> "ratio",
    "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "trace.overhead_s" -> "s")

  private val units = PerLayer.toMap

  def ratio(num: Double, den: Double): Double = if (den > 0) num / den else 0.0

  /** Engine counters of the jobs tagged `tag`, plus their parallel
    * efficiency over `local[4]`.
    */
  def engine(ctx: Ctx, tag: String): Map[String, Metric] = {
    EngineCounters.drain(ctx.spark.sparkContext)
    val t = ctx.engine.totals(tag)
    val wall = ctx.engine.wallSeconds(tag)
    (t - "spark.task_run_s").map { case (k, v) => k -> Metric(v, units(k)) } +
      ("spark.parallel_eff" -> Metric(ratio(t("spark.task_run_s"), wall * Cores), "ratio"))
  }

  val Cores = 4

  /** Layer metrics of the pump's traced batches. */
  def pump(ctx: Ctx, tag: String): Map[String, Metric] = {
    val tr = ctx.tracer
    val self = tr.selfSeconds
    def s(name: String) = self.getOrElse(name, 0.0)
    val batches = tr.counter("live.batches")
    Map(
      "sources.fetch_s" -> Metric(s("sources.fetch"), "s"),
      "sources.bytes_read" -> Metric(TracingDirClient.bytes.get.toDouble, "bytes"),
      "sources.poll_lag_heights" -> Metric(ratio(tr.counter("sources.poll_lag_heights"), batches), "heights"),
      "ingest.parse_s" -> Metric(s("ingest.parse"), "s"),
      "ingest.rows_out" -> Metric(tr.counter("ingest.rows_out"), "rows"),
      "ingest.tx_decode_ratio" -> Metric(
        ratio(tr.counter("ingest.txs_decoded"), tr.counter("ingest.txs_seen")), "ratio"),
      "routers.route_s" -> Metric(s("routers.route"), "s"),
      "routers.event_keep_ratio" -> Metric(
        ratio(tr.counter("routers.events_kept"), tr.counter("routers.events_in")), "ratio"),
      "routers.numeric_keep_ratio" -> Metric(
        ratio(tr.counter("routers.score_pairs_valid"), tr.counter("routers.score_pairs")), "ratio"),
      "sinks.bucket_touch_ratio" -> Metric(
        ratio(tr.counter("sinks.buckets_rewritten"), tr.counter("sinks.buckets")), "ratio"),
      "sinks.rewrite_bytes_per_input_byte" -> Metric(
        ratio(tr.counter("sinks.rewrite_bytes"), tr.counter("sinks.input_bytes")), "ratio"),
      "live.batches" -> Metric(batches, "count"),
      "live.heights_per_batch" -> Metric(ratio(tr.counter("live.heights"), batches), "heights"),
      "live.trigger_overhead_s" -> Metric(
        ratio(tr.counter("live.trigger_overhead_s"), tr.counter("live.starts")), "s")) ++
      Pump.Tables.map(t => s"sinks.merge_s.$t" -> Metric(s(s"sinks.merge.$t"), "s")) ++
      engine(ctx, tag)
  }

  /** Every per-layer metric: `measured`, and 0 for the layers the
    * workload leaves idle.
    */
  def complete(measured: Map[String, Metric]): Map[String, Metric] =
    PerLayer.map { case (k, u) => k -> measured.getOrElse(k, Metric(0.0, u)) }.toMap

  /** Bases of the ratios, for the report. */
  val Bases: Map[String, String] = Map(
    "ingest.tx_decode_ratio" -> "txs decoded / txs seen by Ingest.decodeTxs",
    "routers.event_keep_ratio" -> "events kept by Routers.routeEvents / events out of Ingest.events",
    "routers.numeric_keep_ratio" -> "score rows out of Routers.scores / (address, score) pairs in EventScoresSet events",
    "sinks.bucket_touch_ratio" -> "bucket dirs changed by a merge / bucket dirs in the manifest after it (ManifestCommit.latest diff)",
    "sinks.rewrite_bytes_per_input_byte" -> "bytes of bucket dirs a merge rewrote / envelope bytes of the batch",
    "scan.rows_per_result_row" -> "rows out of the scan nodes / rows returned",
    "spark.parallel_eff" -> "sum of task run time / (wall time x 4 cores)",
    "live.heights_per_batch" -> "heights / micro-batches",
    "sources.poll_lag_heights" -> "landed tip minus batch end height, averaged over batches",
    "live.trigger_overhead_s" -> "per LiveIndexer run: start() to first batch plus last batch to end",
    "streaming.state_rows" -> "state-store rows updated per pass, summed over micro-batches")

  /** The per-layer report: self times, then ratios with their bases. */
  def report(workload: String, m: Map[String, Metric], overheadNote: String): Seq[String] =
    Seq(s"== per-layer report: $workload ==") ++
      PerLayer.collect { case (k, _) if m.contains(k) =>
        val base = Bases.get(k).map(b => s"   [$b]").getOrElse("")
        f"$k%-40s ${m(k).value}%14.6f ${m(k).unit}$base"
      } :+ overheadNote
}
