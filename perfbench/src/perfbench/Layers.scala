package perfbench

/** Names and units of the per-layer metrics, by the workload that measures
  * them. A traced run reports every name: the ones its workload owns as
  * measured, the others as 0 (that layer did no work in this workload).
  * run.py checks the full list against BENCHMARK.json. */
object Layers {

  /** Board query groups with per-layer metrics, named after the module that
    * does the work. `sinks` has none: its two queries are not in the timed
    * set (their cold runs write whole layouts), and the sinks layer is
    * measured by stream_ingest's `sinks.MergeByKey.ms.p50`. */
  val BoardGroups: Seq[String] = Seq(
    "jobs.features", "jobs.Incremental", "jobs.DataQualityJob",
    "jobs.MigrationValidationJob", "jobs.StreamAnalogJobs", "jobs.TrainingSetJob",
    "serving.Lookups",
    "ext.Dedup", "ext.Similarity", "ext.TextAnalysis", "ext.Corpus")

  val GroupMeasures: Seq[(String, String)] = Seq(
    "build_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms", "gap_ms" -> "ms",
    "shuffle_bytes" -> "bytes", "input_records" -> "count")

  val board: Seq[(String, String)] =
    BoardGroups.flatMap(g => GroupMeasures.map { case (m, u) => s"$g.$m" -> u }) ++ Seq(
      "core.Tables.load_ms" -> "ms",
      "core.FeatureCache.build_ms" -> "ms",
      "core.FeatureCache.storage_mb" -> "MB",
      "board.spill_bytes" -> "bytes",
      "board.tasks" -> "count")

  val serve: Seq[(String, String)] = Seq(
    "serving.FeatureApi.self_ms.p50" -> "ms",
    "serving.FeatureApi.self_ms.p99" -> "ms",
    "serving.FeatureStoreService.self_ms.p50" -> "ms",
    "serving.FeatureStoreService.self_ms.p99" -> "ms",
    "serving.getBatch_calls_per_request" -> "ratio",
    "serving.probe.count" -> "count",
    "serving.probe.ms.p50" -> "ms",
    "serving.row_tier.hit_ratio" -> "ratio",
    "loadgen.serve.lag_ms.p99" -> "ms")

  val stream: Seq[(String, String)] = Seq(
    "streaming.planning_ms.p50" -> "ms",
    "streaming.commit_ms.p50" -> "ms",
    "streaming.addBatch_ms.p50" -> "ms",
    "streaming.VelocityFeatures.state_rows" -> "count",
    "streaming.VelocityFeatures.state_bytes" -> "bytes",
    "streaming.VelocityFeatures.state_commit_ms.p50" -> "ms",
    "streaming.VelocityFeatures.events_dropped" -> "count",
    "streaming.EventPipeline.invalidationSet_ms.p50" -> "ms",
    "sinks.MergeByKey.ms.p50" -> "ms",
    "stream.backlog_events.max" -> "count",
    "loadgen.stream.lag_ms.p95" -> "ms")

  val common: Seq[(String, String)] = Seq("trace.overhead_ratio" -> "ratio")

  val all: Seq[(String, String)] = board ++ serve ++ stream ++ common

  def owned(workload: String): Set[String] = ((workload match {
    case "board"         => board
    case "serve_mix"     => serve
    case "stream_ingest" => stream
    case _               => Nil
  }) ++ common).map(_._1).toSet

  /** Every per-layer name with its value; a name the workload owns but did
    * not measure is an error. */
  def complete(workload: String, res: Result): Seq[(String, Double, String)] = {
    val mine = owned(workload)
    all.map { case (n, u) =>
      res.layers.get(n) match {
        case Some((v, _)) => (n, v, u)
        case None =>
          if (mine(n)) res.errors += s"layer metric $n not measured"
          (n, 0.0, u)
      }
    }
  }
}
