package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.core.Tables

/** `board`: SparkEntry.queries over the sf0.1 tables, one client,
  * sequential, in a seed-shuffled order.
  *
  * Set-up loads every table, then runs each query once, untimed and cold,
  * through the output witness (row count + checksum over all columns,
  * compared with expected/). That pass is also the warm-up: it builds
  * whatever FeatureCache artifacts the queries read, so no list of them is
  * kept here. The timed part then runs passes over the same queries, each
  * in its own seeded order, timing every query on a full-output action
  * (the noop sink), never count(): count() lets Catalyst prune the columns
  * and with them most of the work.
  */
object Board {

  /** Layer group of every board query: the module that does its work. A
    * query missing here fails the run, so the map cannot silently go stale. */
  val Groups: Seq[(String, Seq[String])] = Seq(
    "jobs.features" -> Seq("transaction_features", "user_features", "risk_features",
      "feature_view", "transaction_features_compat"),
    "jobs.Incremental" -> Seq("transaction_features_incremental",
      "user_features_incremental", "risk_features_incremental", "feature_view_incremental"),
    "jobs.DataQualityJob" -> Seq("dq_completeness", "dq_feature_completeness",
      "dq_freshness", "dq_profile", "dq_outliers", "dq_row_validation", "dq_alerts",
      "equi_depth_histogram", "dq_robust_outliers", "dq_drift"),
    "jobs.MigrationValidationJob" -> Seq("migration_checks", "count_reconciliation",
      "sample_compare", "snapshot_diff"),
    "jobs.StreamAnalogJobs" -> Seq("event_parse_stats", "velocity_windows", "merge_upsert",
      "approx_distinct", "asof_risk", "tumbling_counts", "event_sessions", "word_counts",
      "interval_agg", "incremental_user_stats", "event_pivot", "moving_daily_totals",
      "daily_anomalies", "event_funnel", "ab_metric", "heavy_hitters", "rolling_distinct",
      "cohort_retention", "click_attribution"),
    // SkewMonitorJob compares training features with served ones: it rides
    // with the training-set job
    "jobs.TrainingSetJob" -> Seq("pit_training_set", "pit_training_matrix_wide",
      "training_serving_skew"),
    "serving.Lookups" -> Seq("point_lookup", "batch_lookup", "ordered_export", "percentiles",
      "percentiles_approx", "keyset_page", "feature_bundles", "random_sample"),
    "sinks" -> Seq("point_lookup_clustered", "warehouse_pointered_day"),
    "ext.Dedup" -> Seq("dedup_exact", "dedup_jaccard", "dedup_minhash_pairs", "dedup_simhash",
      "dedup_simhash_pairs", "dedup_clusters", "dedup_cluster_keepers", "span_dedup",
      "substring_dedup", "substring_clean", "dedup_incremental"),
    "ext.Similarity" -> Seq("similarity_topk", "ann_buckets", "dedup_embedding",
      "embedding_outliers", "semantic_clusters", "semantic_leakage"),
    "ext.TextAnalysis" -> Seq("text_stats", "lang_id", "doc_fingerprints", "token_counts",
      "repetition_stats", "pii_scan", "tfidf_terms", "length_histogram",
      "top_terms_per_source", "quality_filter", "oov_rate", "lm_familiarity",
      "quality_tiers", "curation_gate", "quality_model"),
    // Corpus with Vocab and Multimodal
    "ext.Corpus" -> Seq("media_stats", "frame_sample", "stratified_sample", "corpus_funnel",
      "contamination", "pack_sequences", "mixture_sample", "cube_accounting",
      "rollup_accounting", "weighted_sample", "vocab_growth", "quantile_normalize",
      "train_split", "split_leakage", "shard_manifest", "mixture_weights", "dsir_weights",
      "dsir_resample", "chunk_windows", "source_quota", "bpe_merge_pairs", "group_sample"))

  val groupOf: Map[String, String] =
    Groups.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap

  /** features_s covers the nightly feature job's groups, corpus_s the
    * corpus job's. */
  def isFeatures(g: String): Boolean =
    g.startsWith("jobs.") || g == "serving.Lookups" || g == "sinks"
  def isCorpus(g: String): Boolean = g.startsWith("ext.")

  /** At least this many passes, however short the run. */
  val MinPasses = 3
  /** tail_ms is the mean of the executions beyond p75, the slowest quarter
    * (15 queries x 3 passes leaves 11 beyond it). p75 itself is one
    * query's execution, and which query it is flips from run to run: it
    * spread by 0.14-0.23 over four ten-seed sets. */
  val TailQ = 0.75

  private final case class Exec(q: String, pass: Int, key: Long, traced: Boolean,
                                ms: Double, buildMs: Double, writeMs: Double, planMs: Double)

  def readExpected(a: Args): Map[String, Witness.Value] =
    if (!Files.exists(a.expected)) Map.empty
    else {
      val j = JsonMethods.parse(new String(Files.readAllBytes(a.expected), "UTF-8"))
      (j \ "queries") match {
        case JObject(fields) => fields.map { case (q, v) =>
          val JInt(rows) = v \ "rows": @unchecked
          val JString(sum) = v \ "checksum": @unchecked
          q -> Witness.Value(rows.toLong, sum)
        }.toMap
        case _ => Map.empty
      }
    }

  def run(a: Args, res: Result, trace: Trace): String = {
    val spark = Session.start(a)
    val logs = if (a.trace) Some(SparkLog.attach(spark, trace)) else None
    val queries = SparkEntry.queries
    queries.keys.toSeq.sorted.filterNot(groupOf.contains)
      .foreach(q => res.fail(s"$q: board query without a layer group"))
    val names = if (a.allQueries) queries.keys.toSeq.sorted else a.boardQueries
    names.filterNot(queries.contains).foreach(q => res.fail(s"$q: not a board query"))
    val expected = readExpected(a)

    // -- set-up: tables, then the witness pass (cold, untimed) ------------
    val (_, loadMs) = Session.timedMs {
      Tables.all.foreach(t => Tables.load(spark, a.data, t))
    }
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val witness = mutable.LinkedHashMap.empty[String, Witness.Value]
    val built = mutable.LinkedHashMap.empty[String, Seq[String]]
    val unchecked = mutable.ArrayBuffer.empty[String]
    for (q <- Gen.shuffle(names.filter(queries.contains), Gen.rng(a.seed, "board-witness"))) {
      res.attempted += 1
      val before = Session.persistentRdds(spark)
      Session.guard(res, q) {
        val (w, ms) = Session.timedMs(Witness.of(queries(q)(spark, a.data)))
        cold(q) = ms
        witness(q) = w
        expected.get(q) match {
          case Some(e) if e == w => ()
          case Some(e) => res.fail(s"$q: witness $w, expected $e")
          case None if a.writeWitness || a.allQueries => unchecked += q
          case None => res.fail(s"$q: no expected witness")
        }
      }
      built(q) = (Session.persistentRdds(spark) -- before.keys).values.toSeq.sorted
    }
    if (a.writeWitness) writeExpected(a, witness)
    val storageMb = Session.storageMb(spark)
    Session.recordSetup(a, res)

    // -- timed passes -----------------------------------------------------
    val timed = witness.keys.toSeq.sorted
    val execs = mutable.ArrayBuffer.empty[Exec]
    val t0 = System.nanoTime()
    var pass = 0
    var key = 0L
    while (timed.nonEmpty && (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds)) {
      // a traced run leaves every other pass untraced: the ratio of the two
      // is the tracing overhead
      if (a.trace) trace.on = pass % 2 == 0
      for (q <- Gen.shuffle(timed, Gen.rng(a.seed, s"board-pass-$pass"))) {
        res.attempted += 1
        key += 1
        val g = groupOf.getOrElse(q, "ungrouped")
        SparkLog.tag(spark, trace, key)
        Session.guard(res, q) {
          val ts = System.nanoTime()
          val df = trace.span(s"$g.build", q)(queries(q)(spark, a.data))
          val tb = System.nanoTime()
          trace.span(s"$g.write", q)(df.write.format("noop").mode("overwrite").save())
          val tw = System.nanoTime()
          val planMs = logs.filter(_ => trace.on)
            .map(_._2.drain()).getOrElse(0.0)
          execs += Exec(q, pass, key, trace.on, (tw - ts) / 1e6, (tb - ts) / 1e6,
            (tw - tb) / 1e6, planMs)
        }
        SparkLog.clear(spark)
      }
      pass += 1
    }
    trace.on = a.trace

    // -- end-to-end metrics -------------------------------------------------
    val medMs: Map[String, Double] =
      execs.groupBy(_.q).map { case (q, es) => q -> Stats.median(es.map(_.ms).toSeq) }
    val times = execs.map(_.ms).toSeq
    val boardS = medMs.values.sum / 1e3
    if (times.nonEmpty) {
      res.metric("p50_ms", Stats.median(times), "ms")
      val cut = res.tail(times, TailQ, "board executions")
      val slowest = times.filter(_ > cut)
      res.metric("tail_ms", if (slowest.isEmpty) cut else slowest.sum / slowest.size, "ms")
      res.metric("ops_per_s", medMs.size / boardS, "1/s")
    }
    res.metric("resident_mb", storageMb, "MB")
    def sumGroups(p: String => Boolean) =
      medMs.collect { case (q, ms) if p(groupOf.getOrElse(q, "")) => ms }.sum / 1e3
    res.rep("setup_s", res.metrics.get("setup_s").map(_._1).getOrElse(0.0), "s")
    res.rep("board_s", boardS, "s")
    res.rep("features_s", sumGroups(isFeatures), "s")
    res.rep("corpus_s", sumGroups(isCorpus), "s")
    res.rep("cache_mb", storageMb, "MB")
    res.notes("queries") = timed.size
    res.notes("passes") = pass
    res.notes("executions") = execs.size
    res.notes("tail_quantile") = TailQ
    if (unchecked.nonEmpty) res.notes("unchecked_witness") = unchecked.toSeq

    // -- per-layer metrics (traced run) --------------------------------------
    logs.foreach { case (slog, _) =>
      slog.quiesce()
      val profile = execs.filter(_.traced).map { e =>
        val st = slog.stagesOf(_.span == e.key)
        val execMs = Stats.unionLength(st.map(s => (s.submitted, s.completed))).toDouble
        e -> Map(
          "build_ms" -> e.buildMs, "plan_ms" -> e.planMs, "exec_ms" -> execMs,
          "gap_ms" -> math.max(0.0, e.writeMs - e.planMs - execMs),
          "shuffle_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
          "input_records" -> st.map(_.inputRecords).sum.toDouble,
          "spill_bytes" -> st.map(_.spill).sum.toDouble,
          "tasks" -> st.map(_.tasks).sum.toDouble)
      }
      // per query: the median of its traced executions, measure by measure
      val perQuery: Map[String, Map[String, Double]] =
        profile.groupBy(_._1.q).map { case (q, ps) =>
          q -> ps.head._2.keys.map(m => m -> Stats.median(ps.map(_._2(m)).toSeq)).toMap
        }
      def total(m: String, p: String => Boolean) =
        perQuery.collect { case (q, ms) if p(q) => ms(m) }.sum
      for (g <- Layers.BoardGroups; (m, u) <- Layers.GroupMeasures)
        res.layer(s"$g.$m", total(m, q => groupOf.get(q).contains(g)), u)
      res.layer("board.spill_bytes", total("spill_bytes", _ => true), "bytes")
      res.layer("board.tasks", total("tasks", _ => true), "count")

      val counts = timed.map { q =>
        q -> scala.util.Try(Session.timedMs(queries(q)(spark, a.data).count())._2).getOrElse(-1.0)
      }.toMap
      val rows = timed.map { q =>
        val prof = perQuery.getOrElse(q, Map.empty)
        Json.Obj(Seq("query" -> q, "group" -> groupOf.getOrElse(q, ""),
          "rows" -> witness.get(q).map(_.rows), "checksum" -> witness.get(q).map(_.checksum),
          "cold_ms" -> cold.get(q), "full_ms" -> medMs.get(q), "count_ms" -> counts.get(q),
          "full_over_count" -> medMs.get(q).flatMap(f => counts.get(q).filter(_ > 0).map(f / _)),
          "built_artifacts" -> built.getOrElse(q, Nil)) ++ prof.toSeq.sortBy(_._1))
      }
      Json.writeFile(a.traceDir.resolve("queries.json"), Json.render(rows))
    }
    res.layer("core.Tables.load_ms", loadMs, "ms")
    res.layer("core.FeatureCache.build_ms", built.collect {
      case (q, arts) if arts.nonEmpty && cold.contains(q) =>
        math.max(0.0, cold(q) - medMs.getOrElse(q, cold(q)))
    }.sum, "ms")
    res.layer("core.FeatureCache.storage_mb", storageMb, "MB")
    if (a.trace) {
      val perPass = execs.groupBy(e => (e.pass, e.traced)).map { case ((_, t), es) => t -> es.map(_.ms).sum }
      val on = perPass.collect { case (true, ms) => ms }
      val off = perPass.collect { case (false, ms) => ms }
      res.layer("trace.overhead_ratio",
        if (on.isEmpty || off.isEmpty) 0.0 else (on.sum / on.size) / (off.sum / off.size), "ratio")
    }
    val v = spark.version
    spark.stop()
    v
  }

  private def writeExpected(a: Args, w: collection.Map[String, Witness.Value]): Unit = {
    val body = Json.obj(
      "data" -> a.data.split('/').last,
      "queries" -> Json.Obj(w.toSeq.sortBy(_._1).map { case (q, v) =>
        q -> Json.obj("rows" -> v.rows, "checksum" -> v.checksum) }))
    Json.writeFile(a.expected, Json.render(body) + "\n")
  }
}
