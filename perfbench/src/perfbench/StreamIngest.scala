package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.streaming.{EventPipeline, VelocityFeatures}
import graft.streaming.VelocityFeatures.{TxnEvent, VelocityRow}

/** `stream_ingest`: events in the reference's JSON envelope, consumed by two
  * queries, each with its own offsets (a MemoryStream trims what its one
  * query commits, so every chunk is added to one MemoryStream per query):
  *
  *   1. EventPipeline.parse → route; its foreachBatch collects the
  *      invalidationSet and merges the purchases into a risk table with
  *      applyPointUpdates (MergeByKey), keeping that table materialized;
  *   2. VelocityFeatures.stream over the purchase events.
  *
  * Each event is a seeded draw, with replacement, of one row of the
  * committed events table (user id, event type, value and props together),
  * so the type shares, the value distribution and the per-user skew are the
  * data's; event ids and times are new and increasing (`Ev`).
  *
  * Phase A is a closed loop of fixed-size chunks (throughput). Phase B is a
  * generator thread adding chunks on a fixed schedule at the params.json
  * rate; a chunk's latency runs from its creation to the sink completion of
  * the first micro-batch of each query that includes it (the later of the
  * two).
  */
object StreamIngest {

  /** Events per phase-A chunk. */
  val ChunkEvents = 5000
  /** Chunks through both queries before phase A. */
  val WarmChunks = 5
  /** Share of the run in phase A; the rest is phase B. */
  val ClosedShare = 0.4
  /** Phase B adds one chunk per interval. */
  val IntervalMs = 25.0
  /** tail_ms is p95: phase B's 240 chunks leave 12 beyond it. */
  val TailQ = 0.95
  /** Event time: 2024-01-01T00:00Z plus 10 ms per event id. */
  val BaseMs = 1704067200000L
  val StepMs = 10L

  final case class Ev(id: Long, user: Long, kind: String, value: Double, props: String) {
    def tsMs: Long = BaseMs + id * StepMs
    def json: String =
      s"""{"event_id":$id,"ts":"${java.time.Instant.ofEpochMilli(tsMs)}","user_id":$user,""" +
        s""""event_type":"$kind","value":$value,"props":${Json.quote(props)}}"""
    /** The purchase as the velocity query sees it (see `txns`). */
    def txn: TxnEvent =
      TxnEvent(user, new Timestamp(tsMs), value, (id % 37).toInt, id % 10 != 0)
  }

  /** The rows events are drawn from, column by column. */
  final case class Pool(users: Array[Long], kinds: Array[String], values: Array[Double],
                        props: Array[String])

  def pool(spark: SparkSession, dir: String): Pool = {
    val rows = Tables.events(spark, dir).orderBy("event_id")
      .select("user_id", "event_type", "value", "props").collect()
    Pool(rows.map(_.getLong(0)), rows.map(_.getString(1)), rows.map(_.getDouble(2)),
      rows.map(r => Option(r.getString(3)).getOrElse("{}")))
  }

  /** Events of chunk `c`, ids from `start`; a seeded stream per chunk. */
  def chunk(seed: Long, pool: Pool, c: Int, start: Long, size: Int): Array[Ev] = {
    val r = Gen.rng(seed, s"stream-chunk-$c")
    Array.tabulate(size) { k =>
      val j = r.nextInt(pool.users.length)
      Ev(start + k, pool.users(j), pool.kinds(j), pool.values(j), pool.props(j))
    }
  }

  /** The velocity query's input: valid purchases, with a merchant and a
    * success flag derived from the event id. */
  def txns(routed: DataFrame): Dataset[TxnEvent] = {
    import routed.sparkSession.implicits._
    routed
      .filter(col("valid") && col("route") === "transaction_features")
      .select(col("user_id"), col("ts"), col("value").as("amount"),
        pmod(col("event_id"), lit(37)).cast("int").as("merchant_id"),
        (pmod(col("event_id"), lit(10)) =!= 0).as("success"))
      .as[TxnEvent]
  }

  /** Streaming progress of both queries, from the listener. */
  final case class Progress(query: java.util.UUID, batch: Long, endOffset: Long, inputRows: Long,
                            durations: Map[String, Long], stateRows: Long, stateBytes: Long,
                            stateCommitMs: Long)

  final class ProgressLog extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[Progress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
      val ops = p.stateOperators.toSeq
      all.add(Progress(p.id, p.batchId, end, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
    }
    def of(q: java.util.UUID): Seq[Progress] = all.asScala.toSeq.filter(_.query == q)
  }

  def run(a: Args, res: Result, trace: Trace): String = {
    val spark = Session.start(a)
    import spark.implicits._
    val sc = spark.sparkContext
    val plog = new ProgressLog
    spark.streams.addListener(plog)
    val population = Tables.customer(spark, a.data).select("c_custkey").collect()
      .map(_.getAs[Number](0).longValue).sorted
    val source = pool(spark, a.data)
    val work = java.nio.file.Paths.get("").toAbsolutePath

    // the risk table the pipeline sink keeps materialized
    val riskSchema = StructType(Seq(StructField("user_id", LongType),
      StructField("risk_score", DoubleType), StructField("computed_at", TimestampType)))
    val initial = spark.createDataFrame(
      sc.parallelize(population.toSeq.map(id => Row(id, 0.0, null))), riskSchema)
    def materialize(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    var (current, currentRdds) = materialize(initial)

    // nproc partitions per micro-batch, however many chunks it spans (as a
    // topic with nproc partitions would give); by default a MemoryStream
    // makes one partition per added chunk
    val inputs = Seq.fill(2)(MemoryStream[String](spark, a.cpus))
    def routed(i: Int) = EventPipeline.route(EventPipeline.parse(inputs(i).toDF()))
    val doneQ1 = TrieMap.empty[Long, Long]
    val doneQ2 = TrieMap.empty[Long, Long]
    val lastRow = TrieMap.empty[Long, VelocityRow]
    var invalidations = 0L

    def startPipeline() = routed(0).writeStream
      .option("checkpointLocation", work.resolve("ckpt-pipeline").toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        trace.span("streaming.EventPipeline.batch") {
          batch.persist()
          val inv = trace.span("streaming.EventPipeline.invalidationSet") {
            EventPipeline.invalidationSet(batch).collect()
          }
          invalidations += inv.length
          val (next, rdds) = trace.span("sinks.MergeByKey") {
            materialize(EventPipeline.applyPointUpdates(current, batch))
          }
          currentRdds.foreach(i => sc.getPersistentRDDs.get(i).foreach(_.unpersist(false)))
          current = next
          currentRdds = rdds
          batch.unpersist(false)
        }
        doneQ1(id) = System.nanoTime()
        ()
      }
      .start()
    def startVelocity() = VelocityFeatures.stream(txns(routed(1))).writeStream
      .option("checkpointLocation", work.resolve("ckpt-velocity").toString)
      .foreachBatch { (rows: Dataset[VelocityRow], id: Long) =>
        trace.span("streaming.VelocityFeatures.batch") {
          rows.collect().foreach { r =>
            lastRow.get(r.user_id) match {
              case Some(o) if !o.as_of.before(r.as_of) => ()
              case _ => lastRow(r.user_id) = r
            }
          }
        }
        doneQ2(id) = System.nanoTime()
        ()
      }
      .start()
    val q1 = startPipeline()
    val q2 = startVelocity()

    val events = mutable.ArrayBuffer.empty[Ev]
    var nextId = 0L
    var chunks = 0
    /** Make the next chunk and add it; returns (source offset, events). */
    def add(size: Int): (Long, Int) = {
      val evs = chunk(a.seed, source, chunks, nextId, size)
      chunks += 1
      nextId += size
      events ++= evs
      val lines = evs.toSeq.map(_.json)
      val offs = inputs.map(_.addData(lines).asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.LongOffset].offset)
      require(offs.distinct.size == 1, s"sources out of step: $offs")
      (offs.head, size)
    }
    def drain(): Unit = { q1.processAllAvailable(); q2.processAllAvailable() }

    try {
      // -- set-up: untimed chunks through both queries -----------------------
      // after two warm chunks the micro-batches still got faster through
      // phase A (the first timed chunk 15-35 % slower than the third)
      trace.on = false
      val chunkA = ChunkEvents
      for (_ <- 1 to WarmChunks) { add(chunkA); drain() }
      Session.recordSetup(a, res)
      trace.on = a.trace

      // -- phase A: closed loop of fixed-size chunks ---------------------------
      val durA = a.seconds * ClosedShare
      val timeBy = Array(0L, 0L)   // by trace state: off, on
      val eventsBy = Array(0L, 0L)
      val chunkS = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var k = 0
      while ((System.nanoTime() - t0) / 1e9 < durA) {
        if (a.trace) trace.on = k % 2 == 0
        val on = if (trace.on) 1 else 0
        val s = System.nanoTime()
        add(chunkA)
        drain()
        val ns = System.nanoTime() - s
        timeBy(on) += ns
        chunkS += ns / 1e9
        eventsBy(on) += chunkA
        k += 1
      }
      trace.on = a.trace
      val eps = Stats.median(chunkS.toSeq.map(chunkA / _))

      // -- phase B: chunks on a fixed schedule --------------------------------
      val chunkB = math.max(1, math.round(a.streamRate * IntervalMs / 1e3).toInt)
      val nB = math.max(1, ((a.seconds - durA) * 1e3 / IntervalMs).toInt)
      val created = new Array[Long](nB)
      val offsets = new Array[Long](nB)
      val lagNs = new Array[Long](nB)
      var backlogMax = 0L
      val processedBefore = Seq(q1.id, q2.id).map(q => plog.of(q).map(_.inputRows).sum)
      val addedBefore = nextId
      val startB = System.nanoTime() + 2000000L
      val gen = new Thread(() => {
        for (i <- 0 until nB) {
          val due = startB + (i * IntervalMs * 1e6).toLong
          Gen.waitUntil(due)
          val (off, _) = add(chunkB)
          val now = System.nanoTime()
          created(i) = now
          offsets(i) = off
          lagNs(i) = now - due
          val processed = Seq(q1.id, q2.id).zip(processedBefore)
            .map { case (q, b) => plog.of(q).map(_.inputRows).sum - b }.min
          backlogMax = math.max(backlogMax, nextId - addedBefore - processed)
        }
      }, "stream-generator")
      gen.start()
      gen.join()
      drain()
      Thread.sleep(200) // let the last progress events arrive

      // -- latencies: creation → the later sink completion ----------------------
      def completion(q: java.util.UUID, done: TrieMap[Long, Long])(off: Long): Option[Long] =
        plog.of(q).filter(_.endOffset >= off).sortBy(_.batch).headOption.flatMap(p => done.get(p.batch))
      val latMs = (0 until nB).flatMap { i =>
        for (c1 <- completion(q1.id, doneQ1)(offsets(i)); c2 <- completion(q2.id, doneQ2)(offsets(i)))
          yield (math.max(c1, c2) - created(i)) / 1e6
      }
      if (latMs.size < nB) res.errors += s"${nB - latMs.size} of $nB chunks have no sink completion"
      val stateMb = plog.of(q2.id).sortBy(_.batch).lastOption.map(_.stateBytes).getOrElse(0L) / 1048576.0
      res.metric("p50_ms", if (latMs.isEmpty) 0.0 else Stats.median(latMs), "ms")
      res.metric("tail_ms", res.tail(latMs, TailQ, "phase-B chunk latency"), "ms")
      res.metric("ops_per_s", eps, "1/s")
      res.metric("resident_mb", Session.storageMb(spark) + stateMb, "MB")
      res.rep("setup_s", res.metrics("setup_s")._1, "s")
      res.rep("stream_eps", eps, "1/s")
      res.rep("event_p50_ms", res.metrics("p50_ms")._1, "ms")
      res.rep("event_p95_ms", res.metrics("tail_ms")._1, "ms")
      res.notes("events") = nextId
      res.notes("phase_a_chunks") = k
      res.notes("phase_a_chunk_s") = chunkS.toSeq
      res.notes("phase_b_chunks") = nB
      res.notes("phase_b_chunk_events") = chunkB
      res.notes("invalidation_rows") = invalidations
      res.notes("tail_quantile") = TailQ
      res.notes("event_type_shares") = Json.Obj(events.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (t, es) => t -> es.size.toDouble / events.size })
      res.notes("event_users") = events.map(_.user).distinct.size

      // -- correctness ----------------------------------------------------------
      q1.stop(); q2.stop()
      res.attempted += nextId
      check(spark, a, res, initial, current, events.toSeq, lastRow)

      // -- per-layer metrics (traced run) -------------------------------------
      if (a.trace) {
        val both = plog.of(q1.id) ++ plog.of(q2.id)
        val withData = both.filter(_.inputRows > 0)
        def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
        def dur(p: Progress, ks: String*) = ks.map(k => p.durations.getOrElse(k, 0L)).sum.toDouble
        res.layer("streaming.planning_ms.p50", p50(withData.map(dur(_, "queryPlanning"))), "ms")
        res.layer("streaming.commit_ms.p50", p50(withData.map(dur(_, "walCommit", "commitOffsets"))), "ms")
        res.layer("streaming.addBatch_ms.p50", p50(withData.map(dur(_, "addBatch"))), "ms")
        val vel = plog.of(q2.id).sortBy(_.batch)
        res.layer("streaming.VelocityFeatures.state_rows", vel.lastOption.map(_.stateRows).getOrElse(0L).toDouble, "count")
        res.layer("streaming.VelocityFeatures.state_bytes", vel.lastOption.map(_.stateBytes).getOrElse(0L).toDouble, "bytes")
        res.layer("streaming.VelocityFeatures.state_commit_ms.p50",
          p50(vel.filter(_.inputRows > 0).map(_.stateCommitMs.toDouble)), "ms")
        res.layer("streaming.VelocityFeatures.events_dropped",
          lastRow.values.map(_.events_dropped).maxOption.getOrElse(0L).toDouble, "count")
        val spans = trace.spans
        def spanP50(n: String) = p50(spans.filter(_.name == n).map(_.ns / 1e6))
        res.layer("streaming.EventPipeline.invalidationSet_ms.p50", spanP50("streaming.EventPipeline.invalidationSet"), "ms")
        res.layer("sinks.MergeByKey.ms.p50", spanP50("sinks.MergeByKey"), "ms")
        res.layer("stream.backlog_events.max", backlogMax.toDouble, "count")
        res.layer("loadgen.stream.lag_ms.p95", res.tail(lagNs.toSeq.map(_ / 1e6), 0.95, "generator lag"), "ms")
        res.layer("trace.overhead_ratio",
          if (eventsBy(0) == 0 || eventsBy(1) == 0) 0.0
          else (timeBy(1).toDouble / eventsBy(1)) / (timeBy(0).toDouble / eventsBy(0)), "ratio")
        Json.writeFile(a.traceDir.resolve("progress.json"), Json.render(both.map(p => Json.obj(
          "query" -> (if (p.query == q1.id) "pipeline" else "velocity"), "batch" -> p.batch,
          "end_offset" -> p.endOffset, "input_rows" -> p.inputRows, "duration_ms" -> p.durations,
          "state_rows" -> p.stateRows, "state_bytes" -> p.stateBytes, "state_commit_ms" -> p.stateCommitMs))))
      }
    } finally {
      scala.util.Try(q1.stop()); scala.util.Try(q2.stop())
    }
    val v = spark.version
    spark.stop()
    v
  }

  /** The final risk table against a one-batch recompute over the same
    * events, and each user's last velocity row against featuresAt over the
    * user's purchases. Users the hot-key guard capped are counted apart. */
  private def check(spark: SparkSession, a: Args, res: Result, initial: DataFrame,
                    current: DataFrame, events: Seq[Ev],
                    lastRow: collection.Map[Long, VelocityRow]): Unit = {
    import spark.implicits._
    def table(df: DataFrame): Map[Long, (Double, Option[Timestamp])] =
      df.collect().map(r => r.getLong(0) -> (r.getDouble(1), Option(r.getTimestamp(2)))).toMap
    val got = table(current)
    val want = table(EventPipeline.applyPointUpdates(initial,
      EventPipeline.parse(events.map(_.json).toDF("value"))))
    val riskBad = (got.keySet ++ want.keySet).count(u => got.get(u) != want.get(u))
    if (riskBad > 0) res.fail(s"risk table: $riskBad users differ from the batch recompute")

    val purchases = events.filter(_.kind == "purchase").groupBy(_.user)
    var capped = 0
    var velBad = 0
    purchases.foreach { case (u, evs) =>
      lastRow.get(u) match {
        case None => velBad += 1
        case Some(row) if row.events_dropped > 0 => capped += 1
        case Some(row) =>
          val want = VelocityFeatures.featuresAt(u, new Timestamp(evs.map(_.tsMs).max),
            evs.map(_.txn).toList)
          if (want != row) velBad += 1
      }
    }
    if (velBad > 0) res.fail(s"velocity: $velBad users differ from featuresAt")
    if (lastRow.keySet.exists(u => !purchases.contains(u))) res.fail("velocity: rows for users without purchases")
    // one failure per wrong user, so fail_ratio counts them
    res.failed += math.max(0, riskBad - 1) + math.max(0, velBad - 1)
    res.notes("velocity_users_checked") = purchases.size - capped
    res.notes("velocity_users_capped") = capped
    res.notes("risk_users_checked") = want.size
  }
}
