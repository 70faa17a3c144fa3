package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.core.Tables
import graft.serving.{FeatureApi, FeatureStoreService}

/** `serve_mix`: FeatureApi REST in-process over the population (every
  * `PopulationStride`-th customer).
  *
  * Set-up warms every user into the row tier (all three groups) with POST
  * /features/batch of `BatchSize` ids: each of those requests is a miss,
  * answered by the fused Spark probe, and their median latency is reported.
  * Then phase B's closed loop runs `WarmMs`, untimed.
  *
  * The timed reads, per block of `Block` requests: `BatchesPerBlock` POST
  * /features/batch of `BatchSize` ids, GET /features/user/{id} for the rest.
  * A `SubsetShare` of requests ask for a seeded non-empty subset of the
  * three groups instead of all three (a batch then mixes the subset with all
  * three, so it splits into two type-sets). Keys are Zipf(`ZipfS`) over the
  * population.
  *
  * Phase A is an open loop: Poisson arrivals at the params.json rate, at
  * most nproc requests in flight, latency timed from each request's due
  * time. Phase B is a closed loop of nproc / 2 clients, which leaves half
  * the cores to the server: capacity, and the latencies the end-to-end
  * metrics gate (GET p50, batch p90), each the median over `WindowMs`
  * windows. Then `MissPairs` times, a DELETE /features/user/{id} and a GET
  * of the same user: the GET misses the row tier and probes Spark. No
  * end-to-end metric but `setup_s` reaches the probe.
  *
  * The DELETEs are kept out of the timed phases: a probe costs some 200 ms
  * against well under a millisecond for a hit, so with a handful of probes
  * per phase every percentile above the median, and the capacity, follow
  * the count of probes a seed happens to draw.
  */
object ServeMix {

  val AllTypes: Seq[String] = Seq("user", "transaction", "risk")
  val Subsets: Seq[Seq[String]] = Seq(Seq("user"), Seq("transaction"), Seq("risk"),
    Seq("user", "transaction"), Seq("user", "risk"), Seq("transaction", "risk"))

  val Point = 0
  val Batch = 1
  val Delete = 2

  /** Ids per POST /features/batch, the reference's limit. */
  val BatchSize = 100
  /** Every third customer: warming the row tier costs one Spark probe per
    * `BatchSize` users, some 0.7 s with four at a time, and the run budget
    * holds 50 of them. */
  val PopulationStride = 3
  val ZipfS = 1.0
  val SubsetShare = 0.15
  /** 30 % batches, in shuffled blocks. */
  val Block = 200
  val BatchesPerBlock = 60
  /** Share of the run in phase A; the rest is phase B. At the params.json
    * rate (2000/s) 2 s of phase A hold some 1,200 batches, 12 beyond their
    * p99. */
  val OpenShare = 0.2
  /** Untimed closed loop between the fill and phase A, so that phase B
    * starts some 8 s after the fill (see the warm-up in `run`). */
  val WarmMs = 6000
  /** Share of phase-A responses checked field by field. */
  val SampleShare = 0.003
  /** tail_ms is the batches' p90: a 250 ms window of phase B holds some 300
    * of them, 30 beyond it. */
  val TailQ = 0.9
  val WindowMs = 250
  val MissPairs = 10

  final case class Req(kind: Int, ids: Array[Long], types: Array[Seq[String]]) {
    /** The FeatureStoreService calls this request should cause, as the
      * fingerprints TracedService records: one getBatch per distinct
      * type-set (FeatureApi's grouping), or one invalidateUser. */
    def serviceCalls: Seq[String] = kind match {
      case Delete => Seq(fingerprint("del", Nil, Seq(ids(0))))
      case _ =>
        ids.toSeq.zip(types.toSeq).groupBy(_._2).map { case (ts, items) =>
          fingerprint("get", ts, items.map(_._1)) }.toSeq
    }
  }

  def fingerprint(kind: String, types: Seq[String], ids: Seq[Long]): String =
    s"$kind|${types.mkString(",")}|${ids.mkString(",")}"

  /** Seeded stream of reads. Kinds come in shuffled blocks with a fixed
    * count of batches, so the share of batches does not swing from run to
    * run with the draw. */
  final class Mix(keys: Gen.Keys, r: SplittableRandom) {
    private var kinds = Array.empty[Int]
    private var pos = 0

    def next(): Req = {
      if (pos == kinds.length) {
        kinds = Gen.shuffle(Seq.fill(BatchesPerBlock)(Batch) ++ Seq.fill(Block - BatchesPerBlock)(Point), r).toArray
        pos = 0
      }
      val kind = kinds(pos)
      pos += 1
      val subset =
        if (r.nextDouble() < SubsetShare) Some(Subsets(r.nextInt(Subsets.size))) else None
      if (kind == Batch) {
        val ids = Array.fill(BatchSize)(keys.next(r))
        val types = Array.fill(BatchSize)(subset match {
          case Some(s) if r.nextBoolean() => s
          case _                          => AllTypes
        })
        Req(Batch, ids, types)
      } else Req(Point, Array(keys.next(r)), Array(subset.getOrElse(AllTypes)))
    }
  }

  /** Blocking HTTP/1.1 client; keep-alive reuses one connection per thread. */
  final class Client(port: Int) {
    def send(q: Req): (Int, String) = {
      val (method, path, body) = q.kind match {
        case Point  => ("GET", s"/features/user/${q.ids(0)}?" +
          q.types(0).map(t => s"feature_types=$t").mkString("&"), null)
        case Delete => ("DELETE", s"/features/user/${q.ids(0)}", null)
        case _      => ("POST", "/features/batch", batchBody(q))
      }
      val c = URI.create(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      if (body != null) {
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        val os = c.getOutputStream
        try os.write(body) finally os.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, text)
    }

    private def batchBody(q: Req): Array[Byte] = {
      val b = new StringBuilder("{\"requests\":[")
      var i = 0
      while (i < q.ids.length) {
        if (i > 0) b += ','
        b ++= "{\"user_id\":" ++= q.ids(i).toString ++= ",\"feature_types\":["
        b ++= q.types(i).map(t => "\"" + t + "\"").mkString(",") ++= "]}"
        i += 1
      }
      b ++= "]}"
      b.toString.getBytes(UTF_8)
    }
  }

  /** Cheap per-response check: status, and the envelope's id or size. */
  def looksRight(q: Req, code: Int, body: String): Boolean =
    code == 200 && (q.kind match {
      case Point  => body.startsWith(s"""{"user_id":${q.ids(0)},""")
      case Batch  => body.contains(s""""total_requests":${q.ids.length},""")
      case _      => true
    })

  /** FeatureStoreService with a span around each call, for the traced run.
    * Spark jobs a call submits carry the span's id, so the probe's share of
    * the call can be told from the row tier's. */
  final class TracedService(spark: SparkSession, dir: String, trace: Trace)
      extends FeatureStoreService(spark, dir) {
    override def getBatch(userIds: Seq[Long], types: Seq[String], now: Instant): Seq[FeatureResult] =
      trace.span("serving.FeatureStoreService.getBatch", fingerprint("get", types, userIds)) {
        SparkLog.tag(spark, trace, trace.currentId)
        try super.getBatch(userIds, types, now) finally SparkLog.clear(spark)
      }
    override def invalidateUser(userId: Long): Unit =
      trace.span("serving.FeatureStoreService.invalidateUser", fingerprint("del", Nil, Seq(userId))) {
        super.invalidateUser(userId)
      }
  }

  private def threads(n: Int, name: String)(body: Int => Unit): Unit = {
    val ts = (0 until n).map { i =>
      val t = new Thread(() => body(i), s"$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
  }

  /** `clients` threads, each sending the seeded mix back to back until
    * `deadline`; `onDone(request, status, body, sendNs, endNs)` per reply. */
  private def closedLoop(port: Int, keys: Gen.Keys, clients: Int, deadline: Long, seed: Long,
                         stream: String)(onDone: (Req, Int, String, Long, Long) => Unit): Unit =
    threads(clients, stream) { t =>
      val c = new Client(port)
      val mix = new Mix(keys, Gen.rng(seed, s"$stream-$t"))
      while (System.nanoTime() < deadline) {
        val q = mix.next()
        val s = System.nanoTime()
        val (code, body) =
          try c.send(q) catch { case e: java.io.IOException => (-1, e.toString) }
        onDone(q, code, body, s, System.nanoTime())
      }
    }

  def run(a: Args, res: Result, trace: Trace): String = {
    val spark = Session.start(a)
    val logs = if (a.trace) Some(SparkLog.attach(spark, trace)) else None
    val population = Tables.customer(spark, a.data).select("c_custkey").collect()
      .map(_.getAs[Number](0).longValue).filter(_ % PopulationStride == 0).sorted
    res.notes("population") = population.length
    val keys = new Gen.Keys(population, ZipfS)
    val service =
      if (a.trace) new TracedService(spark, a.data, trace) else new FeatureStoreService(spark, a.data)
    val api = new FeatureApi(service)
    val port = api.start(0)
    res.notes("setup_service_s") = Session.setupSeconds(a)
    val cpus = a.cpus
    val failures = new AtomicLong
    val attempts = new AtomicLong
    def check(q: Req, code: Int, body: String, what: => String): Boolean = {
      attempts.incrementAndGet()
      val ok = looksRight(q, code, body)
      if (!ok) {
        failures.incrementAndGet()
        if (res.errors.size < 20) res.errors.synchronized { res.errors += s"$what: $code ${body.take(120)}" }
      }
      ok
    }
    try {
      // -- set-up: every user into the row tier (all three groups) ---------
      trace.on = false
      val warm = population.grouped(BatchSize)
        .map(ids => Req(Batch, ids, Array.fill(ids.length)(AllTypes))).toIndexedSeq
      val wi = new AtomicInteger
      val warmMs = new Array[Double](warm.size)
      threads(cpus, "warm") { _ =>
        val c = new Client(port)
        var i = wi.getAndIncrement()
        while (i < warm.size) {
          val t = System.nanoTime()
          val (code, body) = c.send(warm(i))
          warmMs(i) = (System.nanoTime() - t) / 1e6
          check(warm(i), code, body, s"warm $i")
          i = wi.getAndIncrement()
        }
      }
      res.notes("setup_row_tier_s") = Session.setupSeconds(a)
      // warm-up: phase B's closed loop, untimed. The JIT is still busy with
      // the fill's Spark code for seconds after it; with a second of point
      // reads here instead, phase B's first one to two seconds ran up to
      // twice as slow as the rest, and how long that lasted varied by run
      val clients = math.max(1, cpus / 2)
      closedLoop(port, keys, clients, System.nanoTime() + WarmMs * 1000000L, a.seed, "serve-warm") {
        (q, code, body, _, _) => check(q, code, body, "warm request")
      }
      val residentMb = Session.storageMb(spark)
      trace.on = a.trace
      Session.recordSetup(a, res)

      // -- phase A: open loop at a fixed rate -------------------------------
      val durA = a.seconds * OpenShare
      val arrivals = Gen.poissonArrivals(a.serveRate, durA,
        Gen.rng(a.seed, "serve-arrivals"))
      val n = arrivals.length
      val mixA = new Mix(keys, Gen.rng(a.seed, "serve-open-requests"))
      val reqs = Array.fill(n)(mixA.next())
      val rs = Gen.rng(a.seed, "serve-sample")
      val sampled = (0 until n).filter(i => reqs(i).kind != Delete && rs.nextDouble() < SampleShare).toSet
      val sendNs = new Array[Long](n)
      val endNs = new Array[Long](n)
      val dueNs = new Array[Long](n)
      val bodies = TrieMap.empty[Int, String]
      val next = new AtomicInteger
      val startA = System.nanoTime() + 2000000L
      threads(cpus, "open") { _ =>
        val c = new Client(port)
        var i = next.getAndIncrement()
        while (i < n) {
          val due = startA + arrivals(i)
          Gen.waitUntil(due)
          val send = System.nanoTime()
          val (code, body) =
            try c.send(reqs(i)) catch { case e: java.io.IOException => (-1, e.toString) }
          val end = System.nanoTime()
          dueNs(i) = due; sendNs(i) = send; endNs(i) = end
          if (check(reqs(i), code, body, s"request $i") && sampled(i)) bodies(i) = body
          trace.add("serving.FeatureApi.request", send, end, i.toString)
          i = next.getAndIncrement()
        }
      }
      val endA = System.nanoTime()

      // -- phase B: closed loop, nproc / 2 clients --------------------------
      // with as many clients as cores, clients and server threads contend
      // for the cores and the latency follows the scheduler, not the code
      val durB = ((a.seconds - durA) * 1e9).toLong
      val startB = System.nanoTime()
      val deadline = startB + durB
      val done = Array.fill(2)(new AtomicLong)     // by trace state: off, on
      val busyNs = Array.fill(2)(new AtomicLong)
      // requests completed in each window, and their latencies: every
      // gated figure is the median over windows, so a short stall of the
      // box moves one window, not the figure
      val windowNs = WindowMs * 1000000L
      val windows = (durB / windowNs).toInt
      val perWindow = Array.fill(windows)(new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)])
      val toggler = if (!a.trace) None else Some {
        val t = new Thread(() => {
          while (System.nanoTime() < deadline) {
            Thread.sleep(250)
            trace.on = !trace.on
          }
        }, "trace-toggle")
        t.setDaemon(true); t.start(); t
      }
      closedLoop(port, keys, clients, deadline, a.seed, "serve-closed") { (q, code, body, s, e) =>
        val on = if (trace.on) 1 else 0
        check(q, code, body, "closed-loop request")
        done(on).incrementAndGet(); busyNs(on).addAndGet(e - s)
        val w = ((e - startB) / windowNs).toInt
        if (w < windows) perWindow(w).add((q.kind, (e - s) / 1e6))
      }
      toggler.foreach(_.join())
      trace.on = a.trace
      val completed = done(0).get + done(1).get
      import scala.jdk.CollectionConverters._
      def windowsOf(k: Int) =
        perWindow.toSeq.map(_.asScala.toSeq.collect { case (`k`, ms) => ms }).filter(_.nonEmpty)
      val rps = Stats.median(perWindow.toSeq.map(_.size.toDouble)) / (windowNs / 1e9)

      // -- miss path: DELETE a user, then GET it (the GET probes Spark) -------
      val startM = System.nanoTime()
      val mr = Gen.rng(a.seed, "serve-miss")
      val mc = new Client(port)
      val missMs = (1 to MissPairs).map { _ =>
        val uid = keys.next(mr)
        val del = Req(Delete, Array(uid), Array(Nil))
        val get = Req(Point, Array(uid), Array(AllTypes))
        val (dc, db) = mc.send(del)
        check(del, dc, db, s"delete $uid")
        val t = System.nanoTime()
        val (gc, gb) = mc.send(get)
        val ms = (System.nanoTime() - t) / 1e6
        check(get, gc, gb, s"re-probe $uid")
        ms
      }
      val endM = System.nanoTime()

      // -- end-to-end metrics -------------------------------------------------
      val latMs = (0 until n).map(i => (endNs(i) - dueNs(i)) / 1e6)
      val lagMs = (0 until n).map(i => (sendNs(i) - dueNs(i)) / 1e6)
      def kind(k: Int) = (0 until n).filter(reqs(_).kind == k).map(latMs)
      // the gated latencies are phase B's: with its clients always busy
      // they measure the serving path itself; phase A's, at a fifth of
      // capacity, also carry every thread wake-up and stall of the box and
      // spread far wider from run to run. Each is taken within one request
      // kind: the median of all requests would sit in the GETs' upper tail,
      // where scheduling noise, not the serving path, sets the value.
      res.metric("p50_ms", Stats.median(windowsOf(Point).map(Stats.median)), "ms")
      res.metric("tail_ms", Stats.median(windowsOf(Batch).map(res.tail(_, TailQ, "closed-loop batch window"))), "ms")
      res.metric("ops_per_s", rps, "1/s")
      res.metric("resident_mb", residentMb, "MB")
      val points = kind(Point)
      val batches = kind(Batch)
      res.rep("setup_s", res.metrics("setup_s")._1, "s")
      res.rep("point_p50_ms", Stats.median(points), "ms")
      res.rep("point_p99_ms", res.tail(points, 0.99, "point latency"), "ms")
      res.rep("batch_p50_ms", Stats.median(batches), "ms")
      res.rep("batch_p99_ms", res.tail(batches, 0.99, "batch latency"), "ms")
      res.rep("serve_rps", rps, "1/s")
      res.rep("lag_p99_ms", res.tail(lagMs, 0.99, "phase-A lag"), "ms")
      res.rep("point_miss_p50_ms", Stats.median(missMs), "ms")
      res.rep("batch_miss_p50_ms", Stats.median(warmMs.toSeq), "ms")
      res.rep("open_p50_ms", Stats.median(latMs), "ms")
      res.rep("open_p99_ms", res.tail(latMs, 0.99, "open-loop latency"), "ms")
      res.notes("open_requests") = n
      res.notes("open_points") = points.size
      res.notes("open_batches") = batches.size
      res.notes("open_deletes") = n - points.size - batches.size
      res.notes("closed_requests") = completed
      res.notes("closed_clients") = clients
      res.notes("tail_quantile") = TailQ

      // -- spot check of sampled responses against the group tables ---------
      spotCheck(spark, a.data, bodies.toMap, reqs, res)
      res.notes("spot_checked_responses") = bodies.size

      // -- per-layer metrics (traced run) -------------------------------------
      logs.foreach { case (slog, _) =>
        slog.quiesce()
        // phase A and the miss phase; phase B's traced windows only feed
        // the overhead ratio
        val spans = trace.spans.filter(s =>
          (s.start >= startA && s.end <= endA) || (s.start >= startM && s.end <= endM))
        val calls = spans.filter(_.name.startsWith("serving.FeatureStoreService."))
        val gets = calls.filter(_.name.endsWith(".getBatch"))
        val jobMs: Map[Long, Double] = slog.jobs.values.groupBy(_.span).map { case (sp, js) =>
          sp -> js.toSeq.map(j => slog.jobEnds.getOrElse(j.id, j.start) - j.start).sum.toDouble }
        val probeMs = gets.flatMap(s => jobMs.get(s.id))
        val svcSelf = calls.map(s => math.max(0.0, s.ns / 1e6 - jobMs.getOrElse(s.id, 0.0)))
        // FeatureApi self time: the round trip minus the service calls it caused
        val byFp = mutable.Map.empty[String, List[Span]] ++
          calls.groupBy(_.attrs).map { case (k, v) => k -> v.sortBy(_.start).toList }
        val apiSelf = (0 until n).flatMap { i =>
          val matched = reqs(i).serviceCalls.map { fp =>
            val hit = byFp.getOrElse(fp, Nil).find(s => s.start >= sendNs(i) && s.end <= endNs(i))
            hit.foreach(h => byFp(fp) = byFp(fp).filterNot(_ eq h))
            hit
          }
          if (matched.forall(_.isDefined))
            Some((endNs(i) - sendNs(i) - matched.flatten.map(_.ns).sum) / 1e6)
          else None
        }
        val reads = points.size + batches.size + missMs.size
        res.layer("serving.FeatureApi.self_ms.p50", if (apiSelf.isEmpty) 0.0 else Stats.median(apiSelf), "ms")
        res.layer("serving.FeatureApi.self_ms.p99", res.tail(apiSelf, 0.99, "FeatureApi self"), "ms")
        res.layer("serving.FeatureStoreService.self_ms.p50", if (svcSelf.isEmpty) 0.0 else Stats.median(svcSelf), "ms")
        res.layer("serving.FeatureStoreService.self_ms.p99", res.tail(svcSelf, 0.99, "service self"), "ms")
        res.layer("serving.getBatch_calls_per_request", if (reads == 0) 0.0 else gets.size.toDouble / reads, "ratio")
        res.layer("serving.probe.count", probeMs.size.toDouble, "count")
        res.layer("serving.probe.ms.p50", if (probeMs.isEmpty) 0.0 else Stats.median(probeMs), "ms")
        res.layer("serving.row_tier.hit_ratio",
          if (gets.isEmpty) 0.0 else (gets.size - probeMs.size).toDouble / gets.size, "ratio")
        res.layer("loadgen.serve.lag_ms.p99", res.tail(lagMs, 0.99, "phase-A lag"), "ms")
        res.notes("api_self_matched") = apiSelf.size
        res.layer("trace.overhead_ratio",
          if (done(0).get == 0 || done(1).get == 0) 0.0
          else (busyNs(1).get.toDouble / done(1).get) / (busyNs(0).get.toDouble / done(0).get), "ratio")
      }
    } finally {
      api.stop()
      res.attempted += attempts.get
      res.failed += failures.get
    }
    val v = spark.version
    spark.stop()
    v
  }

  /** Compare the sampled responses, field by field, with the group tables
    * the service serves from. */
  private def spotCheck(spark: SparkSession, dir: String, bodies: Map[Int, String],
                        reqs: Array[Req], res: Result): Unit = {
    if (bodies.isEmpty) return
    val ids = bodies.keys.flatMap(i => reqs(i).ids).toSeq.distinct
    val tables = Map(
      "user" -> graft.jobs.UserFeaturesJob(spark, dir),
      "transaction" -> graft.jobs.TransactionFeaturesJob(spark, dir),
      "risk" -> graft.jobs.RiskFeaturesJob(spark, dir))
    val rows: Map[(String, Long), Row] = tables.toSeq.flatMap { case (g, df) =>
      df.filter(col("user_id").isin(ids: _*)).collect().toSeq
        .map(r => (g, r.getAs[Number]("user_id").longValue) -> r)
    }.toMap
    for ((i, body) <- bodies.toSeq.sortBy(_._1)) {
      val q = reqs(i)
      val j = JsonMethods.parse(body, useBigDecimalForDouble = true)
      val items = q.kind match {
        case Batch => (j \ "responses") match { case JArray(xs) => xs; case _ => Nil }
        case _     => List(j)
      }
      if (items.size != q.ids.length) res.fail(s"request $i: ${items.size} responses for ${q.ids.length} ids")
      else items.zipWithIndex.foreach { case (item, k) =>
        val uid = q.ids(k)
        if (!sameValue(item \ "user_id", uid)) res.fail(s"request $i item $k: user_id ${item \ "user_id"} != $uid")
        AllTypes.foreach { g =>
          val got = item \ s"${g}_features"
          val want = if (q.types(k).contains(g)) rows.get((g, uid)) else None
          val ok = (got, want) match {
            case (JNull | JNothing, None) => true
            case (obj: JObject, Some(r)) =>
              r.schema.fieldNames.forall(f => sameValue(obj \ f, if (r.isNullAt(r.fieldIndex(f))) null else r.get(r.fieldIndex(f))))
            case _ => false
          }
          if (!ok) res.fail(s"request $i: user $uid group $g differs from the group table")
        }
      }
    }
  }

  private def sameValue(j: JValue, v: Any): Boolean = (j, v) match {
    case (JNull | JNothing, null)            => true
    case (_, null)                           => false
    case (JBool(b), x: Boolean)              => b == x
    case (JString(s), x: java.sql.Timestamp) => s == x.toInstant.toString
    case (JString(s), x)                     => s == x.toString
    case (num, x: Number) =>
      val got = num match {
        case JInt(n)     => Some(BigDecimal(n))
        case JLong(n)    => Some(BigDecimal(n))
        case JDecimal(d) => Some(d)
        case JDouble(d)  => Some(BigDecimal(d))
        case _           => None
      }
      val want = x match {
        case d: java.lang.Double     => BigDecimal(d.toString)
        case f: java.lang.Float      => BigDecimal(f.toString)
        case b: java.math.BigDecimal => BigDecimal(b)
        case n                       => BigDecimal(n.longValue)
      }
      got.exists(_.compare(want) == 0)
    case _ => false
  }
}
