package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Command-line arguments, as run.py passes them, and the settings of
  * params.json (the board's query set and the serve and stream rates; every
  * other workload constant lives in the object that uses it). */
final case class Args(
  workload: String,
  seed: Long,
  seconds: Double,
  trace: Boolean,
  data: String,
  boardQueries: Seq[String],
  serveRate: Double,
  streamRate: Double,
  result: Path,
  traceDir: Path,
  launchedMs: Double,
  allQueries: Boolean,
  expected: Path,
  writeWitness: Boolean) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val params = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(get("params"))), "UTF-8"))
    def rate(workload: String): Double = params \ workload \ "rate_per_s" match {
      case JInt(n)    => n.toDouble
      case JDouble(d) => d
      case other      => sys.error(s"params $workload.rate_per_s: not a number: $other")
    }
    Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      data = get("data"),
      boardQueries = (params \ "board" \ "queries") match {
        case JArray(xs) => xs.collect { case JString(q) => q }
        case other      => sys.error(s"params board.queries: not a list: $other")
      },
      serveRate = rate("serve_mix"),
      streamRate = rate("stream_ingest"),
      result = Paths.get(get("result")),
      traceDir = Paths.get(get("trace-dir")),
      launchedMs = get("launched-ms").toDouble,
      allQueries = kv.get("queries").contains("all"),
      expected = Paths.get(get("expected")),
      writeWitness = kv.get("write-witness").contains("1"))
  }
}

/** Everything one run reports. `metrics` are the end-to-end metrics (the
  * untraced run's result), `layers` the per-layer metrics (the traced
  * run's), `report` the workload's own named figures. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val errors = mutable.ArrayBuffer.empty[String]

  def metric(n: String, v: Double, unit: String): Unit = metrics(n) = (v, unit)
  def layer(n: String, v: Double, unit: String): Unit = layers(n) = (v, unit)
  def rep(n: String, v: Double, unit: String): Unit = report(n) = (v, unit)
  def fail(what: String): Unit = { failed += 1; if (errors.size < 50) errors += what }

  /** Tail percentile under the ten-beyond rule (`Stats.tail`). A sample too
    * small for it gives the nearest-rank value and an error note. */
  def tail(xs: Seq[Double], q: Double, what: String): Double =
    if (xs.isEmpty) 0.0 else Stats.tail(xs, q).getOrElse {
      errors += f"$what: ${xs.size} samples do not support p${q * 100}%.0f"
      Stats.percentile(xs, q)
    }
}

object Main {

  /** Wall clock in epoch milliseconds, with sub-millisecond digits. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val res = new Result
    val calib0 = Calibration.probe()
    val trace = new Trace(a.trace)
    var sparkVersion = ""
    try {
      sparkVersion = a.workload match {
        case "board"         => Board.run(a, res, trace)
        case "serve_mix"     => ServeMix.run(a, res, trace)
        case "stream_ingest" => StreamIngest.run(a, res, trace)
        case other           => sys.error(s"unknown workload $other")
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        res.errors += s"run aborted: $e"
    }
    val calib1 = Calibration.probe()
    if (a.trace) {
      Files.createDirectories(a.traceDir)
      trace.write(a.traceDir.resolve("spans.jsonl"))
    }
    val layers = if (a.trace) Layers.complete(a.workload, res) else Nil
    val out = Json.obj(
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "errors" -> res.errors.toSeq,
      "metrics" -> res.metrics.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "layers" -> layers.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }.toMap,
      "report" -> res.report.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "env" -> Json.obj(
        "java" -> System.getProperty("java.version"),
        "spark" -> sparkVersion,
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "calibration_start_ms" -> calib0,
        "calibration_end_ms" -> calib1),
      "notes" -> res.notes)
    Json.writeFile(a.result, Json.render(out))
    // Spark leaves non-daemon threads behind; the result is on disk
    sys.exit(0)
  }
}

/** A fixed CPU-bound probe outside Spark: xorshift over a fixed count,
  * best of five. Run at the start and the end of every run, so a slower
  * box or a loaded run shows in the result rather than as a code change. */
object Calibration {
  @volatile private var sink = 0L

  def probe(): Double =
    (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      sink = x
      (System.nanoTime() - t0) / 1e6
    }.min
}

/** Shared Spark set-up for every workload. */
object Session {
  def start(a: Args): org.apache.spark.sql.SparkSession = {
    val spark = graft.core.Sessions.local(a.cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Spark block storage (memory + disk) in MB. */
  def storageMb(spark: org.apache.spark.sql.SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def persistentRdds(spark: org.apache.spark.sql.SparkSession): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.map { case (id, r) => id -> Option(r.name).getOrElse(r.toString) }.toMap

  def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def setupSeconds(a: Args): Double = (Main.nowMs() - a.launchedMs) / 1e3

  def recordSetup(a: Args, res: Result): Unit = res.metric("setup_s", setupSeconds(a), "s")

  def guard(res: Result, what: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => res.fail(s"$what: $e") }
}
