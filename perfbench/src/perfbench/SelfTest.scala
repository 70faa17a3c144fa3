package perfbench

import scala.util.control.NonFatal

/** Tests of the benchmark's own helpers. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on any failure. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case NonFatal(e) => println(s"  error: $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 1000).map(_.toDouble)

    check("tail rule: p99 of 1000 samples is the 990th, with 10 beyond") {
      Stats.beyond(1000, 0.99) == 10 && Stats.tail(xs, 0.99).contains(990.0)
    }
    check("tail rule: p99 is refused with 9 samples beyond") {
      Stats.tail(xs.take(999), 0.99).isEmpty && Stats.beyond(999, 0.99) == 9
    }
    check("tail rule: p50/p75/p95 need 20/40/200 samples") {
      Seq((0.5, 20), (0.75, 40), (0.95, 200)).forall { case (q, n) =>
        Stats.beyond(n, q) == 10 && Stats.beyond(n - 1, q) == 9 }
    }
    check("median and nearest-rank percentile") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.percentile(xs, 0.5) == 500.0
    }
    check("union length merges overlaps and ignores empty intervals") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L
    }

    check("Zipf keys are deterministic under a fixed seed") {
      val pop = (1L to 5000L).toArray
      val k = new Gen.Keys(pop, 1.0)
      def draw(seed: Long) = {
        val r = Gen.rng(seed, "t")
        Seq.fill(2000)(k.next(r))
      }
      draw(7) == draw(7) && draw(7) != draw(8)
    }
    check("Zipf rank 0 has frequency near 1/H(n)") {
      val z = new Gen.Zipf(1000, 1.0)
      val r = Gen.rng(3, "zipf")
      val n = 200000
      val hits = Iterator.fill(n)(z.sample(r)).count(_ == 0)
      val h = (1 to 1000).map(1.0 / _).sum
      math.abs(hits.toDouble / n - 1 / h) < 0.01
    }
    check("Poisson arrivals are deterministic and have the requested rate") {
      val a1 = Gen.poissonArrivals(500.0, 20.0, Gen.rng(11, "arr"))
      val a2 = Gen.poissonArrivals(500.0, 20.0, Gen.rng(11, "arr"))
      val a3 = Gen.poissonArrivals(500.0, 20.0, Gen.rng(12, "arr"))
      a1.sameElements(a2) && !a1.sameElements(a3) &&
        math.abs(a1.length - 10000) < 400 && a1.sliding(2).forall(p => p.length < 2 || p(0) <= p(1))
    }
    check("seeded shuffle is a deterministic permutation") {
      val s1 = Gen.shuffle(1 to 50, Gen.rng(5, "s"))
      s1 == Gen.shuffle(1 to 50, Gen.rng(5, "s")) && s1.sorted == (1 to 50) && s1 != (1 to 50)
    }
    check("stream chunks are deterministic, ids are contiguous, rows come from the pool") {
      val pool = StreamIngest.Pool(Array(7L, 8L, 9L), Array("click", "purchase", "view"),
        Array(1.5, 2.5, 3.5), Array("{\"k\": 1}", "{}", "{\"k\": 3}"))
      val c1 = StreamIngest.chunk(1, pool, 3, 500, 50)
      val rows = (0 until 3).map(j => (pool.users(j), pool.kinds(j), pool.values(j), pool.props(j))).toSet
      c1.sameElements(StreamIngest.chunk(1, pool, 3, 500, 50)) &&
        !c1.sameElements(StreamIngest.chunk(2, pool, 3, 500, 50)) &&
        c1.map(_.id).toSeq == (500L until 550L) &&
        c1.forall(e => rows((e.user, e.kind, e.value, e.props))) &&
        c1.map(_.user).distinct.length == 3
    }
    check("an event's JSON envelope carries its props string intact") {
      val ev = StreamIngest.Ev(5, 7, "click", 1.5, "{\"k\": 1}")
      val j = org.json4s.jackson.JsonMethods.parse(ev.json)
      (j \ "props") == org.json4s.JString("{\"k\": 1}") && (j \ "user_id") == org.json4s.JInt(7)
    }
    check("serve mix fingerprints split a batch by type-set") {
      val q = ServeMix.Req(ServeMix.Batch, Array(1L, 2L, 3L),
        Array(ServeMix.AllTypes, Seq("user"), ServeMix.AllTypes))
      q.serviceCalls.toSet == Set("get|user,transaction,risk|1,3", "get|user|2")
    }

    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import spark.implicits._
      val rows = (1 to 200).map(i => (i.toLong, s"v${i % 7}", i * 0.25, Seq(i, i + 1)))
      val df = rows.toDF("k", "s", "d", "arr")
      check("checksum does not depend on row order or partitioning") {
        val base = Witness.of(df)
        val shuffled = Witness.of(scala.util.Random.shuffle(rows).toDF("k", "s", "d", "arr").repartition(5))
        val sorted = Witness.of(df.orderBy($"d".desc).coalesce(1))
        base == shuffled && base == sorted && base.rows == 200
      }
      check("checksum changes with a changed value, a dropped row and a duplicated row") {
        val base = Witness.of(df)
        val changed = Witness.of(df.withColumn("d", org.apache.spark.sql.functions.when($"k" === 7, 0.0).otherwise($"d")))
        val dropped = Witness.of(df.filter($"k" =!= 7))
        val dup = Witness.of(df.union(df.filter($"k" === 7)))
        changed != base && dropped != base && dup != base && dup.rows == 201
      }
      check("checksum hashes columns of the same name by position") {
        val a = Seq((1, 2)).toDF("x", "y").select($"x", $"y".as("x"))
        val b = Seq((2, 1)).toDF("x", "y").select($"x", $"y".as("x"))
        Witness.of(a) != Witness.of(b)
      }
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
