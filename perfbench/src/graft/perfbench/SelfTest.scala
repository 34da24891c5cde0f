package graft.perfbench

import java.nio.file.Files

/** Tests of the benchmark's own logic. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on a failure. */
object SelfTest {

  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  ($e)"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    check("percentile: nearest rank") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 50) == 50 && Stats.percentile(xs, 90) == 90 &&
        Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2 && Stats.percentile(Seq(7.0), 99) == 7
    }
    check("percentile rule: highest percentile with >= 10 samples beyond it") {
      Stats.highestSupported(120).contains(90) &&   // p95 would leave 6 beyond
        Stats.highestSupported(100).contains(90) && // exactly 10 beyond p90
        Stats.highestSupported(99).contains(80) &&  // 9 beyond p90
        Stats.highestSupported(56).contains(80) &&  // a registry_short run
        Stats.highestSupported(49).contains(50) &&  // 9 beyond p80
        Stats.highestSupported(1000).contains(99) &&
        Stats.highestSupported(19).isEmpty          // 9 beyond the median
    }
    check("self time: overlapping children count once") {
      val spans = Seq(Span(1, -1, 1, "entry", "entry", 0, 10),
        Span(2, 1, 1, "a", "x", 1, 4), Span(3, 1, 1, "b", "x", 3, 6),
        Span(4, 1, 1, "c", "x", 9, 12)) // runs past the parent: clipped
      val by = Stats.selfByLayer(spans)
      by("entry") == 10 - (5 + 1) && by("x") == 6
    }
    check("self time by layer partitions the entry wall") {
      val spans = Seq(Span(1, -1, 1, "entry", "entry", 0, 100),
        Span(2, 1, 1, "build", "queries", 0, 30), Span(3, 1, 1, "action", "action", 30, 95),
        Span(4, 3, 1, "job", "scheduler", 40, 90), Span(5, 4, 1, "tasks", "executor", 45, 85),
        // a second job running beside the first: its overlap is not counted twice
        Span(6, 3, 1, "job", "scheduler", 80, 94))
      val by = Stats.selfByLayer(spans)
      by("queries") == 30 && by("scheduler") == 14 && by("executor") == 40 &&
        by("action") == 11 && by("entry") == 5 && by.values.sum == 100
    }

    val work = Files.createTempDirectory("perfbench-selftest")
    val spark = Main.session(2, work)
    try {
      import spark.implicits._
      val df = Seq((1L, 0.3, "a", Map("k" -> 1.5)), (2L, -0.0, "b", Map.empty[String, Double]),
        (3L, 1e300, null, Map("x" -> 2.0, "y" -> 3.0))).toDF("id", "x", "s", "m")
      val a = Digest.of(df)
      check("digest: independent of row order and partitioning") {
        a == Digest.of(df.orderBy($"id".desc)) && a == Digest.of(df.repartition(3, $"s"))
      }
      check("digest: float last-bit noise and -0.0 do not change it") {
        val b = Seq((1L, 0.30000000000000004, "a", Map("k" -> 1.5)), (2L, 0.0, "b", Map.empty[String, Double]),
          (3L, 1e300, null, Map("y" -> 3.0, "x" -> 2.0))).toDF("id", "x", "s", "m")
        a == Digest.of(b)
      }
      check("digest: a changed value or a missing row changes it") {
        a != Digest.of(df.where($"id" < 3)) && a != Digest.of(df.withColumn("s", org.apache.spark.sql.functions.concat($"s", $"s")))
      }
      check("a wrong expected answer is a failed op, not a pass") {
        val opts = Map("seed" -> "1", "seconds" -> "1")
        val ctx = new Ctx(spark, opts, 2, work)
        val client = new Client(ctx, new Tracer(spark, false))
        client.op("right", "query")(Digest.of(df) == a)
        client.op("wrong", "query")(Digest.of(df) == a.copy(digest = "0" * 16))
        client.op("throws", "query")(throw new IllegalStateException("boom"))
        client.attempted == 3 && client.failed == 2 && client.samples("query").size == 1
      }
    } finally spark.stop()
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
