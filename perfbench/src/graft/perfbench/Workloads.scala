package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry

/** The registry workloads and the timed phase every workload shares. */
object Workloads {

  /** Run whole passes until at least `seconds` have been measured.
    * Untraced runs report the end-to-end metrics: latency percentiles of
    * the "query" ops, and `pass_wall_s`, the time per pass spent in the
    * ops of `passKinds`. A traced run makes the same measurement with
    * every listener attached and reports the per-layer metrics, with
    * `probe`'s direct measurements; then one more untraced and one more
    * traced pass give the tracing overhead (both are repeat runs of the
    * same ops, so warm-up does not count as overhead or as a saving). */
  def timed(ctx: Ctx, setup: Double, passKinds: Set[String],
            probe: () => Seq[(String, Double, String)],
            formatRates: (Tracer, Seq[Span]) => Seq[(String, Double, String)] =
              Genomic.formatRates(0, 0))
           (pass: Client => Unit): Result = {
    def measure(tracer: Tracer, seconds: Double): (Client, Seq[Double], Double) = {
      val client = new Client(ctx, tracer)
      val walls = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // whole passes, until at least `seconds` have been measured
      while (walls.isEmpty || elapsed < seconds) {
        val busy0 = client.busyMs(passKinds)
        pass(client)
        walls += (client.busyMs(passKinds) - busy0) / 1000.0
      }
      (client, walls.toSeq, elapsed)
    }
    if (!ctx.trace) {
      val (plain, plainWalls, _) = measure(new Tracer(ctx.spark, false), ctx.seconds)
      val q = plain.samples("query")
      if (!Stats.highestSupported(q.size).exists(_ >= 80))
        System.err.println(s"[perfbench] ${q.size} query samples do not support p80")
      Result(plain.failed == 0, plain.attempted, plain.failed, Seq(
        ("setup_s", setup, "s"),
        ("query_p50_ms", Stats.percentile(q, 50), "ms"),
        ("query_p80_ms", Stats.percentile(q, 80), "ms"),
        ("pass_wall_s", Stats.median(plainWalls), "s")))
    } else {
      val tracer = new Tracer(ctx.spark, true)
      val jvm = new JvmWatch
      tracer.start()
      val (traced, _, tracedWall) = measure(tracer, ctx.seconds)
      val spans = tracer.finish()
      jvm.stop()
      val probed = probe()
      val (plain, plainWalls, _) = measure(new Tracer(ctx.spark, false), 0)
      val again = new Tracer(ctx.spark, true)
      again.start()
      val (retraced, retracedWalls, _) = measure(again, 0)
      again.finish()
      val overhead = 100.0 * (Stats.median(retracedWalls) / Stats.median(plainWalls) - 1)
      val metrics = Layers.metrics(tracer, spans, tracedWall, ctx.cores, jvm,
        probed ++ formatRates(tracer, spans)) ++
        Seq(("trace.overhead_pct", overhead, "%"), ("trace.spans", spans.size.toDouble, "count"))
      val clients = Seq(traced, plain, retraced)
      val failed = clients.map(_.failed).sum
      Result(failed == 0, clients.map(_.attempted).sum, failed, metrics)
    }
  }

  /** One registry entry as a client op: build the DataFrame (queries
    * layer), run the digest aggregate (the action), compare. */
  def entryOp(ctx: Ctx, client: Client, name: String, dir: String,
              want: Digest.Answer): Unit = {
    client.op(name, "query") {
      val t = client.tracer
      val df = t.span("build", "queries")(SparkEntry.queries(name)(ctx.spark, dir))
      val got = t.span("action", "action")(Digest.of(df))
      if (got != want) System.err.println(s"[perfbench] $name: got $got, want $want")
      got == want
    }
    ctx.cleanup()
  }

  private def tables(ctx: Ctx, sf: Double): String = {
    val dir = ctx.tmp(s"tables-sf$sf")
    Tables.generate(ctx.spark, dir, sf, Main.TableSeed)
    ctx.log(s"tables at sf$sf generated")
    dir
  }

  /** 56 cheap registry entries over range and parquet plans: the fixed
    * per-query cost (builder, analysis, optimization, physical planning,
    * job launch) with almost no execution. */
  def registryShort(ctx: Ctx): Option[Result] = {
    val dir = tables(ctx, 0.01)
    // warm-up: JIT, codegen and class loading on a disjoint entry set
    val warm = ctx.lines("expected/registry_warmup.txt")
    warm.foreach { n =>
      try SparkEntry.queries(n)(ctx.spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $n: $e") }
      ctx.cleanup()
    }
    ctx.log(s"warm-up on ${warm.size} entries done")
    val all = ctx.expected("expected/registry_short.tsv")
    // a traced run measures every pass twice (untraced, then traced):
    // every other entry keeps it inside the run's time limit
    val entries = if (ctx.trace) all.grouped(2).map(_.head).toSeq else all
    val setup = ctx.sinceStart
    Some(timed(ctx, setup, Set("query"), () => Probe.run(ctx, None, kernels = false)) { client =>
      ctx.rng.shuffle(entries).foreach { case (n, want) => entryOp(ctx, client, n, dir, want) }
    })
  }

  /** ~7 execution-bound entries at sf0.1: shuffles, kernels, iterative
    * graph work and stream state. Planning is a small share here. */
  def pipelineHeavy(ctx: Ctx): Option[Result] = {
    val dir = tables(ctx, 0.1)
    val entries = ctx.expected("expected/pipeline_heavy.tsv")
    // one untimed pass: warm-up, and the stream entry stages its inputs
    entries.foreach { case (n, _) =>
      SparkEntry.queries(n)(ctx.spark, dir).write.format("noop").mode("overwrite").save()
      ctx.cleanup()
    }
    ctx.log("untimed pass done")
    val setup = ctx.sinceStart
    Some(timed(ctx, setup, Set("query"), () => Probe.run(ctx, None, kernels = true)) { client =>
      ctx.rng.shuffle(entries).foreach { case (n, want) => entryOp(ctx, client, n, dir, want) }
    })
  }

  /** Print `name<TAB>rows:digest<TAB>ms<TAB>staged-or-dash` for every
    * entry named in the --names file, over tables generated at --sf. */
  def record(ctx: Ctx): Unit = {
    val sf = ctx.opts("sf").toDouble
    val dir = tables(ctx, sf)
    val names = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(ctx.opts("names")))
      .toArray.map(_.toString.trim).filter(_.nonEmpty)
    // an entry that stages files through Stage (memoized fixtures or
    // scratch directories) shows as staging time or new temp entries;
    // the memo is emptied first so an entry reusing a fixture another
    // entry staged is caught whatever the order
    def tempEntries = Option(ctx.work.toFile.list()).map(_.length).getOrElse(0)
    val memo = graft.queries.Stage.getClass.getDeclaredField("stagedDirs")
    memo.setAccessible(true)
    names.foreach { n =>
      memo.get(graft.queries.Stage).asInstanceOf[java.util.Map[_, _]].clear()
      val (s0, d0) = (graft.queries.Stage.stagingSeconds, tempEntries)
      val t0 = System.nanoTime()
      val line = try {
        val a = Digest.of(SparkEntry.queries(n)(ctx.spark, dir))
        val staged = graft.queries.Stage.stagingSeconds > s0 || tempEntries > d0
        f"$n\t$a\t${(System.nanoTime() - t0) / 1e6}%.1f\t${if (staged) "staged" else "-"}"
      } catch { case e: Throwable => s"$n\tERROR\t${e.toString.replace('\n', ' ').take(200)}" }
      println(line)
      ctx.cleanup()
    }
  }
}
