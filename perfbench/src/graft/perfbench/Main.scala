package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SessionConf, SparkEntry}

/** graft's benchmark, driven from outside the program.
  *
  *   Main --workload <registry_short|pipeline_heavy|genomic_io>
  *        --seed <n> --seconds <s> --trace <0|1> --home <perfbench dir>
  *        --work <scratch dir> [--corrupt <op name>]
  *
  * One SparkSession (local[N], N = min(4, cores)) and one closed-loop
  * client: the next operation starts when the previous one returned.
  * Every operation's answer is checked; a throw or a wrong answer is a
  * failed op. The last stdout line is the result JSON.
  *
  * `--workload record --sf <x> --names <file>` prints `name<TAB>answer`
  * for each listed registry entry over the generated tables — how the
  * committed expected answers were made.
  */
object Main {

  /** Seed of the generated registry tables. Fixed, because the expected
    * answers committed under expected/ are for exactly these tables;
    * the run's --seed picks the order the entries run in. */
  val TableSeed = 42L

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = Paths.get(opts("work"))
    val spark = session(cores, work)
    System.err.println("[perfbench] session up")
    val exit = try {
      val ctx = new Ctx(spark, opts, cores, work)
      val result = workload match {
        case "registry_short" => Workloads.registryShort(ctx)
        case "pipeline_heavy" => Workloads.pipelineHeavy(ctx)
        case "genomic_io"     => Genomic.run(ctx)
        case "record"         => Workloads.record(ctx); None
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      result.foreach { r =>
        println(Json.obj(Seq(
          "nproc" -> Json.num(Runtime.getRuntime.availableProcessors()),
          "local_cores" -> Json.num(cores),
          "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory() / (1 << 20)),
          "jdk" -> Json.str(System.getProperty("java.version")),
          "spark" -> Json.str(spark.version),
          "workload" -> Json.str(workload))))
        println(r.json)
      }
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload aborted: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(exit)
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SessionConf.withStateProvider(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .withExtensions(new GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** What one run shares: the session, options, tracer and client. */
final class Ctx(val spark: SparkSession, val opts: Map[String, String],
                val cores: Int, val work: Path) {
  val seed: Long = opts.getOrElse("seed", "1").toLong
  val seconds: Double = opts.getOrElse("seconds", "10").toDouble
  val trace: Boolean = opts.getOrElse("trace", "0") == "1"
  val home: Path = Paths.get(opts.getOrElse("home", "perfbench"))
  val corrupt: Option[String] = opts.get("corrupt")
  val rng = new scala.util.Random(seed)
  private val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds from JVM start until now — the set-up time when called
    * right before the first timed operation. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def log(msg: String): Unit = System.err.println(f"[perfbench] $sinceStart%.1f s: $msg")

  def lines(rel: String): Seq[String] =
    Files.readAllLines(home.resolve(rel)).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** `name<TAB>rows:digest` lines; `--corrupt name` flips one digest so a
    * run can prove that a wrong answer is reported as a failed op. */
  def expected(rel: String): Seq[(String, Digest.Answer)] =
    lines(rel).map { l =>
      val Array(n, a) = l.split("\t")
      val ans = Digest.Answer.parse(a)
      n -> (if (corrupt.contains(n)) ans.copy(digest = "0" * 16) else ans)
    }

  def tmp(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }

  /** Drop what an entry left cached, outside the timed region, so the
    * next entry measures its own cost and not its predecessor's. */
  def cleanup(): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => })
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

/** The closed-loop client: one operation at a time, each timed, each
  * answer checked. `latencies` keeps successful ops' wall times by kind;
  * `busyMs` sums every op's wall time by kind. */
final class Client(ctx: Ctx, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val latencies: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  private val busy = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Run one op; `body` returns whether the answer was right. */
  def op(name: String, kind: String)(body: => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try tracer.entry(name)(body) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    busy(kind) += ms
    if (kind != "query") ctx.log(f"$name: $ms%.0f ms")
    if (ok) latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    else {
      failed += 1
      System.err.println(s"[perfbench] $name: wrong answer or error")
    }
  }

  def samples(kind: String): Seq[Double] = latencies.getOrElse(kind, Nil).toSeq

  /** Time spent so far in ops of these kinds, failed ones included. */
  def busyMs(kinds: Set[String]): Double = kinds.toSeq.map(busy).sum
}

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double, String)]) {
  def json: String = Json.obj(Seq(
    "correct" -> (if (correct) "true" else "false"),
    "attempted" -> Json.num(attempted),
    "failed" -> Json.num(failed),
    "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })))
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10)).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
