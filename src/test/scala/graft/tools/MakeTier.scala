package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage a K×-replicated copy of a driver sf tier (manual:
  * sbt "Test/runMain graft.tools.MakeTier [srcDir] [outDir] [K]") so the
  * FULL registry can be benched one tier above the largest driver tier
  * (sf0.1 × 10 ≈ sf1) on the real star schema: run graft.Bench with
  * SPARK_GRAFT_SF_DIR at the output (and SPARK_GRAFT_BENCH_ONLY to pick
  * entries) for per-entry tier timings.
  *
  * Replication is key-shifted so the schema stays join-consistent:
  * each copy c adds c × (max key + 1) to every primary AND referencing
  * key (orders.o_custkey shifts with customer.c_custkey, lineitem's
  * three FKs with their parents). region/nation keep their fixed
  * 5/25-row cardinality — they are broadcast dimensions whose key space
  * the fact keys reference by small modulus. To keep outputs scaling
  * like a CORPUS rather than an echo chamber, text gets a per-copy
  * token suffix (intra-copy near-dup structure preserved exactly;
  * cross-copy shingles disjoint, so LSH/minhash output grows ~K, not
  * ~K² sibling pairs) and embeddings get a small per-copy deterministic
  * jitter (cluster structure kept, exact-duplicate radius-0 pairs
  * avoided). Timestamps are left alone: K× density over the same time
  * range, which is how a real stream grows.
  */
object MakeTier {

  /** Replicate `src` K× into `out`. `skewFrac` > 0 turns the first
    * ceil(skewFrac·K) copies into a HOT mass (round-9 verdict ask #5 —
    * uniform replication never exercises AQE's skew handling on the
    * real operators):
    *  - events: hot copies force user_id ≡ 0 (mod 16), so the derived
    *    interval-join key (`user_id % 16 AS chrom`) concentrates
    *    skewFrac + (1−skewFrac)/16 of all intervals on ONE chromosome.
    *    Hot ids live past 16·K·U, disjoint from the uniform copies.
    *  - documents: hot copies share ONE token suffix ('_hot') and ONE
    *    source domain, so minhash bands, connected components and the
    *    per-domain source cap all see a single key carrying ~skewFrac
    *    of the corpus (dup families of size hotCopies per base doc).
    * Uniform copies are bit-identical to the skew=0 output. */
  def replicate(spark: SparkSession, src: String, out: String, k: Int,
                skewFrac: Double = 0.0): Unit = {
    require(k >= 1, s"K must be >= 1, got $k")
    require(skewFrac >= 0.0 && skewFrac < 1.0, s"skewFrac in [0,1): $skewFrac")
    val hot = math.ceil(k * skewFrac).toInt
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def copies(df: DataFrame): DataFrame = {
      val c = explode(expr(s"sequence(0, ${k - 1})")).as("c")
      df.select(col("*"), c)
    }
    def maxOf(df: DataFrame, key: String): Long =
      df.selectExpr(s"max($key)").first().getLong(0) + 1

    // fixed dimensions: copied verbatim (their key space is shared)
    Seq("region", "nation").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    val cust = read("customer"); val C = maxOf(cust, "c_custkey")
    val supp = read("supplier"); val S = maxOf(supp, "s_suppkey")
    val part = read("part"); val P = maxOf(part, "p_partkey")
    val ord = read("orders"); val O = maxOf(ord, "o_orderkey")

    copies(cust).withColumn("c_custkey", col("c_custkey") + col("c") * C)
      .withColumn("c_name", concat(col("c_name"), lit("#"), col("c")))
      .drop("c").write.mode("overwrite").parquet(s"$out/customer.parquet")
    copies(supp).withColumn("s_suppkey", col("s_suppkey") + col("c") * S)
      .withColumn("s_name", concat(col("s_name"), lit("#"), col("c")))
      .drop("c").write.mode("overwrite").parquet(s"$out/supplier.parquet")
    copies(part).withColumn("p_partkey", col("p_partkey") + col("c") * P)
      .drop("c").write.mode("overwrite").parquet(s"$out/part.parquet")
    copies(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("c") * O)
      .withColumn("o_custkey", col("o_custkey") + col("c") * C)
      .drop("c").write.mode("overwrite").parquet(s"$out/orders.parquet")
    copies(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("c") * O)
      .withColumn("l_partkey", col("l_partkey") + col("c") * P)
      .withColumn("l_suppkey", col("l_suppkey") + col("c") * S)
      .drop("c").write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val ev = read("events")
    val E = maxOf(ev, "event_id"); val U = maxOf(ev, "user_id")
    copies(ev)
      .withColumn("event_id", col("event_id") + col("c") * E)
      // hot copies: user_id ≡ 0 (mod 16) in a disjoint id range past
      // 16·K·U — one hot chromosome for every user_id%16-derived key
      .withColumn("user_id", expr(
        s"IF(c < $hot, (user_id + c * $U + ${k.toLong * U}) * 16, " +
          s"user_id + c * $U)"))
      .drop("c").write.mode("overwrite").parquet(s"$out/events.parquet")

    val docs = read("documents"); val D = maxOf(docs, "doc_id")
    copies(docs)
      .withColumn("doc_id", col("doc_id") + col("c") * D)
      // per-copy token suffix: every shingle differs across copies —
      // except hot copies, which SHARE a suffix (dup families of size
      // `hot` per base doc; hot minhash bands / CC components)
      .withColumn("text", expr(
        s"array_join(transform(split(text, ' '), t -> concat(t, '_', " +
          s"IF(c < $hot, 'hot', cast(c as string)))), ' ')"))
      .withColumn("source", expr(
        s"IF(c < $hot, 'hot-domain.example', source)"))
      .withColumn("n_chars", length(col("text")))
      .drop("c").write.mode("overwrite").parquet(s"$out/documents.parquet")

    val vecs = read("embeddings"); val V = maxOf(vecs, "vec_id")
    copies(vecs)
      .withColumn("vec_id", col("vec_id") + col("c") * V)
      .withColumn("embedding", expr(
        """transform(embedding, (x, d) -> cast(
             x + (pmod(hash(vec_id, d, c), 1000) / 1000.0 - 0.5) * 0.05 as float))"""))
      .drop("c").write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val skew = args.lift(3).map(_.toDouble).getOrElse(0.0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    replicate(spark, src, out, k, skew)
    println(f"[maketier] $src x$k skew=$skew -> $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      println(s"[maketier] $t rows = " +
        spark.read.parquet(s"$out/$t.parquet").count())
    }
    spark.stop()
  }
}
