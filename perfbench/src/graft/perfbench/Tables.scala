package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the parquet tables the registry entries read:
  * the TPC-H-shaped star (region, nation, customer, supplier, part,
  * orders, lineitem), the `events` stream table, and the text and
  * vector corpora (`documents`, `embeddings`). Column names, types and
  * value domains follow the tables the registry was written against;
  * row counts scale with `sf` the same way (lineitem = 6M x sf).
  *
  * Every value is a pure function of (seed, table, row id, column), so
  * one (seed, sf) pair always yields byte-identical rows whatever the
  * partitioning — the committed expected digests depend on that.
  * Each table is written as ONE parquet file, like the fixtures the
  * registry's scans were tuned for.
  */
object Tables {

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Uniform double in [0, 1) drawn from (seed, table, column, id). */
  private def u(seed: Long, table: String, colTag: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(table), lit(colTag), id), lit(1L << 40))
      .cast("double") / (1L << 40).toDouble

  private def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*), (r * values.size).cast("int") + 1)

  private def upTo(n: Long, r: Column): Column = (r * n).cast("long")

  private def money(lo: Double, hi: Double, r: Column): Column =
    round(lit(lo) + r * (hi - lo), 2)

  private def day(from: String, span: Int, r: Column): Column =
    date_add(to_date(lit(from)), (r * span).cast("int")).cast("timestamp_ntz")

  /** Write every table under `dir`, several tables at a time: each is
    * a small job, and one after another they would leave cores idle. */
  def generate(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try names.map(t => pool.submit(new Runnable {
      override def run(): Unit = write(table(spark, t, sf, seed), s"$dir/$t.parquet")
    })).foreach(_.get())
    finally pool.shutdown()
  }

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  def rows(table: String, sf: Double): Long = table match {
    case "region"     => 5
    case "nation"     => 25
    case "customer"   => math.max(150, (150000 * sf).toLong)
    case "supplier"   => math.max(10, (10000 * sf).toLong)
    case "part"       => math.max(200, (200000 * sf).toLong)
    case "orders"     => math.max(1500, (1500000 * sf).toLong)
    case "lineitem"   => math.max(6000, (6000000 * sf).toLong)
    case "events"     => math.max(1000, (1000000 * sf).toLong)
    case "documents"  => math.max(500, (50000 * sf).toLong)
    case "embeddings" => math.max(500, (20000 * sf).toLong)
  }

  def table(spark: SparkSession, t: String, sf: Double, seed: Long): DataFrame = {
    val n = rows(t, sf)
    val id = col("id")
    def r(tag: Int): Column = u(seed, t, tag, id)
    val base = spark.range(0, n, 1, math.max(1, (n / 200000).toInt + 1))
    t match {
      case "region" => base.select(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), id / 5.0).as("r_name"))
      case "nation" => base.select(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        (id % 5).cast("int").as("n_regionkey"))
      case "customer" => base.select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        upTo(25, r(1)).cast("int").as("c_nationkey"),
        money(-999.99, 9999.99, r(2)).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), r(3))
          .as("c_mktsegment"))
      case "supplier" => base.select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        upTo(25, r(1)).cast("int").as("s_nationkey"),
        money(-999.99, 9999.99, r(2)).as("s_acctbal"))
      case "part" => base.select(id.as("p_partkey"),
        concat_ws(" ",
          pick(Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), r(1)),
          pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"), r(2)))
          .as("p_name"),
        concat(lit("Brand#"), (upTo(25, r(3)) + 1).cast("string")).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), r(4)).as("p_type"),
        (upTo(50, r(5)) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (id % 1000) / 10.0, 2).as("p_retailprice"))
      case "orders" => base.select(id.as("o_orderkey"),
        upTo(rows("customer", sf), r(1)).as("o_custkey"),
        pick(Seq("F", "O", "P"), r(2)).as("o_orderstatus"),
        money(1000.0, 499999.0, r(3)).as("o_totalprice"),
        day("1995-01-01", 2405, r(4)).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), r(5))
          .as("o_orderpriority"))
      case "lineitem" => base.select(
        upTo(rows("orders", sf), r(1)).as("l_orderkey"),
        upTo(rows("part", sf), r(2)).as("l_partkey"),
        upTo(rows("supplier", sf), r(3)).as("l_suppkey"),
        (upTo(7, r(4)) + 1).cast("int").as("l_linenumber"),
        (upTo(50, r(5)) + 1).cast("double").as("l_quantity"),
        money(900.0, 105000.0, r(6)).as("l_extendedprice"),
        (upTo(11, r(7)) / 100.0).as("l_discount"),
        (upTo(9, r(8)) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), r(9)).as("l_returnflag"),
        pick(Seq("F", "O"), r(10)).as("l_linestatus"),
        day("1995-01-02", 2499, r(11)).as("l_shipdate"))
      case "events" => base.select(id.as("event_id"),
        // 2024-01-01T00:00:00Z plus up to 30 days, as a naive timestamp
        timestamp_micros(lit(1704067200000000L) + (r(1) * 30 * 86400e6).cast("long"))
          .cast("timestamp_ntz").as("ts"),
        upTo(math.max(15L, (15000 * sf).toLong), r(2)).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), r(3)).as("event_type"),
        money(0.01, 490.02, r(4)).as("value"),
        format_string("{\"k\": %d}", upTo(100, r(5))).as("props"))
      case "documents" =>
        // ~5% near-duplicates: an earlier document's text plus a marker
        // word, so the dedup/near-dup pipelines find real clusters
        val src = when(r(1) < 0.05 && id > 0, upTo(1L << 40, r(2)) % id).otherwise(id)
        def text(of: Column): Column = {
          val len = (lit(10) + (u(seed, t, 3, of) * 91).cast("int"))
          concat_ws(" ", transform(sequence(lit(1), len), i =>
            element_at(array(words.map(lit): _*),
              (pmod(xxhash64(lit(seed), lit(t), of, i), lit(words.size.toLong)) + 1).cast("int"))))
        }
        base.select(id.as("doc_id"),
            when(src =!= id, concat(text(src), lit(" dup"))).otherwise(text(id)).as("text"),
            pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), r(4)).as("lang"),
            concat(lit("src"), upTo(20, r(5)).cast("string")).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        val label = upTo(10, r(1)).cast("int")
        base.select(id.as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            ((pmod(xxhash64(lit(seed), lit("centroid"), label, d), lit(1000L)) / 1000.0 - 0.5) * 0.2
              + (pmod(xxhash64(lit(seed), lit(t), id, d), lit(1000L)) / 1000.0 - 0.5) * 0.45)
              .cast("float")).as("embedding"),
          label.as("label"))
    }
  }
}
