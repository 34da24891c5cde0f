package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions
import graft.sources.GraftIO

/** Seeded VCF, FASTQ and BAM records, held in memory as cached
  * DataFrames. Every value is a function of (seed, row id).
  *
  * Record shapes follow the repository's own fixtures. VCF records are
  * shaped like `src/test/resources/fixtures/vcf/samples.vcf`: INFO DP,
  * FORMAT GT:GQ, and genotype columns for four samples, declared by
  * ##FORMAT lines so a reader decodes them into `genotypes_typed`.
  * Reads are shaped like `fixtures/sam/example.sam`: paired and unpaired
  * flags with the mate reference set on paired reads, a spread of MAPQ
  * values, soft clips, insertions, deletions and spliced (N) CIGARs whose
  * query length matches the 100 bp sequence. FASTQ records carry a
  * description on half the reads, as `fixtures/fastq/test.fastq` does.
  *
  * Records come out in (chrom, pos) order and `spark.range` slices them
  * into equal contiguous parts, so each written part file is sorted
  * (tabix-indexable without a shuffle) and the parts are even. */
final class GenomicData(spark: SparkSession, seed: Long, val vcfN: Long,
                        val readsN: Long, parts: Int) {
  val contigs = 8
  val samples = 4
  private val vcfPerContig = vcfN / contigs
  private val readsPerContig = readsN / contigs
  val gap = 50L // mean distance between VCF records
  val contigLen: Long = vcfPerContig * gap + gap

  private def h(tag: String, args: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: args): _*)
  private def pick(tag: String, n: Long, args: Column*): Column = pmod(h(tag, args: _*), lit(n))

  // reads are 100-character windows at seeded offsets into one seeded
  // 16 kb reference (and one quality track), like reads off a genome;
  // a UDF cuts them, since substr over a 16 kb literal takes seconds
  private val rnd = new scala.util.Random(seed)
  private val reference = Array.fill(16384)("ACGT"(rnd.nextInt(4))).mkString
  private val qualities = Array.fill(16384)((33 + rnd.nextInt(41)).toChar).mkString
  private def slice(track: String, tag: String): Column = {
    val window = udf((off: Long) => track.substring(off.toInt, off.toInt + 100))
    window(pick(tag, track.length - 100L, col("id")))
  }

  val refs: String = (1 to contigs).map(c => s"chr$c:$contigLen").mkString(",")

  val vcf: DataFrame = {
    val id = col("id")
    val snpRef = element_at(array(lit("A"), lit("C"), lit("G"), lit("T")),
      (pick("ref", 4, id) + 1).cast("int"))
    // per sample: half hom-ref, 30% het, 15% hom-alt, 5% no call
    val gts = (0 until samples).map { s =>
      val g = pick("gt", 100, id, lit(s))
      struct(
        when(g < 50, lit("0/0")).when(g < 80, lit("0/1")).when(g < 95, lit("1/1"))
          .otherwise(lit("./.")).as("gt"),
        pick("gq", 100, id, lit(s)).cast("int").as("gq"))
    }
    spark.range(0, vcfPerContig * contigs, 1, parts).select(
      concat(lit("chr"), (id / vcfPerContig + 1).cast("long").cast("string")).as("chrom"),
      ((id % vcfPerContig) * gap + 1 + pick("pos", gap, id)).as("pos"),
      concat(lit("rs"), id.cast("string")).as("id"),
      // one record in ten is a short deletion
      when(pick("indel", 10, id) === 0, concat(snpRef, lit("TG"))).otherwise(snpRef).as("ref"),
      array(when(snpRef === "A", lit("G")).otherwise(lit("A"))).as("alt"),
      (pick("qual", 600, id) / 10.0).cast("float").as("qual"),
      lit("PASS").as("filter"),
      struct((pick("dp", 100, id) + 1).cast("int").as("dp")).as("info"),
      lit("GT:GQ").as("format"),
      array(gts: _*).as("genotypes_typed"))
      .withColumn("genotypes", transform(col("genotypes_typed"),
        g => concat(g("gt"), lit(":"), g("gq").cast("string"))))
      .select("chrom", "pos", "id", "ref", "alt", "qual", "filter", "info",
        "format", "genotypes", "genotypes_typed")
      .persist(StorageLevel.MEMORY_ONLY)
  }

  private val flags = Seq(0, 16, 99, 147, 83, 163, 1024, 272)

  val reads: DataFrame = {
    val id = col("id")
    val flag = element_at(array(flags.map(lit): _*), (pick("flag", flags.size, id) + 1).cast("int"))
    // CIGAR: optional leading soft clip, then M, an optional I, D or N
    // gap, M; query length (S + M + I) is always 100
    val clip = when(pick("clip", 5, id) === 0, pick("cliplen", 15, id) + 1).otherwise(lit(0L))
    val kind = pick("gapkind", 10, id) // 0-5 none, 6-7 I, 8 D, 9 N
    val gapLen = when(kind === 9, pick("gaplen", 2000, id) + 100).otherwise(pick("gaplen", 6, id) + 1)
    val ins = when(kind.between(6, 7), gapLen).otherwise(lit(0L))
    // M blocks of at least 5 bases, under the longest clip (15) and insertion (6)
    val m1 = pick("m1", 100 - 15 - 6 - 10 + 1, id) + 5
    val m2 = lit(100L) - clip - m1 - ins
    val gapOp = when(kind.between(6, 7), lit("I")).when(kind === 8, lit("D")).otherwise(lit("N"))
    val clipText = when(clip > 0, concat(clip.cast("string"), lit("S"))).otherwise(lit(""))
    val cigar = when(kind < 6, concat(clipText, (lit(100L) - clip).cast("string"), lit("M")))
      .otherwise(concat(clipText, m1.cast("string"), lit("M"), gapLen.cast("string"), gapOp,
        m2.cast("string"), lit("M")))
    val ops = when(clip > 0, lit(1)).otherwise(lit(0)) + when(kind < 6, lit(1)).otherwise(lit(3))
    val refSpan = lit(100L) - clip - ins + when(kind >= 8, gapLen).otherwise(lit(0L))
    // starts leave room for the longest reference span (100 + a 2,099 N gap)
    val start = ((id % readsPerContig) * (contigLen - 2300) / readsPerContig).cast("long").plus(1)
    val chrom = concat(lit("chr"), (id / readsPerContig + 1).cast("long").cast("string"))
    // MAPQ: one read in ten unplaceable (0), the rest spread over 1-60
    val mapq = when(pick("mapq0", 10, id) === 0, lit(0L)).otherwise(pick("mapq", 60, id) + 1)
    spark.range(0, readsPerContig * contigs, 1, parts).select(
      concat(lit("r"), id.cast("string")).as("name"),
      flag.as("flag"),
      chrom.as("reference"),
      start.as("start"),
      (start + refSpan - 1).as("end"),
      mapq.cast("string").as("mapping_quality"),
      cigar.as("cigar"),
      ops.as("cigar_ops"),
      when((flag bitwiseAND 1) =!= 0, chrom).otherwise(lit(null).cast("string")).as("mate_reference"),
      slice(reference, "seq").as("sequence"),
      slice(qualities, "qual").as("quality_score"),
      when(id % 2 === 0, concat(lit("lane:"), (id % 8).cast("string"))).as("description"))
      .persist(StorageLevel.MEMORY_ONLY)
  }

  def bamRows: DataFrame = reads.drop("cigar_ops", "description")
  def fastqRows: DataFrame = reads.select(col("name"), col("description"),
    col("sequence"), col("quality_score").as("quality_scores"))

  // filters each scan pushes down, applied identically to the generator
  val vcfFilter: Column = col("qual") >= 20.0f
  val bamFilter: Column = col("flag") =!= 1024
  val fastqFilter: Column = col("name").startsWith("r1")

  /** Expected answers, computed over the in-memory records without any
    * graft reader: (rows, position or length sum, extra check). */
  lazy val vcfExpect: Seq[Long] = {
    val r = vcf.where(vcfFilter).agg(count(lit(1)), sum("pos"),
      sum(GenomicData.gqSum(col("genotypes_typed"))),
      sum(GenomicData.altAlleles(col("genotypes_typed")))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }
  lazy val bamExpect: Seq[Long] = {
    val r = reads.where(bamFilter).agg(count(lit(1)), sum("start"),
      sum(when((col("flag") bitwiseAND 16) =!= 0, 1L).otherwise(0L)), sum("cigar_ops")).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }
  lazy val fastqExpect: Seq[Long] = {
    val phred = udf((q: String) => q.foldLeft(0L)((a, c) => a + c - 33))
    val r = reads.where(fastqFilter).agg(count(lit(1)), sum(length(col("sequence"))),
      sum(phred(col("quality_score")))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** (contig index, pos) of every VCF record, for brute-force regions. */
  lazy val positions: Array[(Int, Long)] =
    vcf.select(substr(col("chrom"), lit(4)).cast("int"), col("pos")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))

  def materialize(): Unit = { vcf.count(); reads.count() }
}

object GenomicData {
  /** Σ GQ over a record's typed genotypes. */
  def gqSum(gts: Column): Column = aggregate(gts, lit(0L), (a, g) => a + coalesce(g("gq"), lit(0)))
  /** Alternate alleles called over a record's typed genotypes. */
  def altAlleles(gts: Column): Column = aggregate(gts, lit(0L),
    (a, g) => a + length(g("gt")) - length(regexp_replace(g("gt"), lit("1"), lit(""))))
}

/** genomic_io: the paper's core path at a size where decode, BGZF
  * inflate/deflate, split planning and index pruning do the work.
  * One pass = write (VCF bgzf+tabix, FASTQ bgzf, BAM), full scans with
  * graft scalar functions and a pushed-down filter, a micro-batch
  * stream over the written VCF parts, then narrow tabix region queries
  * through vcf_query. Writes sit beside reads, so a
  * codec change that helps one and costs the other shows. The registry
  * parquet tables are never touched. */
object Genomic {

  val VcfRecords = 240000L
  val Reads = 240000L
  val Regions = 55
  val WarmRegions = 5

  def run(ctx: Ctx): Option[Result] = {
    val spark = ctx.spark
    val data = new GenomicData(spark, ctx.seed, VcfRecords, Reads, ctx.cores)
    data.materialize()
    ctx.log("records generated")
    val (vcfE, bamE, fqE) = (data.vcfExpect, data.bamExpect, data.fastqExpect)
    val regions = (0 until Regions).map { _ =>
      val c = 1 + ctx.rng.nextInt(data.contigs)
      val w = 1000 + ctx.rng.nextInt(19000)
      val lo = 1 + (ctx.rng.nextDouble() * (data.contigLen - w)).toLong
      (c, lo, lo + w)
    }
    // brute force over the in-memory records: no index, no reader
    val pos = data.positions
    val regionWant = regions.map { case (c, lo, hi) =>
      val in = pos.filter { case (pc, p) => pc == c && p >= lo && p <= hi }
      (in.length.toLong, in.map(_._2).sum)
    }
    val out = ctx.tmp("genomic")
    val vcfDir = s"$out/vcf"
    val fqDir = s"$out/fastq"
    val bamDir = s"$out/bam"
    def writeAll(client: Client): Unit = {
      client.op("write vcf", "write") {
        data.vcf.write.mode("overwrite").option("compression", "bgzf")
          .option("index", "tabix").format("vcf").save(vcfDir)
        true
      }
      client.op("write fastq", "write") {
        data.fastqRows.write.mode("overwrite").option("compression", "bgzf")
          .format("fastq").save(fqDir)
        true
      }
      client.op("write bam", "write") {
        data.bamRows.write.mode("overwrite").option("refs", data.refs).format("bam").save(bamDir)
        true
      }
    }
    def scans(client: Client): Unit = {
      client.op("scan vcf", "scan") {
        val r = GraftIO.read_vcf_file_records(spark, vcfDir).where(data.vcfFilter)
          .agg(count(lit(1)), sum("pos"), sum(GenomicData.gqSum(col("genotypes_typed"))),
            sum(GenomicData.altAlleles(col("genotypes_typed"))),
            sum(GraftFunctions.gc_content(col("ref")))).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == vcfE
      }
      client.op("scan bam", "scan") {
        val r = GraftIO.read_bam_file_records(spark, bamDir).where(data.bamFilter)
          .agg(count(lit(1)), sum("start"),
            sum(when(call_function("is_reverse_complemented", col("flag")), 1L).otherwise(0L)),
            sum(size(GraftFunctions.parse_cigar(col("cigar"))))).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == bamE
      }
      client.op("scan fastq", "scan") {
        val r = GraftIO.read_fastq(spark, fqDir).where(data.fastqFilter)
          .agg(count(lit(1)), sum(length(col("sequence"))),
            sum(aggregate(GraftFunctions.quality_score_string_to_list(col("quality_scores")),
              lit(0L), (a, b) => a + b)),
            sum(GraftFunctions.gc_content(col("sequence")))).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2)) == fqE
      }
    }
    // micro-batches over the written VCF parts through graft's own
    // streaming source: two parts per trigger into a stateful aggregate
    var streams = 0
    def stream(client: Client): Unit = client.op("stream vcf", "stream") {
      streams += 1
      val name = s"perfbench_vcf_stream_$streams"
      val q = spark.readStream.format("vcf").option("maxFilesPerTrigger", "2").load(vcfDir)
        .where(data.vcfFilter).groupBy().agg(count(lit(1)).as("n"), sum("pos").as("s"))
        .writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", ctx.tmp(s"checkpoint-$streams"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val r = spark.table(name).head()
      spark.catalog.dropTempView(name)
      Seq(r.getLong(0), r.getLong(1)) == vcfE.take(2)
    }
    def regionQueries(client: Client, n: Int = Regions): Unit =
      regions.zip(regionWant).take(n).foreach { case ((c, lo, hi), want) =>
        client.op(s"vcf_query chr$c:$lo-$hi", "query") {
          val r = GraftIO.vcf_query(spark, vcfDir, s"chr$c:$lo-$hi")
            .agg(count(lit(1)), coalesce(sum("pos"), lit(0L))).head()
          (r.getLong(0), r.getLong(1)) == want
        }
      }
    // warm-up: one untimed pass through every path, fewer region queries
    val warm = new Client(ctx, new Tracer(spark, false))
    writeAll(warm); scans(warm); stream(warm); regionQueries(warm, WarmRegions)
    ctx.log("warm-up pass done")
    val setup = ctx.sinceStart
    val files = Probe.Files(vcfDir, fqDir, bamDir)
    // pass_wall_s: the write, scan and stream ops; the region queries
    // have their own latency percentiles
    Some(Workloads.timed(ctx, setup, Set("write", "scan", "stream"),
        () => Probe.run(ctx, Some(files), kernels = true), formatRates(data.vcfN, data.readsN)) { client =>
      writeAll(client); scans(client); stream(client); regionQueries(client)
    })
  }

  /** Per-format throughput and codec cost per record, from the traced
    * phase's write and scan ops (zero in workloads that have none). */
  def formatRates(vcfN: Long, readsN: Long)(tracer: Tracer, spans: Seq[Span]): Seq[(String, Double, String)] = {
    val ops = spans.filter(_.parent == -1)
    def opMs(prefix: String) = ops.filter(_.name.startsWith(prefix)).map(_.duration)
    def rate(name: String, n: Long) = {
      val ms = opMs(name)
      if (ms.isEmpty) 0.0 else n / (Stats.median(ms) / 1000.0)
    }
    def cpuNs(prefix: String) = ops.filter(_.name.startsWith(prefix))
      .flatMap(s => tracer.perEntry.get(s.entry)).map(_.cpuNs).sum.toDouble
    val passes = opMs("write vcf").size
    val perPass = vcfN + 2 * readsN
    def perRecord(ns: Double) = if (passes == 0) 0.0 else ns / (perPass * passes)
    Seq(
      ("sources.write_records_per_s", if (passes == 0) 0.0 else perPass / (opMs("write ").sum / passes / 1000.0), "1/s"),
      ("sources.vcf_scan_records_per_s", rate("scan vcf", vcfN), "1/s"),
      ("sources.bam_scan_records_per_s", rate("scan bam", readsN), "1/s"),
      ("sources.fastq_scan_records_per_s", rate("scan fastq", readsN), "1/s"),
      ("sources.decode_cpu_ns_per_record", perRecord(cpuNs("scan ")), "ns"),
      ("sources.encode_cpu_ns_per_record", perRecord(cpuNs("write ")), "ns"))
  }
}
