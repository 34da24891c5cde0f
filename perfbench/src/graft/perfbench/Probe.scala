package graft.perfbench

import java.io.{ByteArrayOutputStream, FileInputStream}

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{PipelineKernels, SeqOps}
import graft.sources.{Formats, GraftIO, TabixIndex}
import graft.sources.core.{BgzfBlockStream, BgzfOutputStream, GraftTable}

/** Direct calls into the sources and functions layers, made at the end
  * of a traced run: schema inference and split planning on the DSv2
  * source, single-thread BGZF inflate/deflate, narrow region queries,
  * and the per-row kernels on generated inputs. The sources probes run
  * only on the files genomic_io wrote, the kernel probes only on the
  * workloads whose ops call those kernels; elsewhere the metrics read 0. */
object Probe {

  final case class Files(vcf: String, fastq: String, bam: String)

  private val SourceMetrics = Seq(
    "sources.infer_schema_ms" -> "ms", "sources.plan_partitions_ms" -> "ms",
    "sources.input_partitions" -> "count", "sources.region_rows_per_record_read" -> "ratio",
    "sources.region_bytes_read" -> "bytes", "sources.bgzf_inflate_mb_per_s" -> "MB/s",
    "sources.bgzf_deflate_mb_per_s" -> "MB/s")
  private val Kernels = Seq("gc_content", "quality_decode", "parse_cigar", "reverse_complement",
    "cosine", "min_gram_hash")

  private def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def run(ctx: Ctx, files: Option[Files], kernels: Boolean): Seq[(String, Double, String)] =
    files.map(sources(ctx, _)).getOrElse(SourceMetrics.map { case (n, u) => (n, 0.0, u) }) ++
      (if (kernels) functions(ctx.seed) else Kernels.map(k => (s"functions.${k}_ns", 0.0, "ns")))

  private def sources(ctx: Ctx, files: Files): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val byFormat = Seq("vcf" -> files.vcf, "fastq" -> files.fastq, "bam" -> files.bam)

    // plan side: schema inference, then split planning straight on the table
    val infer = byFormat.map { case (f, p) => timeMs(spark.read.format(f).load(p).schema)._2 }
    val partitions = byFormat.map { case (f, p) =>
      val fmt = Formats.byName(f)
      val schema = spark.read.format(f).load(p).schema
      timeMs(GraftTable(fmt, schema, Map("path" -> p))
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch.planInputPartitions().length)
    }

    // codec side, one thread: inflate a written part, deflate it back
    val vcfParts = new java.io.File(files.vcf).listFiles().filter(_.getName.endsWith(".vcf.gz"))
    val part = vcfParts.maxBy(_.length())
    val (raw, inflateMs) = timeMs {
      val in = new FileInputStream(part)
      val bs = new BgzfBlockStream(in, 0, () => in.close())
      try bs.readAllBytes() finally bs.close()
    }
    val deflateMs = timeMs {
      val out = new BgzfOutputStream(new ByteArrayOutputStream(raw.length / 3))
      out.write(raw); out.close()
    }._2
    val mb = raw.length / 1048576.0

    // index pruning: the compressed bytes the tabix index sends a narrow
    // region query to (its chunks, each rounded up by one average BGZF
    // block) and the share of the records in them the query returns
    val vcfBytes = vcfParts.map(_.length()).sum.toDouble
    val vcfRecords = GraftIO.read_vcf_file_records(spark, files.vcf).count().toDouble
    val avgBlock = 0xff00 * part.length().toDouble / raw.length
    val conf = spark.sessionState.newHadoopConf()
    val indexes = vcfParts.toSeq.flatMap(p => TabixIndex.load(p.getPath, conf))
    val rng = new scala.util.Random(ctx.seed)
    val regions = (1 to 20).map { _ =>
      val c = 1 + rng.nextInt(8)
      val lo = 1 + rng.nextInt(100000)
      val region = s"chr$c:$lo-${lo + 5000}"
      val rows = GraftIO.vcf_query(spark, files.vcf, region).agg(count(lit(1))).head().getLong(0)
      val bytes = indexes.flatMap(_.queryByName(s"chr$c", lo - 1L, lo + 5000L))
        .map(ch => ((ch.end >> 16) - (ch.beg >> 16)) + avgBlock).sum
      (rows, bytes)
    }
    val regionBytes = regions.map(_._2).sum
    val decoded = regionBytes * vcfRecords / vcfBytes

    SourceMetrics.zip(Seq(
      infer.sum / infer.size,
      partitions.map(_._2).sum / partitions.size,
      partitions.map(_._1).sum.toDouble,
      if (decoded == 0) 0.0 else regions.map(_._1).sum / decoded,
      regionBytes / regions.size,
      mb / (inflateMs / 1000),
      mb / (deflateMs / 1000))).map { case ((n, u), v) => (n, v, u) }
  }

  /** ns per call of each kernel, single thread, on seeded inputs. */
  private def functions(seed: Long): Seq[(String, Double, String)] = {
    val rng = new scala.util.Random(seed)
    val n = 20000
    def dna(len: Int) = UTF8String.fromString(Array.fill(len)("ACGT"(rng.nextInt(4))).mkString)
    val seqs = Array.fill(n)(dna(100))
    val quals = Array.fill(n)(UTF8String.fromString(Array.fill(100)((33 + rng.nextInt(41)).toChar).mkString))
    val cigars = Array.fill(n)(UTF8String.fromString(Seq("100M", "12S88M", "40M3I57M", "55M2D45M", "30M1200N70M")(rng.nextInt(5))))
    val vecs = Array.fill(n / 10)(new GenericArrayData(Array.fill[Any](64)(rng.nextGaussian())))
    val words = Array("a", "agg", "batch", "big", "column", "data", "fast", "hash", "join", "key")
    val tokens = Array.fill(n / 10)(new GenericArrayData(
      Array.fill[Any](60)(UTF8String.fromString(words(rng.nextInt(words.length))))))
    var sink = 0.0
    def perCall(reps: Int, count: Int)(f: Int => Double): Double = {
      (1 to 2).foreach(_ => (0 until count).foreach(i => sink += f(i))) // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => (0 until count).foreach(i => sink += f(i)))
      (System.nanoTime() - t0).toDouble / (reps.toLong * count)
    }
    val out = Seq(
      perCall(5, n)(i => SeqOps.gcContent(seqs(i))),
      perCall(5, n)(i => SeqOps.qualityScoreStringToList(quals(i)).numElements()),
      perCall(5, n)(i => SeqOps.parseCigar(cigars(i)).numElements()),
      perCall(5, n)(i => SeqOps.reverseComplement(seqs(i)).numBytes()),
      perCall(5, vecs.length)(i => PipelineKernels.cosine(vecs(i), vecs((i + 1) % vecs.length))),
      perCall(5, tokens.length)(i => PipelineKernels.minGramHash(tokens(i), 5).toDouble))
    if (sink == 42.0) System.err.println("") // keep the results live
    Kernels.zip(out).map { case (k, v) => (s"functions.${k}_ns", v, "ns") }
  }
}
