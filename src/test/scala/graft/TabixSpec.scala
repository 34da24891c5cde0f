package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.GraftIO
import graft.sources.core.GraftInputPartition

/** Tabix-indexed region pruning: the fast path must (a) return exactly
  * the rows the full-scan+filter baseline returns, and (b) plan only
  * index-chunk partitions instead of reading the whole file. */
class TabixSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val P = "src/test/resources/fixtures/vcf/indexed.vcf.gz"

  private def partitions(df: org.apache.spark.sql.DataFrame): Seq[GraftInputPartition] = {
    df.collect()
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[GraftInputPartition])
  }

  private def baseline(region: String): Seq[String] = {
    val (chr, lo, hi) = graft.sources.VcfFormat.parseRegion(region)
    GraftIO.read_vcf_file_records(spark, P)
      .where(s"chrom = '$chr' AND pos >= $lo AND pos <= $hi")
      .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
  }

  test("indexed query == scan+filter baseline across region shapes") {
    for (region <- Seq("1", "2", "1:100000-500000", "2:1-2000", "1:1596930-1596930", "1:9999999-19999999")) {
      val got = GraftIO.vcf_query(spark, P, region)
        .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
      assert(got == baseline(region), region)
    }
    assert(GraftIO.vcf_query(spark, P, "chrX").count() == 0)
  }

  test("region query WITHOUT an index parallelizes over BGZF splits, same results") {
    // un-indexed bgzipped VCF larger than maxPartitionBytes: the region
    // fallback is a parallel block-split scan + filter, not one task
    val header = "##fileformat=VCFv4.2\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"d\">\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n"
    val body = (1 to 400).map(i => s"chr${i % 2}\t${i * 5}\t.\tA\tG\t1.0\tPASS\tDP=$i")
      .mkString("", "\n", "\n")
    val d = java.nio.file.Files.createTempDirectory("graft-noidx")
    val p = d.resolve("noidx.vcf.gz")
    val out = new graft.sources.core.BgzfOutputStream(java.nio.file.Files.newOutputStream(p))
    (header + body).split("\n").foreach { l =>
      out.write((l + "\n").getBytes("UTF-8")); out.flush()
    }
    out.close()
    val k = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(k)
    spark.conf.set(k, "700")
    try {
      val df = GraftIO.vcf_query(spark, p.toString, "chr1:500-1500")
      assert(df.rdd.getNumPartitions > 5, "expected block-split fallback scan")
      val got = df.selectExpr("pos").collect().map(_.getLong(0)).sorted
      // chr1 rows are odd i (i*5 odd-indexed): pos in [500,1500] with pos=5i, i odd
      val want = (1 to 400).filter(i => i % 2 == 1 && i * 5 >= 500 && i * 5 <= 1500)
        .map(_ * 5L).toArray
      assert(got.toSeq == want.toSeq)
    } finally spark.conf.set(k, old)
  }

  test("BAI-indexed bam_query == scan+filter baseline") {
    val bam = "src/test/resources/fixtures/bam/indexed.bam"
    for (region <- Seq("ref1", "chr1", "chr1:1000000-9000000", "ref1:1-5000", "chr1:39999999-40000000")) {
      val got = GraftIO.bam_query(spark, bam, region)
        .selectExpr("name", "start", "end").collect().map(_.toString).sorted.toSeq
      val (chr, lo, hi) = graft.sources.VcfFormat.parseRegion(region)
      val base = GraftIO.read_bam_file_records(spark, bam)
        .where(s"reference = '$chr' AND start <= ${hi}L AND coalesce(end, start) >= ${lo}L")
        .selectExpr("name", "start", "end").collect().map(_.toString).sorted.toSeq
      assert(got == base, region)
    }
    val parts = partitions(GraftIO.bam_query(spark, bam, "chr1:1000000-9000000"))
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk))
  }

  test("CSI-indexed bcf_query == scan+filter baseline") {
    val bcf = "src/test/resources/fixtures/vcf/indexed.bcf"
    for (region <- Seq("1", "2", "1:2000000-20000000", "2:1-5000")) {
      val got = GraftIO.bcf_query(spark, bcf, region)
        .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
      val (chr, lo, hi) = graft.sources.VcfFormat.parseRegion(region)
      val base = GraftIO.read_bcf_file_records(spark, bcf)
        .where(s"chrom = '$chr' AND pos >= ${lo}L AND pos <= ${hi}L")
        .selectExpr("chrom", "pos", "info.dp").collect().map(_.toString).sorted.toSeq
      assert(got == base, region)
    }
    val parts = partitions(GraftIO.bcf_query(spark, bcf, "1:2000000-20000000"))
    assert(parts.nonEmpty && parts.forall(_.bgzfChunk))
  }

  test("narrow region plans few chunk partitions; whole contig plans many") {
    val narrow = partitions(GraftIO.vcf_query(spark, P, "1:100000-110000"))
    assert(narrow.nonEmpty && narrow.forall(_.bgzfChunk))
    val whole = partitions(GraftIO.vcf_query(spark, P, "1"))
    assert(narrow.map(p => p.end - p.start).sum < whole.map(p => p.end - p.start).sum,
      s"narrow=${narrow.length} whole=${whole.length}")
    // unindexed sibling file keeps the fallback single-partition plan
    val fallback = partitions(GraftIO.vcf_query(spark, "src/test/resources/fixtures/vcf/test.vcf.gz", "1"))
    assert(fallback.forall(!_.bgzfChunk))
  }

  test("BGZF range reads return exactly the inflated bytes of [startVoff, endVoff)") {
    import graft.sources.core.{Bgzf, BgzfOutputStream, GraftFiles}
    // two concatenated BGZF streams of 3000-byte blocks: the first
    // stream's empty EOF-marker block sits in the middle of the file
    def bgzf(payload: Array[Byte]): Array[Byte] = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new BgzfOutputStream(bytes)
      payload.grouped(3000).foreach { c => out.write(c); out.flush() }
      out.close()
      bytes.toByteArray
    }
    val rnd = new scala.util.Random(7)
    val payload = Array.fill(20000)("ACGT\n".charAt(rnd.nextInt(5)).toByte)
    val file = bgzf(payload.take(12000)) ++ bgzf(payload.drop(12000))
    val inflated = Bgzf.inflateAll(file)
    assert(inflated.sameElements(payload))
    // (compressed offset, uncompressed offset, inflated length) per block
    val blocks = {
      val in = new java.io.ByteArrayInputStream(file)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var c = 0L
      var u = 0L
      var b = Bgzf.readBlock(in)
      while (b != null) {
        out += ((c, u, b._2.length))
        c += b._1
        u += b._2.length
        b = Bgzf.readBlock(in)
      }
      out.toIndexedSeq
    }
    assert(blocks.map(_._3) == Seq(3000, 3000, 3000, 3000, 0, 3000, 3000, 2000, 0))
    val p = java.nio.file.Files.createTempFile("graft-range", ".vcf.gz")
    p.toFile.deleteOnExit()
    java.nio.file.Files.write(p, file)

    def voff(block: Int, intra: Int): Long = (blocks(block)._1 << 16) | intra.toLong
    def uoff(block: Int, intra: Int): Int = (blocks(block)._2 + intra).toInt
    val ranges = Seq(
      ((0, 1234), (1, 2000)), // start in the middle of a block
      ((1, 0), (3, 0)),       // end at a block boundary (intra offset 0)
      ((2, 10), (2, 2999)),   // end in the middle of a block
      ((2, 500), (6, 100)),   // crosses the empty block
      ((3, 2500), (5, 0)))    // ends at the block after the empty one
    for (((sb, si), (eb, ei)) <- ranges) {
      val raw = GraftFiles.open(p.toString, new org.apache.hadoop.conf.Configuration())
      val in = Bgzf.openChunk(raw, voff(sb, si), voff(eb, ei))
      val got = try {
        // one single-byte read, then bulk reads
        val first = in.read()
        Array(first.toByte) ++ in.readAllBytes()
      } finally in.close()
      val want = inflated.slice(uoff(sb, si), uoff(eb, ei))
      assert(got.sameElements(want),
        s"[($sb,$si), ($eb,$ei)): ${got.length} bytes, wanted ${want.length}")
    }
  }
}
