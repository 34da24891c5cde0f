package graft.tools

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.VcfFormat
import graft.sources.core.GraftSplit

/** Where does fmt_vcf_scan wall actually go? This probe splits the
  * scan into its layers on one generated ~VCF:
  *
  *   A. raw IO floor    — BufferedReader line iteration, count chars
  *   B. parse floor     — VcfFormat.read() drained single-thread
  *                        (P.lines + parseRecord, the real parser)
  *   C. pruned parse    — same with neededCols={chrom,pos} (runtime
  *                        pruning skips info/genotype materialization)
  *   D. Spark row scan  — full fmt-vcf read through the DSv2 source
  *
  * B−A is parse CPU; B−C is the share the expensive columns cost;
  * D vs B/threads is framework + row-conversion overhead. Numbers go
  * to BENCH_NOTES.md.
  *
  *   sbt "Test/runMain graft.tools.VcfParseProbe 800000"
  */
object VcfParseProbe {

  def main(args: Array[String]): Unit = {
    val vrecords = args.headOption.map(_.toInt).getOrElse(800000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // alt array + header-typed info (flag, scalar int, Number=A float
    // array) + genotypes so the sample columns exist
    val dir = Files.createTempDirectory("graft-vcfprobe")
    val vp = dir.resolve("big.vcf")
    val vout = new java.io.BufferedOutputStream(Files.newOutputStream(vp), 1 << 20)
    vout.write(("##fileformat=VCFv4.2\n" +
      "##INFO=<ID=INDEL,Number=0,Type=Flag,Description=\"indel\">\n" +
      "##INFO=<ID=DP,Number=1,Type=Integer,Description=\"depth\">\n" +
      "##INFO=<ID=AF,Number=A,Type=Float,Description=\"afs\">\n" +
      "##FORMAT=<ID=GT,Number=1,Type=String,Description=\"gt\">\n" +
      "##FORMAT=<ID=DP,Number=1,Type=Integer,Description=\"dp\">\n" +
      "##contig=<ID=1>\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\n").getBytes)
    var i = 0
    while (i < vrecords) {
      val alt = if (i % 3 == 0) "C,T" else "G"
      val info = if (i % 5 == 0) s"INDEL;DP=${i % 97}"
        else if (i % 3 == 0) s"DP=${i % 97};AF=0.5,0.25" else s"DP=${i % 97};AF=0.125"
      vout.write((s"1\t${100 + i}\t.\tA\t$alt\t30\tPASS\t$info" +
        s"\tGT:DP\t0/1:${i % 50}\t1/1:${(i + 7) % 50}\n").getBytes)
      i += 1
    }
    vout.close()
    val fileLen = Files.size(vp)
    println(f"[vcfprobe] ${fileLen / 1e6}%.0f MB, $vrecords records")

    def timed(label: String)(body: => Long): Double = {
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[vcfprobe] $label%-34s $sec%7.2f s  (n=$n)")
      sec
    }

    val conf = new Configuration()
    val opts = Map("samples" -> "true")
    val schema = VcfFormat.schema(Seq(new Path(vp.toString)), conf, opts)
    def split(needed: Option[Set[String]]) =
      GraftSplit(vp.toString, 0, fileLen, fileLen, conf = conf, neededCols = needed)
    def drain(needed: Option[Set[String]]): Long = {
      val in = Files.newInputStream(vp)
      try {
        val it = VcfFormat.read(split(needed), schema, in, opts)
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      } finally in.close()
    }

    // warm JIT on every path once before measuring
    timed("warmup parse (full)")(drain(None))
    val aio = timed("A raw line iteration") {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(Files.newInputStream(vp)), 1 << 20)
      var n = 0L; var l = r.readLine()
      while (l != null) { n += l.length; l = r.readLine() }
      r.close(); n
    }
    val bParse = (1 to 3).map(_ => timed("B full parse (single thread)")(drain(None))).min
    val cPruned = (1 to 3).map(_ => timed("C pruned parse {chrom,pos}")(
      drain(Some(Set("chrom", "pos"))))).min
    def sparkScan(): Double = {
      val o = opts + ("maxsplitbytes" -> (16L << 20).toString)
      val df = graft.sources.GraftIO.read_vcf_file_records(spark, vp.toString, o)
      val t0 = System.nanoTime()
      df.selectExpr("count(*)", "sum(info.dp)", "sum(size(alt))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    sparkScan() // warm
    val dRow = (1 to 3).map(_ => sparkScan()).min
    println(f"[vcfprobe] D spark rows ($cpus threads)      $dRow%7.2f s")
    println(f"[vcfprobe] parse CPU = ${bParse - aio}%.2f s of $bParse%.2f s single-thread; " +
      f"expensive-col share = ${bParse - cPruned}%.2f s; " +
      f"framework+conversion ≈ D − B/threads = ${dRow - bParse / cpus.toInt}%.2f s")
    spark.stop()
  }
}
