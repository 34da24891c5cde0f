package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent answer check: (row count, digest), where the
  * digest is the sum modulo 2^64 of one 64-bit hash per row. Floating
  * values are rounded to single precision before hashing so that a
  * different summation order across partitions (last-bit noise) does
  * not read as a wrong answer; maps are hashed as key-sorted entry
  * arrays because their entry order is not part of the value.
  *
  * Computing it is one full materialization of every column — the
  * same work a noop-sink write does — so the timed action of a
  * registry entry is exactly this aggregate.
  */
object Digest {

  final case class Answer(rows: Long, digest: String) {
    override def toString: String = s"$rows:$digest"
  }

  object Answer {
    def parse(s: String): Answer = {
      val i = s.indexOf(':')
      Answer(s.substring(0, i).toLong, s.substring(i + 1))
    }
  }

  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      // -0.0 and 0.0 are one value; NaN hashes as itself
      val f = c.cast(FloatType)
      when(f === 0.0f, lit(0.0f)).otherwise(f)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case st: StructType if st.fields.exists(f => needsCanon(f.dataType)) =>
      struct(st.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case st: StructType => st.fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** One 64-bit hash per row over every column, in column order. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(df.col(f.name), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** Row count and digest in ONE job of one stage: each partition
    * returns (rows, wrapping sum of its row hashes) and the driver adds
    * the partials — a shuffle into a final aggregate would add a job
    * and a stage to every registry entry the benchmark times. */
  def of(df: DataFrame): Answer = {
    // column names may repeat (joins); address them by position
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val partials = named.select(rowHash(named)).as(Encoders.scalaLong)
      .mapPartitions(partial)(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    Answer(partials.map(_._1).sum, f"${partials.map(_._2).sum}%016x")
  }

  private val partial: Iterator[Long] => Iterator[(Long, Long)] = it => {
    var n = 0L
    var s = 0L // wraps: the digest is the sum modulo 2^64
    it.foreach { h => n += 1; s += h }
    Iterator((n, s))
  }
}
