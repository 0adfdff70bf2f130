package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

/** Host CPU time stolen by the hypervisor (Linux /proc/stat), to tell a
  * slow window on a contended host from a slow program.
  */
object HostCpu {
  /** (total, steal) jiffies; zeros where /proc/stat is missing. */
  def sample(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val v = cpu.trim.split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    } catch { case _: Exception => (0L, 0L) }

  def stealPercent(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) 100.0 * (b._2 - a._2) / (b._1 - a._1) else 0.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least `beyond` samples above it,
    * and its value; the median when the sample is too small for any.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val n = xs.size
    val p = (99 to 50 by -1).find(p => n * (100 - p) / 100.0 >= beyond).getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }
}

/** Order-insensitive content fingerprint: row count plus the sums of the
  * low and high 32-bit halves of each row's xxhash64. Two frames with the
  * same multiset of rows get the same fingerprint.
  */
object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** xxhash64 refuses maps; their JSON text stands in for them. */
  private def hashable(c: Column, t: DataType): Column =
    if (hasMap(t)) to_json(c) else c

  /** Columns whose xxhash64 stands for one row of `df`. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** The three aggregates a fingerprint is made of, over `h`. */
  def aggs(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
    coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))

  def render(n: Long, lo: Long, hi: Long): String = s"$n:$lo:$hi"

  def of(df: DataFrame): String = {
    val r = df.select(rowHash(df).as("h")).agg(aggs(col("h")).head, aggs(col("h")).tail: _*)
      .head()
    render(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Fingerprint per (`__k`, `__t`) of frames of (`__k`, `__t`, `h`), in one job. */
  def grouped(parts: Seq[DataFrame]): Map[(String, String), String] = {
    val a = aggs(col("h"))
    parts.reduceOption(_ union _).toSeq.flatMap(_.groupBy("__k", "__t")
      .agg(a.head, a.tail: _*).collect()
      .map(r => (r.getString(0), r.getString(1)) -> render(r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
  }
}
