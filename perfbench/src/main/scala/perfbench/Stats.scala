package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Summary statistics and output fingerprints shared by every workload. */
object Stats {

  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** Samples ranked strictly above the `p`-th percentile's position. */
  def beyond(n: Int, p: Double): Int = n - 1 - math.floor(p / 100.0 * (n - 1) + 1e-9).toInt

  /** The tail of a latency sample: the highest ladder percentile that has at
    * least `atLeast` samples ranked above it. With fewer than 2 × `atLeast`
    * samples no tail is resolvable and the median is returned at p50.
    * Result: (percentile, value, sample count). */
  def tail(xs: Seq[Double], atLeast: Int = 10): (Double, Double, Int) = {
    val p = TailLadder.find(beyond(xs.size, _) >= atLeast).getOrElse(50.0)
    (p, percentile(xs, p), xs.size)
  }

  /** Order-independent fingerprint of a frame: row count and the exact sum of
    * per-row 64-bit hashes over the columns in name order. Equal for two
    * frames holding the same multiset of rows, whatever their partitioning. */
  def fingerprint(df: DataFrame): (Long, String) = {
    // map entries carry no order: hash them sorted
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      if (f.dataType.isInstanceOf[MapType]) array_sort(map_entries(c)) else c
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
