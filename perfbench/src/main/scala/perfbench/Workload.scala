package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared run context: the session, the run's scratch root and its span log. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  val spans = new Spans
  def path(rel: String): String = new File(work, rel).getPath
  def read(rel: String): DataFrame = spark.read.parquet(path(rel))
}

/** A closed-loop workload: `setup` once, then `cycle` repeatedly until the
  * measuring window closes. */
trait Workload {
  /** Builds inputs and warms the pipeline; returns the set-up time in s
    * (excluding session start, which [[Main]] adds). */
  def setup(ctx: Ctx): Double
  /** One cycle; returns false when the workload has run out of input. */
  def cycle(ctx: Ctx, acc: Acc): Boolean
  /** End-to-end metrics besides `setup_s` and `cache_peak_mb`:
    * (name, value, unit). Page latency is printed beside them: a run renders
    * too few pages for a resolvable tail, and its median moves with the
    * warm-up of each symbol's first render more than the gated metrics do. */
  def endToEnd(acc: Acc): Seq[(String, Double, String)] = {
    val pages = acc("page_ms")
    if (pages.nonEmpty) {
      val (p, tail, n) = Stats.tail(pages)
      println(f"page p50 = ${Stats.median(pages)}%.1f ms, tail p$p%.1f = $tail%.1f ms over $n renders" +
        (if (n < 20) " (tail unresolved: fewer than 20 samples)" else ""))
    }
    Seq(("cycle_s", acc.median("cycle_s"), "s"), ("first_s", acc.median("first_s"), "s"))
  }
}

/** Per-run accumulators, filled by the cycles. Only operations that passed
  * their checks contribute samples; a failed check is a failed operation. */
final class Acc {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val cycleSpans = mutable.ArrayBuffer.empty[(Long, Long)] // ms interval of each cycle
  var attempted = 0
  var failed = 0
  val notes = mutable.ArrayBuffer.empty[String]

  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def apply(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def median(name: String): Double =
    if (apply(name).isEmpty) Double.NaN else Stats.median(apply(name))
  def fail(note: String): Unit = { failed += 1; if (notes.size < 20) notes += note }
}
