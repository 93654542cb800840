package perfbench

import graft.pipeline.Serve
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Page renders over the served panel, each panel collected as the page
  * would display it. */
object Pages {

  final case class Page(lastChange: Map[String, Double], ok: Boolean)

  /** The market overview: one row per symbol in each of its panels. */
  def overview(panel: DataFrame, nSymbols: Int): Page = {
    val last = Serve.lastChange(panel).collect()
    val volumes = Serve.latestVolumes(panel).collect()
    val volatility = Serve.volatilityStability(panel).collect()
    val ok = last.length == nSymbols && volumes.length == nSymbols && volatility.length == nSymbols
    Page(last.map((r: Row) => r.getAs[String]("symbol") -> r.getAs[Double]("last_price")).toMap, ok)
  }

  /** A dashboard page: the market overview plus one symbol's panels. */
  def render(panel: DataFrame, causality: DataFrame, symbol: String, nSymbols: Int,
             indicator: String): Page = {
    val page = overview(panel, nSymbols)
    val hist = Serve.returnsHistogram(panel, symbol).collect()
    val macroPrev = Serve.prevDayMacro(panel, indicator).collect()
    val causal = Serve.causalitySummary(causality.filter(col("symbol") === symbol)).collect()
    page.copy(ok = page.ok && hist.nonEmpty && macroPrev.nonEmpty && causal.nonEmpty)
  }
}
