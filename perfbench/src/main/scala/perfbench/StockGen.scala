package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded, stock-shaped source generator: `symbols` tickers × `hours` hourly
  * snapshots in the shapes the reference's collectors land (finnhub quote
  * JSON bodies, yahoo daily OHLCV, FRED long-form macro series, Google
  * Trends wide snapshots).
  *
  * Every row is computed by Spark from (seed, symbol, hour) hashes, so the
  * inputs are built in parallel and two generations with one seed are
  * row-for-row identical. Rates follow `graft.Fixtures`: ~2 % of quote rows
  * are delivered twice and ~3 % carry a null `c`. FRED publishes GDP every
  * 72 h, CPIAUCSL every 24 h and UNRATE every 12 h; trends snapshot every
  * 6 h with keywords "<TICKER> stock", which `Integrate.keywordToSymbol`
  * maps through its ticker fallback. */
final class StockGen(spark: SparkSession, val symbols: Int, val hours: Int, val seed: Long) {
  import StockGen._
  require(symbols >= 1 && symbols <= 17576 && hours >= 2)

  val tickers: Seq[String] = (0 until symbols).map(ticker)

  /** Uniform [0, 1) draw keyed by (seed, symbol, hour, salt). */
  private def u(salt: Int): Column =
    pmod(xxhash64(lit(seed), col("sid"), col("h"), lit(salt)), lit(1L << 40))
      .cast("double") / lit((1L << 40).toDouble)

  private def tickerCol: Column =
    element_at(typedLit(tickers.toArray), (col("sid") + 1).cast("int"))

  private def at(minute: Int): Column =
    timestamp_seconds(lit(T0Sec) + col("h") * 3600 + minute * 60)

  /** One row per (symbol, hour): the hourly price path. A per-symbol
    * geometric random walk (window prefix sum of hashed log-returns). */
  def prices(fromHour: Int = 0, untilHour: Int = hours): DataFrame = {
    val grid = spark.range(0, symbols.toLong * hours, 1, 4)
      .select((col("id") / hours).cast("long").as("sid"), (col("id") % hours).as("h"))
    val walk = Window.partitionBy("sid").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("base", lit(20.0) + pmod(xxhash64(lit(seed), col("sid")), lit(480L)))
      .withColumn("p", col("base") * exp(sum((u(1) - 0.5) * 0.01).over(walk)))
      .withColumn("prev", lag(col("p"), 1).over(Window.partitionBy("sid").orderBy("h")))
      .filter(col("h") >= fromHour && col("h") < untilHour)
  }

  /** finnhub /quote documents as (symbol, h, data, timestamp) rows, with the
    * duplicate and null-`c` rates. */
  def quoteDocs(fromHour: Int = 0, untilHour: Int = hours): DataFrame = {
    val p = prices(fromHour, untilHour)
    val pc = round(coalesce(col("prev"), col("p")), 4)
    val c = round(col("p"), 4)
    val docs = p.select(tickerCol.as("symbol"), col("h"),
      struct(
        when(u(2) >= 0.03, c).as("c"),
        round(col("p") * (lit(1.0) + u(3) * 0.004), 4).as("h"),
        round(col("p") * (lit(1.0) - u(4) * 0.004), 4).as("l"),
        round(col("p") * (lit(1.0) + (u(5) - 0.5) * 0.002), 4).as("o"),
        pc.as("pc"),
        round(c - pc, 4).as("d"),
        round((c - pc) / pc * 100, 4).as("dp"),
        (lit(T0Sec) + col("h") * 3600).as("t")).as("data"),
      at(7).as("timestamp"), (u(6) < 0.02).as("dup"))
    // a duplicated document is delivered twice; the struct is projected
    // first so its field names survive the generator
    docs.withColumn("copy", explode(when(col("dup"), array(lit(0), lit(1))).otherwise(array(lit(0)))))
      .drop("dup", "copy")
  }

  /** Quote documents for hours [fromHour, untilHour) split into hourly
    * deliveries: delivery `tick` carries hour fromHour + tick (with its
    * duplicates) plus a re-delivery of ~`redeliver` of the previous hour's
    * documents, as a collector retrying a timed-out fetch would send them. */
  def quoteDeliveries(fromHour: Int, untilHour: Int, redeliver: Double = 0.1): DataFrame = {
    val draw = pmod(xxhash64(lit(seed), col("symbol"), col("h"), lit(14)), lit(1000L))
    val ticks = array(
      when(col("h") >= fromHour, col("h") - fromHour),
      when(draw < redeliver * 1000 && col("h") + 1 < untilHour, col("h") + 1 - fromHour))
    quoteDocs(math.max(0, fromHour - 1), untilHour)
      .withColumn("tick", explode(filter(ticks, _.isNotNull))).drop("h")
  }

  /** Raw quote payloads as landed by the collector: JSON body strings. */
  def rawQuotes(): DataFrame =
    quoteDocs().select(col("symbol"), to_json(col("data")).as("body"), col("timestamp"))

  /** yahoo daily OHLCV documents (one per symbol per day, at hour 0). */
  def yahooDocs(): DataFrame =
    prices().filter(col("h") % 24 === 0).select(tickerCol.as("symbol"),
      struct(
        round(col("p") * (lit(1.0) + (u(7) - 0.5) * 0.002), 4).as("Open"),
        round(col("p") * (lit(1.0) + u(8) * 0.01), 4).as("High"),
        round(col("p") * (lit(1.0) - u(9) * 0.01), 4).as("Low"),
        round(col("p"), 4).as("Close"),
        floor(lit(1e6) + u(10) * 9e6).cast("double").as("Volume"),
        lit(0.0).as("Dividends"), lit(0.0).as("Stock Splits")).as("data"),
      at(1).as("timestamp"))

  /** FRED observations, long form (indicator, value, timestamp). */
  def fredDocs(): DataFrame = {
    val specs = Seq(("GDP", 72, 27000.0), ("CPIAUCSL", 24, 310.0), ("UNRATE", 12, 3.9))
    specs.map { case (ind, every, base) =>
      spark.range(0, hours, every, 1).select(col("id").as("h"), lit(-1L).as("sid"))
        .select(lit(ind).as("indicator"),
          round(lit(base) * (lit(1.0) + col("h") * 1e-5 + (u(11 + every) - 0.5) * 1e-3), 4).as("value"),
          at(3).as("timestamp"))
    }.reduce(_.unionByName(_))
  }

  /** Trends wide snapshots every 6 h: keyword → score map. The final
    * snapshot is marked partial, as pytrends marks an open window. */
  def trendsDocs(): DataFrame = {
    val last = ((hours - 1) / 6) * 6
    val kw = spark.range(0, symbols.toLong, 1, 1).select(col("id").as("sid"))
    spark.range(0, hours, 6, 4).select(col("id").as("h")).crossJoin(kw)
      .select(col("h"), struct(concat(tickerCol, lit(" stock")).as("k"),
        floor(u(12) * 100).cast("long").as("v")).as("e"))
      .groupBy("h").agg(array_sort(collect_list(col("e"))).as("es"))
      .select(map_from_arrays(col("es.k"), col("es.v")).as("scores"),
        (col("h") === last).as("is_partial"), at(5).as("timestamp"))
  }

  /** Causality artifact (symbol, predictor, lag, p_value) that a served
    * dashboard reads from the last analysis run. */
  def causality(predictors: Seq[String]): DataFrame =
    spark.range(0, symbols.toLong, 1, 1).select(col("id").as("sid"))
      .crossJoin(spark.createDataFrame(predictors.zipWithIndex.flatMap { case (p, i) =>
        (1 to 5).map(l => (p, l, i * 5 + l))
      }).toDF("predictor", "lag", "h"))
      .select(tickerCol.as("symbol"), col("predictor"), col("lag"),
        round(u(13), 5).as("p_value"))
}

object StockGen {
  /** First snapshot hour, 2025-08-01 00:00 UTC. */
  val T0Sec: Long = 1754006400L

  def hourTs(h: Int): java.sql.Timestamp = new java.sql.Timestamp((T0Sec + h * 3600L) * 1000)

  /** Letters-only three-letter tickers ("BCD", "BCE", ...). Three letters
    * never contain a four-letter reference symbol, so trend keywords map
    * through the ticker fallback alone. */
  def ticker(i: Int): String = {
    val n = i + 731
    Seq(n / 676 % 26, n / 26 % 26, n % 26).map(d => ('A' + d).toChar).mkString
  }
}
