package perfbench

import graft.analytics.{Correlation, Forecast, Granger}
import graft.ingest.Ingest
import graft.ops.Par
import graft.pipeline.{Integrate, Preprocess, Serve}
import org.apache.spark.sql.functions._

/** `refresh`: one full-history recompute of the reference DAG per cycle —
  * raw quote bodies + yahoo/FRED/trends sources → land → clean → integrate
  * → publish (re-cache + one page) → correlation, Granger, forecasts —
  * with parquet written between stages, as the reference's functions write
  * CSVs between theirs. Closed loop, one client. */
final class Refresh extends Workload {
  // 32 × 360 keeps one run under a minute; a cycle costs mostly per-job
  // overhead, so doubling both sizes only adds ≈30 % (see README.md)
  private val symbols = 32
  private val hours = 360
  private val forecastSymbols = 2
  private val forecastIter = 2
  private val horizon = 24

  /** Granger predictors: hourly quote fields. The daily and 6-hourly series
    * are imputed between publications, so their lags are nearly collinear
    * and the engine reports such tests as degenerate (NaN). */
  private val predictors = Seq("h", "o")
  /** Correlation columns: quote fields, volume, trend score and two macro
    * series. */
  private val corrCols = Seq("c", "h", "l", "o", "Volume", "trend_score", "GDP", "CPIAUCSL")

  /** Artifacts each cycle writes, checked against the untimed first cycle. */
  private val artifacts = Seq("landed", "clean/quotes", "clean/yahoo", "clean/fred", "panel",
    "correlation", "causality", "forecasts")

  private var gen: StockGen = _
  private var reference: Map[String, (Long, String)] = Map.empty

  def setup(ctx: Ctx): Double = {
    gen = new StockGen(ctx.spark, symbols, hours, ctx.seed)
    val t0 = System.nanoTime()
    gen.rawQuotes().write.mode("overwrite").parquet(ctx.path("raw/quotes"))
    gen.yahooDocs().write.mode("overwrite").parquet(ctx.path("raw/yahoo"))
    gen.fredDocs().write.mode("overwrite").parquet(ctx.path("raw/fred"))
    gen.trendsDocs().write.mode("overwrite").parquet(ctx.path("raw/trends"))
    // untimed reference cycle: warms the JVM and fixes the expected outputs
    val warm = new Acc
    cycle(ctx, warm)
    require(warm.failed == 0, s"reference cycle failed: ${warm.notes.mkString("; ")}")
    structuralChecks(ctx).foreach(msg => throw new IllegalStateException(msg))
    reference = fingerprints(ctx)
    (System.nanoTime() - t0) / 1e9
  }

  def cycle(ctx: Ctx, acc: Acc): Boolean = {
    val spark = ctx.spark
    val sp = ctx.spans
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    // 1. land raw JSON bodies as typed quote documents
    sp("ingest") {
      Ingest.landQuotes(ctx.read("raw/quotes")).write.mode("overwrite").parquet(ctx.path("landed"))
    }
    // 2. clean every document source
    sp("pipeline.Preprocess") {
      Preprocess.writeIfNonEmpty(Preprocess.clean(ctx.read("landed"),
        Seq("symbol", "timestamp", "c")), ctx.path("clean/quotes"))
      Preprocess.writeIfNonEmpty(Preprocess.clean(ctx.read("raw/yahoo")), ctx.path("clean/yahoo"))
      Preprocess.writeIfNonEmpty(Preprocess.clean(ctx.read("raw/fred")), ctx.path("clean/fred"))
    }
    // 3. integrate the full history into the per-symbol hourly panel
    sp("pipeline.Integrate") {
      Integrate.writePartitioned(Integrate.integrate(ctx.read("clean/quotes"),
        ctx.read("clean/yahoo"), ctx.read("clean/fred"), ctx.read("raw/trends"),
        StockGen.hourTs(0)), ctx.path("panel"))
    }
    // 4. publish: re-cache the served panel, then one market-overview page
    val panel = sp("pipeline.Serve") {
      Serve.uncache(spark, "refresh")
      val p = Serve.cachedFor(spark, "refresh", ctx.read("panel"))
      p.count()
      p
    }
    val p0 = System.nanoTime()
    val page = sp("pipeline.Serve")(Pages.overview(panel, symbols))
    val firstS = (System.nanoTime() - t0) / 1e9
    val pageMs = (System.nanoTime() - p0) / 1e6
    acc.attempted += 1
    if (!page.ok) acc.fail("refresh page incomplete")
    // 5. correlation matrices and the Granger sweep over all symbols
    sp("analytics.Correlation") {
      Correlation.matrixByGroup(panel, "symbol", corrCols, Correlation.autoQuant(panel, corrCols))
        .write.mode("overwrite").parquet(ctx.path("correlation"))
    }
    sp("analytics.Granger") {
      Granger.sweep(panel, "symbol", "hour", "c", predictors, maxLag = 5)
        .write.mode("overwrite").parquet(ctx.path("causality"))
    }
    // 6. forecasts on a fixed symbol subset, fitted concurrently as
    // Analysis.run fits them
    sp("analytics.Forecast") {
      Par.map(gen.tickers.take(forecastSymbols)) { sym =>
        Forecast.forecastSymbol(panel.filter(col("symbol") === sym).select("hour", "c"),
          "hour", "c", nLags = 24, horizon = horizon, maxIter = forecastIter)
          .forecast.withColumn("symbol", lit(sym))
      }.reduce(_.unionByName(_)).write.mode("overwrite").parquet(ctx.path("forecasts"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    acc.cycleSpans += ((startMs, System.currentTimeMillis()))
    acc.attempted += 1
    // outputs must match the untimed reference cycle, artifact by artifact
    val bad = if (reference.isEmpty) Nil
      else fingerprints(ctx).collect { case (a, fp) if fp != reference(a) => a }
    if (bad.nonEmpty) acc.fail(s"refresh outputs differ from the reference: ${bad.mkString(", ")}")
    else if (page.ok) {
      acc.add("cycle_s", wall)
      acc.add("first_s", firstS)
      acc.add("page_ms", pageMs)
    }
    true
  }

  /** Each artifact's fingerprint; the checks run concurrently. */
  private def fingerprints(ctx: Ctx): Map[String, (Long, String)] =
    Par.map(artifacts, maxThreads = 4)(a => a -> Stats.fingerprint(ctx.read(a))).toMap

  /** Invariants of the reference cycle's outputs; returns the violated ones. */
  private def structuralChecks(ctx: Ctx): Seq[String] = {
    val clean = ctx.read("clean/quotes")
    val panel = ctx.read("panel")
    val p = col("p_value")
    val checks: Seq[(String, () => Boolean)] = Seq(
      "cleaned quotes hold duplicates" -> (() => clean.count() == clean.distinct().count()),
      "cleaned quotes hold nulls in required columns" -> (() =>
        clean.filter(col("symbol").isNull || col("timestamp").isNull || col("c").isNull).isEmpty),
      "panel has more than one row per (symbol, hour)" -> (() =>
        panel.count() == panel.select("symbol", "hour").distinct().count()),
      "panel lost symbols" -> (() => panel.select("symbol").distinct().count() == symbols),
      // Spark orders NaN above every number: reject it explicitly
      "Granger p-values outside [0, 1]" -> (() =>
        ctx.read("causality").filter(p.isNull || p.isNaN || p < 0 || p > 1).isEmpty),
      "forecast rows != subset × horizon" -> (() =>
        ctx.read("forecasts").count() == forecastSymbols * horizon))
    Par.map(checks, maxThreads = 4) { case (msg, ok) => if (ok()) None else Some(msg) }.flatten
  }
}
