package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import graft.pipeline.{Integrate, Preprocess, Serve}
import graft.schemas.Schemas
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `dashboard`: live serving with one closed-loop client over a rolling
  * 168-hour window. Each cycle (tick) one new hour of raw quote documents —
  * with duplicates and re-deliveries of the previous hour — lands in the
  * stream source directory; `StreamingIngest` drains it, `Integrate`
  * rebuilds the window's panel, `Serve` re-caches it and `pages` page
  * renders follow. Freshness runs from the file landing to the first page
  * whose market overview shows the new hour for every symbol. */
final class Dashboard extends Workload {
  private val symbols = 16
  private val history = 192
  private val window = 168
  private val pages = 2
  /** Hours the generator can deliver after the history: enough ticks for
    * an engine many times faster than today's. */
  private val maxTicks = 256

  private val indicators = Seq("GDP", "CPIAUCSL", "UNRATE")

  private var gen: StockGen = _
  private var tick = 0
  private var pageNo = 0
  private var pageOrder: Iterator[String] = Iterator.empty
  /** symbol → the latest non-null close delivered so far: what a fresh
    * market overview must show. */
  private val expected = scala.collection.mutable.Map.empty[String, Double]

  def setup(ctx: Ctx): Double = {
    gen = new StockGen(ctx.spark, symbols, history + maxTicks, ctx.seed)
    pageOrder = Iterator.continually(new scala.util.Random(ctx.seed).shuffle(gen.tickers)).flatten
    val t0 = System.nanoTime()
    gen.quoteDocs(0, history).drop("h").coalesce(1)
      .write.mode("overwrite").parquet(ctx.path("gen/history"))
    // the daily sources arrive clean: no duplicates, no nulls
    Preprocess.flattenDoc(gen.yahooDocs()).write.mode("overwrite").parquet(ctx.path("yahoo"))
    gen.fredDocs().write.mode("overwrite").parquet(ctx.path("fred"))
    gen.trendsDocs().write.mode("overwrite").parquet(ctx.path("trends"))
    gen.causality(Seq("h", "l", "o", "Volume", "trend_score", "GDP"))
      .write.mode("overwrite").parquet(ctx.path("causality"))
    // the stream starts from the landed history; draining it and serving
    // the first window warm every plan the ticks run
    expectCloses(ctx.read("gen/history"))
    Files.createDirectories(Paths.get(ctx.path("stream/src")))
    land(ctx, Paths.get(ctx.path("gen/history")), "history")
    drain(ctx)
    val page = Pages.render(publish(ctx, history - 1), ctx.read("causality"),
      gen.tickers.head, symbols, "GDP")
    require(page.ok && fresh(page), "the warm-up page does not show the history")
    (System.nanoTime() - t0) / 1e9
  }

  /** Folds delivered quote documents into the expected market overview. */
  private def expectCloses(docs: DataFrame): Unit =
    docs.filter(col("data.c").isNotNull).groupBy("symbol")
      .agg(max_by(col("data.c"), col("timestamp"))).collect()
      .foreach(r => expected(r.getString(0)) = r.getDouble(1))

  /** Writes delivery `tick` (one hour plus re-deliveries) to a staging
    * directory, outside the stream source. */
  private def stage(ctx: Ctx, tick: Int): Path = {
    val dir = ctx.path(s"gen/tick-$tick")
    gen.quoteDeliveries(history, history + maxTicks).filter(col("tick") === tick).drop("tick")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    Paths.get(dir)
  }

  /** Moves delivered files into the stream source directory. */
  private def land(ctx: Ctx, from: Path, name: String): Unit =
    files(Files.list(from)).filter(_.getFileName.toString.startsWith("part-"))
      .zipWithIndex.foreach { case (f, i) =>
        Files.move(f, Paths.get(ctx.path(s"stream/src/$name-$i.parquet")),
          StandardCopyOption.ATOMIC_MOVE)
      }

  private def drain(ctx: Ctx): Unit = {
    val docs = StreamingIngest.readDocs(ctx.spark, Schemas.quoteDoc, ctx.path("stream/src"))
    StreamingIngest.appendSink(
        StreamingIngest.dedupWithinWatermark(docs, "timestamp", "2 hours", Seq("symbol")),
        ctx.path("stream/sink"), ctx.path("stream/checkpoint"))
      .start().awaitTermination()
  }

  /** Integrates the window ending at `hour` and re-caches it for serving. */
  private def publish(ctx: Ctx, hour: Int): DataFrame = {
    val dir = s"panel/t=$hour"
    ctx.spans("pipeline.Integrate") {
      Integrate.writePartitioned(Integrate.integrate(
        Preprocess.flattenDoc(ctx.read("stream/sink")), ctx.read("yahoo"), ctx.read("fred"),
        ctx.read("trends"), StockGen.hourTs(hour - window + 1)), ctx.path(dir))
    }
    val panel = ctx.spans("pipeline.Serve") {
      Serve.uncache(ctx.spark, "dashboard")
      val p = Serve.cachedFor(ctx.spark, "dashboard", ctx.read(dir))
      p.count()
      p
    }
    deleteTree(Paths.get(ctx.path(s"panel/t=${hour - 1}")))
    panel
  }

  /** Does the page's market overview show the latest delivered close of
    * every symbol? */
  private def fresh(page: Pages.Page): Boolean =
    gen.tickers.forall(s => expected.get(s).isDefined && page.lastChange.get(s) == expected.get(s))

  def cycle(ctx: Ctx, acc: Acc): Boolean = {
    if (tick >= maxTicks) return false
    val hour = history + tick
    val staged = stage(ctx, tick)
    expectCloses(ctx.read(s"gen/tick-$tick").filter(col("timestamp") >= StockGen.hourTs(hour)))
    val startMs = System.currentTimeMillis()
    land(ctx, staged, s"tick-$tick")
    val landed = System.nanoTime()
    tick += 1
    ctx.spans("streaming.StreamingIngest")(drain(ctx))
    val panel = publish(ctx, hour)
    val causality = ctx.read("causality")
    var freshS = Option.empty[Double]
    var ok = true
    val pageMs = (0 until pages).map { _ =>
      val p0 = System.nanoTime()
      val page = ctx.spans("pipeline.Serve") {
        Pages.render(panel, causality, pageOrder.next(), symbols, indicators(pageNo % 3))
      }
      val end = System.nanoTime()
      pageNo += 1
      acc.attempted += 1
      if (!page.ok) { acc.fail(s"dashboard page incomplete at hour $hour"); ok = false }
      if (freshS.isEmpty && page.ok && fresh(page)) freshS = Some((end - landed) / 1e9)
      (end - p0) / 1e6
    }
    val wall = (System.nanoTime() - landed) / 1e9
    acc.cycleSpans += ((startMs, System.currentTimeMillis()))
    acc.attempted += 1
    if (freshS.isEmpty) acc.fail(s"no page showed hour $hour for every symbol")
    else if (ok) {
      acc.add("cycle_s", wall)
      acc.add("first_s", freshS.get)
      pageMs.foreach(acc.add("page_ms", _))
    }
    true
  }

  /** Drains and closes a directory stream. */
  private def files(s: java.util.stream.Stream[Path]): List[Path] =
    try s.iterator().asScala.toList finally s.close()

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      files(Files.walk(p)).sortBy(_.getNameCount)(Ordering[Int].reverse).foreach(Files.delete)
}
