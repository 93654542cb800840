package perfbench

import graft.pipeline.Integrate
import org.apache.spark.sql.functions._

class StockGenSpec extends SparkSuite {

  private def sources(g: StockGen) = Seq(
    "quotes" -> g.rawQuotes(), "yahoo" -> g.yahooDocs(), "fred" -> g.fredDocs(),
    "trends" -> g.trendsDocs(), "deliveries" -> g.quoteDeliveries(24, 48))

  test("two generations with one seed are hash-identical") {
    val a = sources(new StockGen(spark, 4, 48, 7)).map { case (n, df) => n -> Stats.fingerprint(df) }
    val b = sources(new StockGen(spark, 4, 48, 7)).map { case (n, df) => n -> Stats.fingerprint(df) }
    assert(a == b)
    val other = Stats.fingerprint(new StockGen(spark, 4, 48, 8).rawQuotes())
    assert(other != a.head._2, "another seed gives other inputs")
  }

  test("tickers are letters only and trend keywords map to them") {
    val g = new StockGen(spark, 30, 12, 1)
    assert(g.tickers.distinct.size == 30 && g.tickers.forall(_.matches("[A-Z]{3}")))
    val mapped = g.trendsDocs().select(explode(col("scores")).as(Seq("keyword", "score")))
      .select(Integrate.keywordToSymbol(col("keyword"), graft.schemas.Schemas.Symbols).as("s"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(mapped == g.tickers.toSet)
  }

  test("quote documents keep the fixture's duplicate and null rates") {
    val q = new StockGen(spark, 20, 300, 3).quoteDocs()
    val n = q.count().toDouble
    val dupShare = (n - q.distinct().count()) / n
    val nullShare = q.filter(col("data.c").isNull).count() / n
    assert(dupShare > 0.01 && dupShare < 0.03, dupShare)
    assert(nullShare > 0.02 && nullShare < 0.04, nullShare)
  }

  test("sources keep their publication cadences") {
    val g = new StockGen(spark, 2, 144, 5)
    val fred = g.fredDocs().groupBy("indicator").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fred == Map("GDP" -> 2L, "CPIAUCSL" -> 6L, "UNRATE" -> 12L))
    assert(g.trendsDocs().count() == 24)
    assert(g.yahooDocs().count() == 2 * 6)
    assert(g.trendsDocs().filter(col("is_partial")).count() == 1)
  }
}
