package perfbench

import org.apache.spark.sql.functions._

class TracerSpec extends SparkSuite {

  test("interval union merges overlaps and ignores empty intervals") {
    assert(LayerTracer.unionMs(Nil) == 0)
    assert(LayerTracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20)
    assert(LayerTracer.unionMs(Seq((20L, 25L), (0L, 100L))) == 100)
  }

  test("jobs, planning and tasks follow the span whose interval holds them") {
    val df = spark.range(0, 20000, 1, 4).withColumn("k", col("id") % 7)
    val spans = new Spans
    val tracer = LayerTracer.attach(spark)
    try {
      spans("first")(df.groupBy("k").count().collect())
      Thread.sleep(20)
      // the second action runs on another thread, as a driver pool would
      // run it; it still belongs to the span that was open at submission
      spans("second") {
        val t = new Thread(() => { df.filter(col("k") === 3).count(); () })
        t.start(); t.join()
      }
    } finally LayerTracer.detach(spark, tracer)
    val costs = tracer.attribute(spans.all).map(c => c.span -> c).toMap
    assert(costs.keySet == Set("first", "second"))
    for (c <- costs.values) {
      assert(c.jobs >= 1, c)
      assert(c.planMs > 0, c)
      assert(c.execCpuS > 0, c)
      assert(c.gapMs >= 0 && c.gapMs <= c.wallS * 1000, c)
    }
    assert(costs("first").shuffleMb > 0, "the aggregation shuffles")
  }

  test("block updates track the peak of cached bytes") {
    val peak = new BlockPeak
    spark.sparkContext.addSparkListener(peak)
    val cached = spark.range(0, 50000, 1, 4).selectExpr("id", "id * 2 AS twice").cache()
    cached.count()
    cached.unpersist(blocking = true)
    LayerTracer.drain(spark)
    spark.sparkContext.removeSparkListener(peak)
    assert(peak.peakMb > 0)
  }

  test("the block peak releases the blocks of an unpersisted frame") {
    val peak = new BlockPeak
    spark.sparkContext.addSparkListener(peak)
    def cached() = {
      val df = spark.range(0, 100000, 1, 4).toDF("id").persist()
      df.count()
      df
    }
    try {
      val a = cached()
      LayerTracer.drain(spark)
      val one = peak.peakMb
      assert(one > 0)
      a.unpersist(blocking = true)
      cached().unpersist(blocking = true)
      LayerTracer.drain(spark)
      assert(peak.peakMb == one, "two frames cached one after the other peak at one frame")
    } finally spark.sparkContext.removeSparkListener(peak)
  }
}
