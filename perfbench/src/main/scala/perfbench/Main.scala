package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  * {{{
  *   perfbench.Main --workload refresh|dashboard --seed N --seconds S --trace 0|1 --work DIR
  *   perfbench.Main --workload catalog --data SF_DIR --expected FILE [--record OUT_DIR] ...
  * }}}
  * Sets the workload up, runs its closed loop for S seconds, checks every
  * output and prints one JSON result as the last stdout line: end-to-end
  * metrics with `--trace 0`, per-layer metrics with `--trace 1`. With
  * `--record OUT_DIR` it instead runs the catalog queries once and writes
  * their outputs for `record_catalog.py`. */
object Main {

  /** Every layer span, in report order: the pipeline layers, then one span
    * per catalog query. A traced run reports all of them; a span its
    * workload does not use reports 0. */
  val Layers: Seq[String] = Seq("ingest", "pipeline.Preprocess", "pipeline.Integrate",
    "pipeline.Serve", "analytics.Correlation", "analytics.Granger", "analytics.Forecast",
    "streaming.StreamingIngest") ++ Catalog.Queries.map { case (q, owner) => s"$owner.$q" }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", "perfbench/work")).getAbsoluteFile
    val workload = opts.getOrElse("workload", "") match {
      case "refresh" => new Refresh()
      case "dashboard" => new Dashboard()
      case "catalog" =>
        val data = opts.getOrElse("data", sys.error("catalog needs --data <scale dir>"))
        new Catalog(data, CatalogExpected.load(opts.get("expected"), data))
      case other => sys.error(s"unknown workload '$other' (refresh | dashboard | catalog)")
    }

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, new File(work, "data").getPath, seed)
      (workload, opts.get("record")) match {
        case (c: Catalog, Some(out)) => CatalogExpected.record(ctx, c, out)
        case _ =>
          val peak = new BlockPeak
          spark.sparkContext.addSparkListener(peak)
          val setupS = sessionS + workload.setup(ctx)
          System.err.println(f"session $sessionS%.2f s, set-up $setupS%.2f s")
          System.gc() // the timed cycles start from a collected heap
          val plain = loop(ctx, workload, seconds)
          val result =
            if (!trace) endToEnd(workload, setupS, peak, plain)
            else {
              // the traced loop follows the untraced one; the overhead is the
              // difference of their median cycles
              val tracer = LayerTracer.attach(spark)
              val traced = loop(ctx, workload, seconds)
              LayerTracer.detach(spark, tracer)
              perLayer(ctx, tracer, plain, traced)
            }
          println(result)
      }
    } finally spark.stop()
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)
    s
  }

  /** Runs cycles until `seconds` have elapsed (at least one cycle). */
  private def loop(ctx: Ctx, w: Workload, seconds: Double): Acc = {
    val acc = new Acc
    val t0 = System.nanoTime()
    while ((acc.attempted == 0 || (System.nanoTime() - t0) / 1e9 < seconds) && w.cycle(ctx, acc)) {}
    System.err.println(s"cycles ${acc.cycleSpans.size} (operations ${acc.attempted}, failed ${acc.failed})")
    acc.notes.foreach(n => System.err.println(s"check failed: $n"))
    acc
  }

  private def json(metrics: Seq[(String, Double, String)], acc: Acc, correct: Boolean): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${acc.attempted}, "failed": ${acc.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  private def endToEnd(w: Workload, setupS: Double, peak: BlockPeak, acc: Acc): String = {
    val ms = ("setup_s", setupS, "s") +: w.endToEnd(acc) :+ (("cache_peak_mb", peak.peakMb, "MB"))
    json(ms, acc, acc.failed == 0 && ms.forall(m => !m._2.isNaN))
  }

  private def perLayer(ctx: Ctx, tracer: LayerTracer, plain: Acc, traced: Acc): String = {
    val (from, until) = (traced.cycleSpans.head._1, traced.cycleSpans.last._2)
    val costs = tracer.attribute(ctx.spans.all.filter(s => s.startMs >= from && s.endMs <= until))
    val n = traced.cycleSpans.size.toDouble
    val cycleWall = traced.cycleSpans.map { case (s, e) => (e - s) / 1000.0 }.sum
    def cycleMedian(a: Acc) = Stats.median(a.cycleSpans.map { case (s, e) => (e - s) / 1000.0 }.toSeq)
    val ms = Layers.flatMap { l =>
      val cs = costs.filter(_.span == l)
      def per(f: LayerTracer.Cost => Double) = cs.map(f).sum / n
      Seq((s"$l.wall_s", per(_.wallS), "s"), (s"$l.jobs", per(_.jobs.toDouble), "count"),
        (s"$l.plan_ms", per(_.planMs), "ms"), (s"$l.gap_ms", per(_.gapMs), "ms"),
        (s"$l.exec_cpu_s", per(_.execCpuS), "s"), (s"$l.shuffle_mb", per(_.shuffleMb), "MB"),
        (s"$l.spill_mb", per(_.spillMb), "MB"))
    } ++ Seq(
      ("trace.overhead_s", cycleMedian(traced) - cycleMedian(plain), "s"),
      ("trace.coverage", costs.map(_.wallS).sum / cycleWall, "ratio"))
    val acc = new Acc
    acc.attempted = plain.attempted + traced.attempted
    acc.failed = plain.failed + traced.failed
    json(ms, acc, acc.failed == 0)
  }
}
