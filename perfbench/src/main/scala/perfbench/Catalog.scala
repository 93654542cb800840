package perfbench

import org.apache.spark.sql.DataFrame

/** `catalog`: two driver-bound catalog queries the ROADMAP targets, run
  * through `SparkEntry.queries` on the TPC-H-shaped scale directory kept
  * with the benchmark. Each cycle runs the iterative kernel, then the index
  * lifecycle query, once each. Set-up runs both once, which builds and
  * memoizes the shared index fixture and warms the JVM; the lifecycle query
  * copies its fixture afresh on every call, so every cycle starts from the
  * same state. Each output's row count and fingerprint must equal the values
  * `record_catalog.py` stored after checking that query against its DuckDB
  * oracle. The inputs are that fixed directory: the seed does not change
  * them. */
final class Catalog(dataDir: String, expected: Map[String, (Long, String)]) extends Workload {
  import Catalog._

  def setup(ctx: Ctx): Double = {
    val t0 = System.nanoTime()
    val acc = new Acc
    runAll(ctx, acc, timed = false)
    require(acc.failed == 0, s"warm-up pass failed: ${acc.notes.mkString("; ")}")
    (System.nanoTime() - t0) / 1e9
  }

  def cycle(ctx: Ctx, acc: Acc): Boolean = { runAll(ctx, acc, timed = true); true }

  private def runAll(ctx: Ctx, acc: Acc, timed: Boolean): Unit = {
    val startMs = System.currentTimeMillis()
    var ok = true
    val walls = Queries.map { case (q, owner) =>
      val t0 = System.nanoTime()
      // one span per query, named `<owning module>.<query>`
      val fp = ctx.spans(s"$owner.$q")(Stats.fingerprint(run(ctx, q)))
      acc.attempted += 1
      if (!expected.get(q).contains(fp)) {
        acc.fail(s"$q: got $fp, expected ${expected.get(q)}")
        ok = false
      }
      (System.nanoTime() - t0) / 1e9
    }
    if (timed) {
      acc.cycleSpans += ((startMs, System.currentTimeMillis()))
      if (ok) {
        acc.add("cycle_s", walls.sum)
        acc.add("first_s", walls.head)
      }
    }
  }

  /** `first_s` is the kernel's time; the lifecycle query's is printed
    * beside it. */
  override def endToEnd(acc: Acc): Seq[(String, Double, String)] = {
    if (acc("cycle_s").nonEmpty) {
      val lifecycle = acc("cycle_s").zip(acc("first_s")).map { case (c, k) => c - k }
      println(f"graph_s ${acc.median("first_s")}%.3f s, lifecycle_s ${Stats.median(lifecycle)}%.3f s")
    }
    super.endToEnd(acc)
  }

  def run(ctx: Ctx, q: String): DataFrame = graft.SparkEntry.queries(q)(ctx.spark, dataDir)
}

object Catalog {
  /** (query, owning module): connected components, one of the iterative
    * kernels ROADMAP direction 5 ports to one superstep driver, then the
    * graph-index delete lifecycle, direction 3's measured target. */
  val Queries: Seq[(String, String)] = Seq(
    "q309_connected_components" -> "analytics.Graph",
    "q347_graph_delete" -> "sim.GraphAnnIndex")
}
