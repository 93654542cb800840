package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from outside the engine. Times are
  * wall-clock milliseconds (the clock Spark stamps its events with) plus a
  * monotonic duration. */
final case class Span(name: String, startMs: Long, endMs: Long, wallS: Double)

/** In-memory span log, also echoed to stderr (the run log). Spans are kept
  * until the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]

  def apply[A](name: String)(body: => A): A = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"span $name%-26s $wall%8.3f s")
      synchronized(buf += Span(name, ms, System.currentTimeMillis(), wall))
    }
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Peak bytes held by cached or checkpointed RDD blocks, from block-update
  * events. Unpersisting an RDD drops its blocks without block-update events,
  * so its unpersist event releases them. Cheap enough to stay attached in
  * untraced runs. */
final class BlockPeak extends SparkListener {
  /** (RDD id, executor/block) → bytes held */
  private val sizes = mutable.HashMap.empty[(Int, String), Long]
  private var current = 0L
  @volatile private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, s"${info.blockManagerId.executorId}/${id.name}")
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      current += now - sizes.put(key, now).getOrElse(0L)
      if (current > peakBytes) peakBytes = current
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = sizes.keys.filter(_._1 == e.rddId).toList
    current -= gone.map(sizes).sum
    sizes --= gone
  }

  def peakMb: Double = peakBytes / 1048576.0
}

/** Per-layer attribution of Spark work. Jobs are attributed to the span
  * whose interval contains the job's submission time — not by job group,
  * because driver pools (Granger's per-predictor passes, for one) submit
  * jobs from threads whose local properties do not follow the caller.
  * Tasks follow their stage's job; planning phases follow the end of the
  * action's last phase. */
final class LayerTracer extends SparkListener with QueryExecutionListener {
  private final class Job(val startMs: Long) {
    @volatile var endMs: Long = -1L
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = java.util.Collections.synchronizedList(
    new java.util.ArrayList[(Long, Long)]())   // (end ms, duration ms)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, new Job(e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (m <- Option(e.taskMetrics); jid <- Option(stageJob.get(e.stageId));
         j <- Option(jobs.get(jid))) j.synchronized {
      j.cpuNs += m.executorCpuTime
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans.add((ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  /** Per-span totals. Call after [[LayerTracer.drain]]. */
  def attribute(spans: Seq[Span]): Seq[LayerTracer.Cost] = {
    val sorted = spans.sortBy(_.startMs)
    def owner(t: Long): Option[Int] = {
      val i = sorted.lastIndexWhere(s => s.startMs <= t && t <= s.endMs)
      if (i < 0) None else Some(i)
    }
    val js = jobs.asScala.values.toSeq
    val byJob = js.groupBy(j => owner(j.startMs))
    val planMs = plans.asScala.toList.groupMapReduce(p => owner(p._1))(_._2)(_ + _)
    sorted.indices.map { i =>
      val s = sorted(i)
      val mine = byJob.getOrElse(Some(i), Nil)
      val covered = LayerTracer.unionMs(mine.map(j =>
        (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
      LayerTracer.Cost(s.name, s.wallS, mine.size, planMs.getOrElse(Some(i), 0L).toDouble,
        math.max(0.0, s.wallS * 1000 - covered), mine.map(_.cpuNs).sum / 1e9,
        mine.map(_.shuffleBytes).sum / 1048576.0, mine.map(_.spillBytes).sum / 1048576.0)
    }
  }
}

object LayerTracer {
  final case class Cost(span: String, wallS: Double, jobs: Int, planMs: Double,
                        gapMs: Double, execCpuS: Double, shuffleMb: Double, spillMb: Double)

  /** Total length of the union of closed intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  def attach(spark: SparkSession): LayerTracer = {
    val t = new LayerTracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def detach(spark: SparkSession, t: LayerTracer): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
}
