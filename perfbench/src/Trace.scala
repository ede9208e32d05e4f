package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One layer call plus the materialization of its output, timed from the
  * benchmark. `startMs`/`endMs` share the clock of Spark's listener events. */
final case class Span(layer: String, startMs: Long, endMs: Long, secs: Double)

/** Counters of one task, kept until its span is known. */
final case class TaskRec(stage: Int, runMs: Long, durMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Collects job submission times and finished-task metrics. Jobs are assigned to
  * spans by submission time, never by job group: the engine's sharded triangle
  * kernels set their own job group on pool threads. */
final class LayerListener extends SparkListener {
  private val jobTime = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTime(e.jobId) = e.time
    // a stage listed by several jobs runs in the first one; later jobs skip it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, m.executorRunTime, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Per-layer counters of `spans`, then forget everything seen so far. */
  def collect(spans: Seq[Span], cores: Int): Map[String, LayerStats] = synchronized {
    val sorted = spans.sortBy(_.startMs)
    def spanOf(t: Long): Option[String] =
      sorted.takeWhile(_.startMs <= t).lastOption.filter(t <= _.endMs).map(_.layer)
    val jobLayer = jobTime.flatMap { case (j, t) => spanOf(t).map(j -> _) }
    val byLayer = tasks.groupBy(t => stageJob.get(t.stage).flatMap(jobLayer.get))
    val out = spans.groupBy(_.layer).map { case (layer, ss) =>
      val secs = ss.map(_.secs).sum
      val ts = byLayer.getOrElse(Some(layer), mutable.ArrayBuffer.empty[TaskRec])
      val cpu = ts.map(_.runMs).sum / 1e3
      val durs = ts.map(_.durMs).sorted
      val skew = if (durs.isEmpty) 0.0 else durs.last.toDouble / math.max(1L, durs(durs.length / 2))
      layer -> LayerStats(
        secs = secs,
        cpuS = cpu,
        idleFrac = if (secs > 0) math.max(0.0, 1.0 - cpu / (secs * cores)) else 0.0,
        jobs = jobLayer.count(_._2 == layer).toDouble,
        shuffleMb = ts.map(_.shuffleBytes).sum / 1048576.0,
        spillMb = ts.map(_.spillBytes).sum / 1048576.0,
        skew = skew)
    }
    jobTime.clear(); stageJob.clear(); tasks.clear()
    out
  }
}

final case class LayerStats(
    secs: Double, cpuS: Double, idleFrac: Double, jobs: Double,
    shuffleMb: Double, spillMb: Double, skew: Double) {
  def metrics(layer: String): Seq[(String, Double)] = Seq(
    s"$layer.s" -> secs, s"$layer.cpu_s" -> cpuS, s"$layer.idle_frac" -> idleFrac,
    s"$layer.jobs" -> jobs, s"$layer.shuffle_mb" -> shuffleMb,
    s"$layer.spill_mb" -> spillMb, s"$layer.skew" -> skew)
}

/** Heap and garbage-collection readings of this JVM. */
object Jvm {
  /** Heap still in use after a full collection: what the run retains. The
    * first collection lets Spark's cleaner drop the blocks of unreachable
    * broadcasts and shuffles; the second frees them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
