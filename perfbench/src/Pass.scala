package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Counts output checks and layer calls; `failed / attempted` is the run's
  * failure share. */
final class Checks {
  var attempted = 0L
  var failed = 0L

  def apply(what: String, ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable => System.err.println(s"[perfbench] check '$what' threw: $e"); false }
    if (!passed) { failed += 1; System.err.println(s"[perfbench] CHECK FAILED: $what") }
  }
}

/** One pass over a workload's layers. Each layer call is a span that ends when
  * its output is materialized: [[keep]] persists and counts a table that later
  * layers or checks read, final outputs are reduced in the same action that
  * yields their check values. Checks run between layers but are not timed. */
final class Pass(val spark: SparkSession, checks: Checks) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  private var checkNanos = 0L
  private var firstNanos = 0L
  private var lastNanos = 0L

  def layer[T](name: String)(body: => T): T = {
    checks.attempted += 1
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (spans.isEmpty) firstNanos = t0
    try body
    catch { case e: Throwable =>
      checks.failed += 1
      System.err.println(s"[perfbench] layer $name failed: $e")
      throw e
    } finally {
      lastNanos = System.nanoTime()
      spans += Span(name, startMs, System.currentTimeMillis(), (lastNanos - t0) / 1e9)
    }
  }

  def keep(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    kept += p
    (p, p.count())
  }

  def check(what: String, ok: => Boolean): Unit = untimed(checks(what, ok))

  /** Work inside the pass that its wall time leaves out. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally checkNanos += System.nanoTime() - t0
  }

  /** MiB of cached blocks (memory + disk) when the pass ended, before [[release]]. */
  var persistedMb = 0.0

  /** The `cache` layer: drop everything this pass and the engine persisted. */
  def release(): Unit = layer("cache") {
    persistedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    graft.CacheTracker.release(spark)
    kept.foreach(_.unpersist(blocking = true))
    kept.clear()
  }

  /** Wall time from the first span's start to the last span's end, less checks. */
  def seconds: Double = (lastNanos - firstNanos - checkNanos) / 1e9
}
