package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints one `PERFBENCH {json}` line.
  *
  * {{{
  *   Main run --workload W --seed N --seconds S --trace 0|1 --cores C
  *            --launch-ms T --work DIR [--expect k=v,...]
  *   Main selftest --seed N --cores C
  * }}}
  *
  * `perfbench/run.py` builds the classpath, pins the JVM and launches this. */
object Main {
  val setupReps = 3

  val allLayers: Seq[String] = Seq("ingest", "degrees", "orient", "adjacency", "triangles",
    "per_vertex", "pagerank", "components", "lpa", "dedup_exact", "minhash", "cache")
  val countNames: Seq[String] = Seq("ingest.edges_per_pair", "adjacency.bytes_est",
    "adjacency.max_outdeg", "probe.merge_steps", "probe.ratio_p50", "probe.ratio_p99")

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("run") => run(opts, mainMs)
      case Some("selftest") => selftest(opts)
      case other => sys.error(s"unknown mode $other (run | selftest)")
    }
  }

  def session(cores: Int): SparkSession = {
    val spark = graft.Bench.session(cores.toString)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def run(opts: Map[String, String], mainMs: Long): Unit = {
    val w = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    def inputPath(name: String) = s"${opts("work")}/$name"
    val expect = opts.get("expect").filter(_.nonEmpty).toSeq.flatMap(_.split(","))
      .map { kv => val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
    val checks = new Checks

    // set-up: session start + generating the input, then reopening it and
    // preparing the deployment; the start and reopen are repeated
    var spark: SparkSession = null
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val summaries = mutable.ArrayBuffer.empty[Seq[(Long, Long)]]
    def open() = w.inputs.map { case (name, _) => name -> spark.read.parquet(inputPath(name)) }.toMap
    for (rep <- 1 to setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores)
      if (rep == 1)
        for ((name, gen) <- w.inputs) gen(spark, seed).write.mode("overwrite").parquet(inputPath(name))
      val in = open()
      summaries += w.inputs.map { case (name, _) => Inputs.summary(in(name)) }
      w.prepare(spark, in)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val setupS = (mainMs - opts("launch-ms").toLong) / 1e3 + median(setupTimes.toSeq)
    System.err.println(f"[perfbench] jvm start ${(mainMs - opts("launch-ms").toLong) / 1e3}%.2f s, " +
      s"set-up reps ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s")
    checks("every reopening reads the same input", summaries.distinct.size == 1)
    val inputRows = w.inputs.map(_._1).zip(summaries.head.map(_._1)).toMap
    val rows = inputRows.values.sum
    val inputHash = summaries.head.map(_._2).reduce(_ ^ _)
    val input = open()

    // passes: one cold, then warm ones until the run length is used up; traced
    // runs alternate listener-on and listener-off warm passes
    val listener = new LayerListener
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val untracedTimes = mutable.ArrayBuffer.empty[Double]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val outcomes = mutable.ArrayBuffer.empty[Map[String, Long]]
    var heapMb = 0.0
    val runStart = System.nanoTime()
    def elapsed = (System.nanoTime() - runStart) / 1e9
    var failedPass = false
    // a traced run needs one listener-on and one listener-off warm pass
    val minWarm = if (trace) 2 else 1
    while (!failedPass && (passTimes.size <= minWarm || elapsed < seconds)) {
      val warm = passTimes.nonEmpty
      val traced = trace && warm && passTimes.size % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val gc0 = Jvm.gcSeconds
      var gcS = 0.0
      val p = new Pass(spark, checks)
      try {
        outcomes += w.pass(p, input, inputRows)
        gcS = Jvm.gcSeconds - gc0
        val live = p.untimed(Jvm.liveHeapMb())
        heapMb = heapMb max live
        p.release()
        passTimes += p.seconds
        System.err.println(f"[perfbench] pass ${passTimes.size}: ${p.seconds}%.3f s, live heap $live%.1f MiB")
      } catch { case e: Throwable =>
        e.printStackTrace()
        failedPass = true
      }
      if (traced) {
        org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val stats = listener.collect(p.spans.toSeq, cores)
        if (!failedPass) {
          tracedTimes += p.seconds
          layerRows += (allLayers.flatMap { l =>
            stats.getOrElse(l, LayerStats(0, 0, 0, 0, 0, 0, 0)).metrics(l)
          } ++ Seq(
            "jvm.gc_s" -> gcS,
            "cache.persisted_mb" -> p.persistedMb,
            "trace.span_cover" -> p.spans.map(_.secs).sum / p.seconds)).toMap
        }
      } else if (warm && !failedPass) untracedTimes += p.seconds
    }
    checks("every pass gives the same outcome", outcomes.distinct.size == 1)

    // untimed checks against reference values and, on the default seed, the
    // committed expected values
    if (outcomes.nonEmpty) {
      val facts = w.verify(spark, input, outcomes.head, checks) ++
        Map("rows" -> rows, "input_hash" -> inputHash)
      System.err.println("[perfbench] facts " + facts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))
      for ((k, v) <- expect) checks(s"$k equals the committed value $v", facts.get(k).contains(v))
    }

    val warmS = median(passTimes.drop(1).toSeq)
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "cold_s" -> passTimes.headOption.getOrElse(0.0),
        "warm_s" -> warmS,
        "rows_per_s" -> (if (warmS > 0) rows / warmS else 0.0),
        "peak_heap_mb" -> heapMb,
        "ok_frac" -> (1.0 - checks.failed.toDouble / math.max(1L, checks.attempted)))
      else {
        val counts = w.traceCounts(spark, input).toMap
        val layerMedians = layerRows.headOption.toSeq.flatMap(_.keys).map(k => k -> median(layerRows.map(_(k)).toSeq))
        layerMedians ++ countNames.map(k => k -> counts.getOrElse(k, 0.0)) ++ Seq(
          "cache.evictions" -> graft.CacheTracker.evictionCount(spark).toDouble,
          "trace.overhead_frac" -> (median(tracedTimes.toSeq) / median(untracedTimes.toSeq) - 1.0))
      }
    // a later warm pass slower than twice the fastest one: someone else's load
    val warmTimes = passTimes.drop(1)
    val spreadContended = warmTimes.size >= 2 && warmTimes.drop(1).max > 2 * warmTimes.min
    System.err.println(f"[perfbench] ${w.name} seed=$seed passes=${passTimes.map(t => f"$t%.3f").mkString(" ")} " +
      f"warm_samples=${warmTimes.size} rows=$rows (${w.rowsOf})")
    spark.stop()
    println("PERFBENCH " + json(checks, metrics, Map(
      "warm_samples" -> warmTimes.size.toString, "spread_contended" -> spreadContended.toString)))
  }

  def json(checks: Checks, metrics: Seq[(String, Double)], info: Map[String, String]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    val m = metrics.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val i = info.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    s"""{"correct":${checks.failed == 0},"attempted":${checks.attempted},"failed":${checks.failed},"metrics":$m,"info":$i}"""
  }

  /** The same seed gives the same input summary, another seed a different one. */
  def selftest(opts: Map[String, String]): Unit = {
    val seed = opts("seed").toLong
    val spark = session(opts("cores").toInt)
    val checks = new Checks
    for (w <- Workloads.all; (name, gen) <- w.inputs) {
      val a = Inputs.summary(gen(spark, seed))
      val b = Inputs.summary(gen(spark, seed))
      val c = Inputs.summary(gen(spark, seed + 1))
      System.err.println(s"[perfbench] selftest ${w.name}/$name: seed $seed -> $a, again -> $b, seed ${seed + 1} -> $c")
      checks(s"${w.name}/$name: the same seed gives the same input", a == b)
      checks(s"${w.name}/$name: another seed gives another input", a._2 != c._2)
    }
    spark.stop()
    println("PERFBENCH " + json(checks, Nil, Map.empty))
  }
}
