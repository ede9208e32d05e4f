package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Components, GraphCore, Ingest, LabelProp, PageRank, TriangleCount}
import graft.docs.Dedup

/** Seeded inputs plus the layers one pass runs over them. A pass returns its
  * outcome (counts and checksums); every pass of a run must return the same one. */
trait Workload {
  def name: String
  /** What `rows_per_s` counts. */
  def rowsOf: String
  /** Input names with their seeded generators. */
  def inputs: Seq[(String, (SparkSession, Long) => DataFrame)]
  /** Deployment set-up that depends on the inputs (timed as set-up). */
  def prepare(spark: SparkSession, in: Map[String, DataFrame]): Unit = ()
  /** One pass over the inputs; `rows` holds their row counts. */
  def pass(p: Pass, in: Map[String, DataFrame], rows: Map[String, Long]): Map[String, Long]
  /** Untimed, once per run: reference values computed outside the measured
    * kernels, checked against the first pass's outcome. Returns the facts that
    * the committed expected values are compared with. */
  def verify(spark: SparkSession, in: Map[String, DataFrame], outcome: Map[String, Long], check: Checks): Map[String, Long]
  /** Untimed, traced runs only: counts that explain the layers' work. */
  def traceCounts(spark: SparkSession, in: Map[String, DataFrame]): Seq[(String, Double)]
}

object Workloads {
  val all: Seq[Workload] = Seq(TranscriptsGraph, ScalePaths)
  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))

  /** degrees → orient → adjacency → global triangles (→ per-vertex triangles)
    * on a canonical edge table with `nEdges` rows. */
  def trianglePipeline(p: Pass, edges: DataFrame, nEdges: Long, perVertex: Boolean): Map[String, Long] = {
    val (deg, nV) = p.layer("degrees") { p.keep(GraphCore.degrees(edges)) }
    val (oriented, nO) = p.layer("orient") { p.keep(GraphCore.orient(edges, deg)) }
    val (adj, _) = p.layer("adjacency") { p.keep(GraphCore.adjacency(oriented)) }
    val tri = p.layer("triangles") {
      TriangleCount.globalAdjacency(p.spark, oriented, adj).first().getLong(0)
    }
    p.check("one oriented edge per edge", nO == nEdges)
    val out = Map("edges" -> nEdges, "vertices" -> nV, "triangles" -> tri)
    if (!perVertex) out
    else {
      val pv = p.layer("per_vertex") { perVertexSummary(TriangleCount.perVertexAdjacency(edges, oriented, adj)) }
      p.check("per-vertex counts sum to 3 x global", pv._1 == 3 * tri)
      p.check("one per-vertex row per vertex", pv._2 == nV)
      out + ("per_vertex_checksum" -> pv._3)
    }
  }

  /** PageRank (10 iterations) → connected components → label propagation (2
    * steps) on a canonical edge table with `nVertices` vertices. */
  def iterativeKernels(p: Pass, edges: DataFrame, nVertices: Long): Map[String, Long] = {
    val pr = p.layer("pagerank") {
      PageRank.fixedIterations(edges, 10).agg(sum(col("pr")), count(lit(1))).first()
    }
    val (comps, nComps) = p.layer("components") { p.keep(Components.run(edges)) }
    val (lpa, nLpa) = p.layer("lpa") { p.keep(LabelProp.run(edges, 2)) }
    p.check("PageRank sums to 1", math.abs(pr.getDouble(0) - 1.0) < 1e-6)
    p.check("one PageRank row per vertex", pr.getLong(1) == nVertices)
    p.check("one component row per vertex", nComps == nVertices)
    p.check("component labels agree across every edge",
      edges.join(comps.select(col("v").as("src"), col("component").as("cs")), "src")
        .join(comps.select(col("v").as("dst"), col("component").as("cd")), "dst")
        .where(col("cs") =!= col("cd")).isEmpty)
    p.check("every component label is at most its vertex", comps.where(col("component") > col("v")).isEmpty)
    p.check("one LPA row per vertex", nLpa == nVertices && lpa.select("v").distinct().count() == nLpa)
    Map("components" -> comps.select("component").distinct().count(),
      "lpa_labels" -> lpa.select("label").distinct().count())
  }

  /** (Σ tri_cnt, rows, Σ (v mod p) · tri_cnt) of a per-vertex triangle table. */
  def perVertexSummary(pv: DataFrame): (Long, Long, Long) = {
    val r = pv.agg(coalesce(sum(col("tri_cnt")), lit(0L)), count(lit(1)),
      coalesce(sum(pmod(col("v"), lit(1000003L)) * col("tri_cnt")), lit(0L))).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Adjacency size and the sorted-intersect probe's work: Σ(|N⁺u| + |N⁺v|) over
    * oriented edges and the operand-size ratio max/min at its median and 99th
    * percentile. */
  def probeCounts(edges: DataFrame): Seq[(String, Double)] = {
    val out = Inputs.outDegrees(edges).persist()
    try {
      val r = Inputs.orient(edges)
        .join(out.select(col("v").as("src"), col("d").as("du")), Seq("src"), "left")
        .join(out.select(col("v").as("dst"), col("d").as("dv")), Seq("dst"), "left")
        .select(coalesce(col("du"), lit(0L)).as("du"), coalesce(col("dv"), lit(0L)).as("dv"))
        .select((col("du") + col("dv")).as("steps"),
          (greatest(col("du"), col("dv")) / greatest(least(col("du"), col("dv")), lit(1L))).as("ratio"))
        .agg(sum(col("steps")), percentile(col("ratio"), lit(0.5)), percentile(col("ratio"), lit(0.99)))
        .first()
      Seq(
        "adjacency.bytes_est" -> Inputs.adjacencyBytes(out).toDouble,
        "adjacency.max_outdeg" -> out.agg(max(col("d"))).first().getLong(0).toDouble,
        "probe.merge_steps" -> r.getLong(0).toDouble,
        "probe.ratio_p50" -> r.getDouble(1),
        "probe.ratio_p99" -> r.getDouble(2))
    } finally out.unpersist(true)
  }

  /** Global triangles with the broadcast placement forced, whatever the
    * session budget says. */
  def broadcastReference(spark: SparkSession, edges: DataFrame): Long = {
    val oriented = GraphCore.orient(edges, GraphCore.degrees(edges)).persist()
    val adj = GraphCore.adjacency(oriented).persist()
    try TriangleCount.globalAdjacency(spark, oriented, adj, maxBroadcastBytes = Long.MaxValue).first().getLong(0)
    finally {
      graft.CacheTracker.release(spark)
      adj.unpersist(true); oriented.unpersist(true)
    }
  }
}

import Workloads._

/** Transcripts → co-occurrence edges → triangle kernels in the broadcast
  * placement → PageRank, components and LPA on the same hub-heavy graph (every
  * tool hangs off the two role hubs). */
object TranscriptsGraph extends Workload {
  val name = "transcripts-graph"
  val rowsOf = "turns"
  val (convs, turns, tools, skew) = (80000L, 4, 16000, 3.0)

  /** The turns without their text, which ingest never reads. */
  val inputs = Seq("turns" -> ((spark: SparkSession, seed: Long) =>
    Inputs.transcripts(spark, seed, convs, turns, tools, skew).drop("text")))

  def pass(p: Pass, in: Map[String, DataFrame], rows: Map[String, Long]): Map[String, Long] = {
    val (edges, nEdges) = p.layer("ingest") { p.keep(Ingest.edgesFromTranscripts(in("turns"))) }
    val tri = trianglePipeline(p, edges, nEdges, perVertex = true)
    tri ++ iterativeKernels(p, edges, tri("vertices"))
  }

  def verify(spark: SparkSession, in: Map[String, DataFrame], outcome: Map[String, Long], check: Checks): Map[String, Long] =
    outcome.view.filterKeys(Set("edges", "vertices", "triangles", "components")).toMap

  def traceCounts(spark: SparkSession, in: Map[String, DataFrame]): Seq[(String, Double)] = {
    val turns = in("turns")
    val rawPairs = turns.select(col("conv_id"), col("role").as("p"))
      .unionAll(turns.where(col("tool").isNotNull).select(col("conv_id"), col("tool").as("p")))
      .groupBy("conv_id").agg(countDistinct(col("p")).as("n"))
      .agg(sum(col("n") * (col("n") - 1) / 2)).first().getDouble(0)
    val edges = Ingest.edgesFromTranscripts(turns).persist()
    try ("ingest.edges_per_pair" -> edges.count() / rawPairs) +: probeCounts(edges)
    finally edges.unpersist(true)
  }
}

/** The two kernels in their scale-path configuration. The global triangle count
  * runs on an edge table whose adjacency just exceeds the session's broadcast
  * budget, so the auto-select takes the sharded chunk-pair placement; exact
  * dedup and MinHash-LSH pairs run on a seeded corpus at the corpus-scale
  * setting (13-char shingles, 64 perms, 16 bands, threshold 0.35). */
object ScalePaths extends Workload {
  val name = "scale-paths"
  val rowsOf = "edges + docs"
  val (convs, turns, tools, skew) = (8000L, 20, 1000, 3.0)
  val nDocs = 15000L
  /** Budget as a share of the benchmark's own adjacency estimate. */
  val budgetShare = 0.97
  /** Pair jobs in flight; at 2 the sharded kernel cuts the adjacency in 3 shards. */
  val pairConcurrency = 2

  val inputs = Seq(
    "edges" -> ((spark: SparkSession, seed: Long) =>
      Inputs.cooccurrenceEdges(Inputs.transcripts(spark, seed, convs, turns, tools, skew))),
    "docs" -> ((spark: SparkSession, seed: Long) => Inputs.docs(spark, seed, nDocs)))

  override def prepare(spark: SparkSession, in: Map[String, DataFrame]): Unit = {
    val budget = (Inputs.adjacencyBytes(Inputs.outDegrees(in("edges"))) * budgetShare).toLong
    spark.conf.set("spark.graft.maxBroadcastBytes", budget.toString)
    spark.conf.set("spark.graft.pairConcurrency", pairConcurrency.toString)
  }

  def pass(p: Pass, in: Map[String, DataFrame], rows: Map[String, Long]): Map[String, Long] = {
    val tri = trianglePipeline(p, in("edges"), rows("edges"), perVertex = false)
    val docs = in("docs")
    val (exact, nExact) = p.layer("dedup_exact") { p.keep(Dedup.exact(docs)) }
    val (pairs, nPairs) = p.layer("minhash") { p.keep(Dedup.minhashLshPairs(docs, 13, 64, 16, 0.35)) }
    p.check("every canonical id is at most its doc id", exact.where(col("canonical_id") > col("doc_id")).isEmpty)
    p.check("minhash pairs are ordered a < b", pairs.where(col("a") >= col("b")).isEmpty)
    p.check("minhash pairs are unique", pairs.select("a", "b").distinct().count() == nPairs)
    tri ++ Map("exact_rows" -> nExact, "exact_dups" -> exact.where(col("is_dup")).count(), "minhash_pairs" -> nPairs)
  }

  def verify(spark: SparkSession, in: Map[String, DataFrame], outcome: Map[String, Long], check: Checks): Map[String, Long] = {
    val tri = broadcastReference(spark, in("edges"))
    check("sharded global triangles equal the broadcast placement", outcome("triangles") == tri)
    check("one exact-dedup row per doc", outcome("exact_rows") == in("docs").count())
    outcome.view.filterKeys(Set("edges", "vertices", "triangles", "exact_dups", "minhash_pairs")).toMap
  }

  def traceCounts(spark: SparkSession, in: Map[String, DataFrame]): Seq[(String, Double)] =
    probeCounts(in("edges"))
}
