package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Each one is a pure function of its size and the
  * workload seed, so one seed always gives the same rows. The engine sees only
  * the parquet these write. */
object Inputs {

  /** Transcript turns `(conv_id, turn_idx, role, text, tool, ts)` from the
    * engine's own transcript synthesizer, seeded by the workload seed. */
  def transcripts(spark: SparkSession, seed: Long, convs: Long, turns: Int, tools: Int,
      skew: Double): DataFrame =
    graft.Transcripts.synth(spark, convs, turns, seed, tools, skew).toDF()

  /** Canonical co-occurrence edges `(src < dst)` of a transcript table, derived
    * here rather than by `Ingest` so that workloads which do not measure ingest
    * never call it. Participants are the two roles (ids 0 and 1) and the tools
    * (`tool-N` gets id N + 2); every pair in one conversation is an edge. */
  def cooccurrenceEdges(turns: DataFrame): DataFrame = {
    val role = when(col("role") === "user", lit(0L)).otherwise(lit(1L))
    val tool = regexp_extract(col("tool"), "^tool-([0-9]+)$", 1).cast("long") + lit(2L)
    turns.select(col("conv_id"), role.as("p"))
      .unionAll(turns.where(col("tool").isNotNull).select(col("conv_id"), tool.as("p")))
      .groupBy("conv_id").agg(array_sort(collect_set(col("p"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x as src, y as dst))))"
      )).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
  }

  /** A near-duplicate-heavy corpus `(doc_id, text)` of the same shape as the
    * engine's scaling corpus: a fifth of the docs reuse one of `nDocs / 50`
    * shared templates, every doc gets 1-4 private salt tokens, and tokens are
    * vocab words with a numeric suffix (length-diverse, ~48k distinct). Every
    * hash is mixed with the seed. */
  def docs(spark: SparkSession, seed: Long, nDocs: Long): DataFrame = {
    val vocab = array(Seq(
      "plan", "scan", "join", "agg", "shuffle", "filter", "sort", "hash",
      "merge", "batch", "stream", "vector", "column", "row", "key", "value",
      "graph", "edge", "vertex", "triangle", "rank", "label", "component", "degree",
      "read", "write", "spill", "broadcast", "partition", "skew", "salt", "codegen"
    ).map(lit): _*)
    def mix(salt: Long, cs: Column*): Column = xxhash64(lit(seed) +: lit(salt) +: cs: _*)
    def token(salt: Long, key: Column, j: Column): Column = {
      val t = mix(salt, key, j)
      concat(element_at(vocab, pmod(t, lit(32L)).cast("int") + 1), pmod(xxhash64(t), lit(1500L)))
    }
    val h = pmod(mix(7L, col("id")), lit(1000000007L))
    val tpl = when(pmod(h, lit(10L)) < 2,
      pmod(mix(11L, col("id")), lit(math.max(1L, nDocs / 50))))
      .otherwise(col("id"))
    val nTok = pmod(mix(13L, tpl), lit(41L)).cast("int") + lit(40)
    val base = transform(sequence(lit(0), nTok), j => token(17L, tpl, j))
    val salt = transform(sequence(lit(0), pmod(h, lit(4L)).cast("int")), j => token(19L, col("id"), j))
    spark.range(nDocs)
      .select(col("id").as("doc_id"), concat_ws(" ", flatten(array(base, salt))).as("text"))
  }

  /** Row count and an order-independent hash of every column: equal summaries
    * mean equal inputs (up to hash collisions). */
  def summary(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col): _*)), lit(0L)))
      .first()
    (r.getLong(0), r.getLong(1))
  }

  /** Degree-ordered orientation `(src, dst)` by the engine's rule (lower degree
    * first, ties by smaller id), computed here so that the triangle budget and
    * the probe counts never read the engine back. */
  def orient(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("src").as("v")).unionAll(edges.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val keep = col("ds") < col("dd") || (col("ds") === col("dd") && col("src") < col("dst"))
    edges
      .join(deg.select(col("v").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("v").as("dst"), col("d").as("dd")), "dst")
      .select(when(keep, col("src")).otherwise(col("dst")).as("src"),
        when(keep, col("dst")).otherwise(col("src")).as("dst"))
  }

  /** Out-degree `(v, d)` of every vertex with an oriented edge. */
  def outDegrees(edges: DataFrame): DataFrame =
    orient(edges).groupBy(col("src").as("v")).agg(count(lit(1)).as("d"))

  /** The adjacency size estimate the triangle kernels compare with their
    * broadcast budget: 8 B per oriented edge plus 24 B per source vertex. */
  def adjacencyBytes(outDeg: DataFrame): Long = {
    val r = outDeg.agg(coalesce(sum(col("d")), lit(0L)), count(lit(1))).first()
    8L * r.getLong(0) + 24L * r.getLong(1)
  }
}
