package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (north-rule kernel #3).
  *
  * Each superstep, every vertex adopts the most frequent label among its
  * in-neighbors; ties break to the MINIMUM label (deterministic under any
  * partitioning — required for exact-match verification). Vertices with no
  * neighbors keep their label. Initial label = vid unless a seed frame is
  * given.
  *
  * Reference seed semantics: label assignment/refinement — GSDMM
  * one-topic-per-doc resampling (CitationGraphs.go:1747-1822), argmax
  * communities (:3236-3259), label histograms (:3886-3896) — generalized to
  * the synchronous propagation fixpoint.
  *
  * The per-vertex mode is computed as `groupBy(vid, label)` vote counts
  * (self-loops vote with weight 0 — see [[run]]) followed by a
  * `row_number` window ordered `(count DESC, label ASC)`; no driver-side
  * state, no join-back to the state frame. AQE stays on — see
  * [[ConnectedComponents.hashMin]].
  */
object LabelPropagation {

  /** Runs on the [[Supersteps]] driver (resume, `stepsPerJob` fusion,
    * `checkpointEvery` cadence, final commit); the fixed iteration count
    * makes fusion trajectory-exact. Iterates over the shared
    * [[ConnectedComponents.Undirected]] layout: its self-loop per vertex
    * delivers each vertex its own label with vote weight 0 through the
    * SAME aggregate that counts the neighbors' votes, so the state frame is
    * consumed exactly once per superstep and lazy block fusion never
    * duplicates the chained subplan (see [[ConnectedComponents.hashMin]]).
    * The vertex universe keeps vertices whose only edges are self-loops:
    * each keeps its own label via its weight-0 self-loop vote. */
  def run(
      spark: SparkSession,
      edges: DataFrame,
      numIters: Int = 10,
      seedLabels: DataFrame = null, // (vid, label); default = vid
      checkpointTable: String = null,
      checkpointEvery: Int = 1,
      stepsPerJob: Int = 1): DataFrame = {
    val g = new ConnectedComponents.Undirected(edges)

    // seeds are aligned to the graph's vertex set: unlabeled vertices start
    // at their own vid, seed rows for vids outside the graph are dropped
    // (the propagation domain is the graph)
    def init: DataFrame = Option(seedLabels)
      .map(s => g.vertices
        .join(s.select(col("vid"), col("label").as("seed")), Seq("vid"), "left")
        .select(col("vid"), coalesce(col("seed"), col("vid")).as("label")))
      .getOrElse(g.vertices.withColumn("label", col("vid")))

    // one chained superstep: each vertex adopts its in-neighbors' modal
    // label (ties to the minimum), keeps its own when isolated — the
    // self-loop (src = dst) contributes the own label at vote weight 0, so
    // it wins exactly when no labeled in-neighbor exists
    def superstep(st: DataFrame): DataFrame = {
      val counts = g.edges
        .join(st.select(col("vid").as("src"), col("label")), "src")
        .groupBy(col("dst").as("vid"), col("label"))
        .agg(sum((col("src") =!= col("dst")).cast("int")).as("cnt"))
      val w = Window.partitionBy("vid").orderBy(desc("cnt"), asc("label"))
      counts
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("vid"), col("label"))
    }

    try Supersteps.iterate(spark, init, (st, _) => superstep(st), numIters,
      checkpointTable, checkpointEvery, stepsPerJob).state
    finally g.unpersist()
  }
}
