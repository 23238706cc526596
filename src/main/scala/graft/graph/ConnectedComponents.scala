package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.Graphs

/** Connected components (north-rule kernel #2), two interchangeable
  * algorithms over the undirected (symmetrized) edge table:
  *
  *  - [[hashMin]]: synchronous min-label propagation — component id of v =
  *    min vid reachable from v; converges in O(diameter) supersteps. Simple,
  *    exact, and the semantics referee for the star variant.
  *  - [[smallStarLargeStar]]: the alternating small-star/large-star edge
  *    rewriting of Kiveris et al. ("Connected Components in MapReduce and
  *    Beyond", SoCC'14) — O(log n) rounds on high-diameter graphs, the
  *    scale path for 10^12-vertex web graphs.
  *
  * Both return `(vid LONG, component LONG)` with component = min member vid
  * (deterministic) and both run on the [[Supersteps]] driver; [[hashMin]]
  * checkpoints per-superstep state via [[graft.io.TableIO]].
  * The reference consumes CC semantics through its DBSCAN community
  * expansion (CitationGraphs.go:2873) — ε-threshold similarity graph
  * components; this kernel is that expansion made distributed.
  */
object ConnectedComponents {

  /** Symmetrize + dedup: every undirected edge present in both directions,
    * self-loops dropped.
    *
    * Shape (guide §2.3 — shuffle fewer bytes): dedup the canonical
    * `(min, max)` pairs FIRST ([[Graphs.canonical]]), then mirror the
    * deduped set with a narrow projection. The dedup exchange carries |E|
    * canonical rows instead of the 2|E| rows a mirror-then-distinct form
    * shuffles, with an identical output set (the mirror of a strict u<v
    * set cannot collide with the set itself). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val canon = Graphs.canonical(edges)
    canon.select(col("u").as("src"), col("v").as("dst"))
      .union(canon.select(col("v").as("src"), col("u").as("dst")))
  }

  /** The undirected layout [[hashMin]] and [[LabelPropagation]] iterate
    * over and [[Triangles]] orients: ONE frame `edges (src, dst)`, the
    * symmetric non-loop edges plus ONE self-loop per vertex, in the
    * [[Graphs.csrLayout]] CSR blocks and persisted at
    * [[graft.GraftSession.storageLevel]].
    *
    * One pass over the input emits `(s,d)`, `(d,s)`, `(s,s)` and `(d,d)`
    * per row; the dedup runs inside the `src` exchange, so the layout costs
    * one exchange. Every endpoint gets its loop, so loop-only vertices
    * stay in the vertex universe, and a genuine self-edge is that loop. The
    * loops feed each vertex its own state through the same aggregate that
    * feeds it its neighbors' (single-use state — see [[hashMin]]), at +|V|
    * rows on 2|E|. Like [[PageRank.prepare]]'s layout it is built with AQE
    * off ([[Supersteps.withoutAqe]]), so the cached edges keep their `src`
    * partitioning and no superstep re-shuffles them.
    *
    * The vertex set and a kernel's start states are read off the loop rows
    * by [[start]] as `(src AS vid, dst AS label)`. `dst` is no alias of
    * `vid`, so the start state reports `hashpartitioning(vid)` alone; a
    * `label` aliased to `vid` would report `hashpartitioning(label) or
    * hashpartitioning(vid)`, of which a local checkpoint keeps only the
    * first, and the first superstep would re-shuffle the state. */
  private[graph] final class Undirected(input: DataFrame) {
    val edges: DataFrame = Supersteps.withoutAqe(input.sparkSession) {
      Graphs.csrLayout(input
          .select(stack(lit(4), col("src"), col("dst"), col("dst"), col("src"),
            col("src"), col("src"), col("dst"), col("dst")).as(Seq("src", "dst")))
          .repartition(col("src"))
          .distinct())
        .persist(GraftSession.storageLevel)
    }

    /** `(vid, label)`: every vertex, labeled with its own vid. */
    def start(label: String): DataFrame = edges.where(col("src") === col("dst"))
      .select(col("src").as("vid"), col("dst").as(label))

    def unpersist(): Unit = edges.unpersist()
  }

  /** Runs on the [[Supersteps]] driver (resume, `stepsPerJob` fusion,
    * `checkpointEvery` cadence, final commit); each manifest also records
    * the block's `changed` count. Block fusion is safe because min
    * propagation is monotone — a block that changes nothing proves the
    * fixpoint was already reached, so block-granular convergence stops at
    * the same labels as step-granular.
    *
    * Superstep shape: the state frame is consumed exactly ONCE per
    * superstep — the edge table carries an explicit self-loop per vertex,
    * so `min(own, neighbors)` is a single `edges ⋈ state → groupBy(dst)
    * min` with no join-back (the join-back form references the uncached
    * state twice, which under lazy block fusion doubles the subplan per
    * chained step — exponential in the block size). One exchange per
    * superstep: the state arrives partitioned on vid, from the first block
    * on (the start state read off [[Undirected.start]], then each previous
    * aggregate), the edge side is cached pre-partitioned on src, and only
    * the `groupBy(dst)` shuffles. The block-end changed-count is the
    * driver's convergence action, so it materializes the block in the same
    * job (one action per block, not two). */
  def hashMin(
      spark: SparkSession,
      edges: DataFrame,
      maxIters: Int = 100,
      checkpointTable: String = null,
      checkpointEvery: Int = 1,
      stepsPerJob: Int = 1): DataFrame = {
    val g = new Undirected(edges)

    // one chained superstep over (vid, component, prev): candidate = min
    // over in-neighbors ∪ self (the self-loop row); `prev` (the block-start
    // label) rides along on the self-loop row for the block-end
    // convergence check
    def superstep(st: DataFrame): DataFrame = g.edges
      .join(st.select(col("vid").as("src"), col("component"), col("prev")), "src")
      .groupBy(col("dst").as("vid"))
      .agg(min(col("component")).as("component"),
        max(when(col("src") === col("dst"), col("prev"))).as("prev"))

    try Supersteps.iterate(spark,
        init = g.start("component"),
        step = (st, _) => superstep(st),
        maxIters = maxIters,
        checkpointTable = checkpointTable,
        checkpointEvery = checkpointEvery,
        stepsPerJob = stepsPerJob,
        snapshot = _.select("vid", "component"),
        beginBlock = _.withColumn("prev", col("component")),
        converged = Some { (_, next) =>
          val changed = next.where(col("component") =!= col("prev")).count()
          Supersteps.Check(changed == 0L, Map("changed" -> changed.toDouble))
        }).state
    finally g.unpersist()
  }

  /** Alternating large-star / small-star until the edge set reaches
    * fixpoint; then component(v) = its parent in the resulting star forest.
    *
    * large-star: ∀u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    * small-star: ∀u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v ≤ u
    * (plus (u, m)). Edge lists are kept as directed pairs with the
    * neighborhood grouped on `u`.
    *
    * Runs on the [[Supersteps]] driver with the edge set as its state: one
    * superstep is a large-star round followed by a small-star round, and
    * the driver releases each replaced edge set. No table: the state is an
    * edge set, not the `(vid, component)` rows a snapshot would hold.
    */
  def smallStarLargeStar(
      spark: SparkSession,
      edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    // invariant: pairs (u, v) with v < u ("child -> smaller neighbor"):
    // the canonical pairs, flipped. Symmetrize-then-recanonicalize would
    // dedup the same |E| set through a 2|E|-row exchange (guide §2.3)
    def init: DataFrame = Graphs.canonical(edges)
      .select(col("v").as("u"), col("u").as("v"))

    def minNeighbor(e: DataFrame): DataFrame = e.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))

    def superstep(e: DataFrame): DataFrame = {
      // ---- large-star on the symmetric view: connect every neighbor
      // larger than u to m
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val large = sym.join(minNeighbor(sym), "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      val afterLarge = large.union(e).distinct()
      // ---- small-star
      val small = afterLarge.join(minNeighbor(afterLarge), "u")
        .select(col("u"), col("v"), col("m"))
      small.select(col("v").as("u"), col("m").as("v"))
        .union(small.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
    }

    // cheap convergence signature: (edge count, xor of edge hashes). Two
    // full `except`s per round cost two extra distinct-shuffles; instead we
    // compare signatures (one aggregation each) and only when they match run
    // ONE confirming one-sided except (counts equal + A∖B empty ⇒ A = B).
    // A round's new edge set is the next round's start, so the last
    // signature is remembered by reference and each set is aggregated once;
    // that aggregation also materializes the driver's lazy checkpoint.
    var last: (DataFrame, (Long, Long)) = (null, (0L, 0L))
    def sig(df: DataFrame): (Long, Long) =
      if (last._1 eq df) last._2
      else {
        val r = df.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
        last = (df, (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)))
        last._2
      }

    val forest = Supersteps.iterate(spark, init, (e, _) => superstep(e), maxIters,
      checkpointTable = null, checkpointEvery = 1,
      converged = Some((prev, next) => Supersteps.Check(
        sig(prev) == sig(next) && next.except(prev).isEmpty, Map.empty))).state
    // star forest: every u points at its component min v; roots are their
    // own. The universe comes from raw endpoints — an endpoint-level
    // distinct, strictly cheaper than the (src,dst)-pair distinct a
    // re-symmetrize would shuffle, and it keeps self-loop-only vertices
    // (singleton components) that symmetrize would drop.
    val vertices = edges.select(col("src").as("vid"))
      .union(edges.select(col("dst").as("vid"))).distinct()
    vertices.join(forest.select(col("u").as("vid"), col("v").as("component")),
        Seq("vid"), "left")
      .groupBy("vid").agg(min(coalesce(col("component"), col("vid"))).as("component"))
  }
}
