package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

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

  /** Symmetrize + dedup: every undirected edge present in both directions.
    *
    * Shape (guide §2.3 — shuffle fewer bytes): canonicalize each edge to
    * `(min, max)` FIRST and dedup that, then mirror the deduped set with a
    * narrow projection. The dedup exchange now carries |E| canonical rows
    * instead of the 2|E| rows the mirror-then-distinct form shuffled —
    * half the bytes through the only exchange of the operator, with an
    * identical output set (a directed pair and its reverse canonicalize to
    * the same row; the mirror of a strict-u<v set cannot collide with the
    * set itself, so no second distinct is needed). */
  def symmetrize(edges: DataFrame): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    canon.union(canon.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The undirected layout [[hashMin]] and [[LabelPropagation]] iterate
    * over: `vertices (vid)` and `edges (src, dst)`, the symmetric non-loop
    * edges plus ONE self-loop per vertex, all persisted at
    * [[graft.GraftSession.storageLevel]].
    *
    * ONE scan of the input feeds the whole setup: the canonical (min,max)
    * edge rows — INCLUDING self-loop rows, so the vertex universe keeps
    * loop-only vertices (referee-pinned r5 fix) — are deduped once and
    * persisted; both the vertex universe and the symmetrized table derive
    * from that cache, and the canonical dedup shuffles |E| rows instead of
    * the 2|E| a mirror-then-distinct would (guide §2.3/§2.4). The edges end
    * in repartition(src) + sortWithinPartitions (CSR blocks): distinct's
    * (src,dst) hash partitioning does NOT satisfy the per-iteration join's
    * clustering on src. The self-loops feed each vertex its own state
    * through the same aggregate that feeds it the neighbors' (single-use
    * state — see [[hashMin]]), at +|V| rows on 2|E|. Genuine self-edges are
    * dropped, so `src = dst` identifies the added loops exactly. Like
    * [[PageRank.prepare]]'s layout it is built with AQE off, so the cached
    * edges keep their `src` partitioning and no superstep re-shuffles them. */
  private[graph] final class Undirected(input: DataFrame) {
    private val canon = input
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .persist(GraftSession.storageLevel)
    val vertices: DataFrame = canon.select(col("src").as("vid"))
      .union(canon.select(col("dst").as("vid"))).distinct()
      .persist(GraftSession.storageLevel)
    private val sym0 = canon.where(col("src") =!= col("dst"))
    val edges: DataFrame = sym0
      .union(sym0.select(col("dst").as("src"), col("src").as("dst")))
      .union(vertices.select(col("vid").as("src"), col("vid").as("dst")))
      .repartition(col("src"))
      .sortWithinPartitions("src", "dst")
      .persist(GraftSession.storageLevel)

    def unpersist(): Unit = { edges.unpersist(); vertices.unpersist(); canon.unpersist() }
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
    * superstep: the state arrives partitioned on vid from the previous
    * aggregate, the edge side is cached pre-partitioned on src, and only
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
    val g = Supersteps.withoutAqe(spark)(new Undirected(edges))

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
        init = g.vertices.withColumn("component", col("vid")),
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
    // invariant: pairs (u, v) with v < u ("child -> smaller neighbor").
    // Canonical (u > v) pairs directly — symmetrize-then-recanonicalize
    // would dedup the same |E| set through a 2|E|-row exchange (guide §2.3)
    def init: DataFrame = edges
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

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
