package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.Graphs

/** Distributed PageRank as iterative Dataset joins (north-rule kernel #1).
  *
  * Semantics: standard damped PageRank with dangling-mass redistribution —
  * `r'(v) = (1-d)/n + d * (Σ_{u→v} r(u)/outDeg(u) + danglingMass/n)`,
  * converged when `max_v |r'(v) - r(v)| < tol`. Matches the sequential
  * referee allclose 1e-6 (BASELINE.json north_rule). The reference's seed
  * semantics are citation influence = in-degree over the reverse adjacency
  * (CitationGraphs.go:1537-1539, :3947-3960); PageRank generalizes that
  * one-hop influence to the fixpoint.
  *
  * Scale design:
  *  - edges stay in the CSR-blocked layout (hash-partitioned by `src`,
  *    sorted within partitions) and are cached once, serialized and
  *    compressed at [[graft.GraftSession.storageLevel]]; every superstep's
  *    `edges ⋈ state on src` reuses that partitioning.
  *  - vertex state carries `(vid, outDeg, rank)` so no per-superstep
  *    degree join is needed; the cached `(vid, outDeg)` frame is
  *    co-partitioned with the contribution aggregate, so the rank update
  *    join is exchange-free.
  *  - contribution aggregation is a hash aggregate with map-side partial
  *    combine, so a hub's in-degree skew is bounded by #partitions rows at
  *    the reducer. Default sums are the codegen'd partial+final double sum
  *    (error O(maxInDeg·eps) ≈ 1e-8 even for 10^8-in-degree hubs — far
  *    inside the 1e-6 gate); `kahan = true` switches to the compensated
  *    [[KahanSum]] aggregator (O(eps) error) at ~25% throughput cost when
  *    stricter reproducibility is wanted.
  *  - the dangling mass enters the rank update as a driver-side literal:
  *    each superstep reads `Σ rank where outDeg = 0` off its materialized
  *    input state (one scan of the |V|-row state), so a superstep runs ONE
  *    contribution shuffle with or without danglers. Dangler-free graphs
  *    use the literal 0 and run no such action.
  *  - supersteps run on the [[Supersteps]] driver: `stepsPerJob` block
  *    fusion (dangler-free graphs only — a dangler superstep needs its input
  *    materialized), the convergence check once per block (delta spans the
  *    block), and `checkpointEvery`-cadence TableIO commits of `(vid, rank)`
  *    with delta, dangling mass and superstep seconds, resumable
  *    mid-iteration.
  *  - explicit hub salting ([[saltedContribs]], composable with the superstep):
  *    contribution rows into a hot IN-degree dst are pre-split across
  *    `numSalts` sub-keys by src-hash and pre-aggregated per (dst, salt)
  *    before the global per-dst combine, so no single reduce key ever
  *    receives a hub's full in-edge volume (AQE's skew join does not
  *    cover iterative self-joins well — SURVEY.md §4).
  */
object PageRank {

  final case class Result(ranks: DataFrame, supersteps: Int, delta: Double)

  /** One-off CSR graph layout shared by any number of [[runPrepared]]
    * invocations: edges hash-partitioned by src + sorted within partitions
    * + cached, and the co-partitioned `(vid, outDeg)` frame, both at
    * [[graft.GraftSession.storageLevel]]. Building this
    * is ingest work (one repartition shuffle + cache write over |E|), not
    * superstep work — the north-rule metric (supersteps/hour, edges/sec)
    * is steady-state iteration throughput over a prepared graph. */
  final case class PreparedGraph(
      edges: DataFrame, // (src, dst) CSR-partitioned + cached
      vertDeg: DataFrame, // (vid, outDeg) co-partitioned + cached
      n: Long,
      hasDanglers: Boolean) {
    def unpersist(): Unit = { edges.unpersist(); vertDeg.unpersist() }
  }

  /** The layout is built with AQE off ([[Supersteps.withoutAqe]]): AQE may
    * coalesce the `src` repartition, and the layout's partition count is
    * the superstep parallelism and the partitioning every superstep join
    * reuses, so it must be exactly `spark.sql.shuffle.partitions`. */
  def prepare(spark: SparkSession, edges: DataFrame): PreparedGraph =
    Supersteps.withoutAqe(spark) {
      val e = Graphs.csrLayout(edges.select(col("src"), col("dst")))
        .persist(GraftSession.storageLevel)
      val outDeg = e.groupBy(col("src").as("vid"))
        .agg(count(lit(1)).as("outDeg"))
      val vertices = e.select(col("src").as("vid"))
        .union(e.select(col("dst").as("vid"))).distinct()
      // (vid, outDeg) co-partitioned with every groupBy(vid) aggregate;
      // outDeg 0 marks dangling vertices. Cached for the whole run — this is
      // the only per-vertex frame any superstep joins against.
      val vertDeg = vertices.join(outDeg, Seq("vid"), "left")
        .na.fill(0L, Seq("outDeg"))
        .persist(GraftSession.storageLevel)
      // one action: |V| and dangler count (dangler-free graphs need no
      // per-superstep dangling-mass action, so their supersteps fuse)
      val firstRow = vertDeg
        .agg(count(lit(1)), sum(when(col("outDeg") === 0, 1L).otherwise(0L)))
        .head()
      PreparedGraph(e, vertDeg, firstRow.getLong(0), firstRow.getLong(1) > 0L)
    }

  /** @param checkpointTable TableIO table for superstep snapshots;
    *                        null/empty disables checkpointing.
    * `stepsPerJob`, `checkpointEvery`, resume and the plan policy follow
    * the [[Supersteps]] contract, except that a graph with dangling vertices runs one
    * superstep per block whatever `stepsPerJob` says: each of its
    * supersteps reads the dangling mass of its materialized input state. */
  def run(
      spark: SparkSession,
      edges: DataFrame, // (src LONG, dst LONG), deduped, no self-loops
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIters: Int = 50,
      checkpointTable: String = null,
      kahan: Boolean = false,
      stepsPerJob: Int = 1,
      checkpointEvery: Int = 1): Result = {
    val g = prepare(spark, edges)
    try runPrepared(spark, g, damping, tol, maxIters, checkpointTable,
      kahan, stepsPerJob, checkpointEvery)
    finally g.unpersist()
  }

  /** Iterate over a [[prepare]]d graph (steady-state superstep path; the
    * graph layout is reused across invocations and never unpersisted here). */
  def runPrepared(
      spark: SparkSession,
      g: PreparedGraph,
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIters: Int = 50,
      checkpointTable: String = null,
      kahan: Boolean = false,
      stepsPerJob: Int = 1,
      checkpointEvery: Int = 1): Result = {
    val e = g.edges
    val vertDeg = g.vertDeg
    val n = g.n

    // Join strategy note (guide §3.1, measured r6): a shuffled-hash hint on
    // the state side of the contribution join (skipping its per-superstep
    // sort) benched WITHIN NOISE of sort-merge on the 18M-edge probe
    // (interleaved A/B: 5.35/5.77 SMJ vs 5.52/5.68 SHJ) — the superstep is
    // shuffle-bound, not sort-bound. Sort-merge stays: it spills gracefully
    // when a 100 TB state partition outgrows task memory.

    // one chained superstep: state (vid, outDeg, rank) -> next state, given
    // the dangling mass of the input state
    def superstep(st: DataFrame, dangling: Double): DataFrame = {
      val contribs = e
        .join(st.where(col("outDeg") > 0).withColumnRenamed("vid", "src")
          .select(col("src"), (col("rank") / col("outDeg")).as("c")), "src")
        .select(col("dst").as("vid"), col("c"))

      // Kahan keeps the compensated error O(eps) under shuffle reordering
      // (the 1e-6 reproducibility path); plain codegen'd sum is the
      // throughput path — error is O(maxInDeg·eps), still « 1e-6
      val summed =
        if (kahan) contribs.groupBy("vid").agg(KahanSum.column(col("c")).as("inMass"))
        else contribs.groupBy("vid").agg(sum(col("c")).as("inMass"))
      vertDeg.join(summed, Seq("vid"), "left")
        .na.fill(0.0, Seq("inMass"))
        .select(col("vid"), col("outDeg"),
          (lit((1.0 - damping) / n + damping * dangling / n)
            + lit(damping) * col("inMass")).as("rank"))
    }

    // the convergence check costs one join+agg per BLOCK; fixed-iteration
    // runs (tol < 0) skip it. With block > 1 the delta spans the block — a
    // conservative stop test (per-step deltas only shrink as the iteration
    // contracts).
    def deltaCheck(prev: DataFrame, next: DataFrame): Supersteps.Check = {
      val delta = next
        .join(prev.select(col("vid"), col("rank").as("prev")), "vid")
        .agg(max(abs(col("rank") - col("prev")))).head().getDouble(0)
      Supersteps.Check(delta < tol, Map("delta" -> delta))
    }

    // Σ rank over the dangling vertices of a materialized state: a cheap
    // scan of the |V|-row state, no action at all on a dangler-free graph.
    // A committed state is asked twice, for its manifest and as the next
    // superstep's input, so the last scan is remembered by reference
    var lastScan: (DataFrame, Double) = (null, 0.0)
    def danglingMass(st: DataFrame): Double =
      if (!g.hasDanglers) 0.0
      else if (lastScan._1 eq st) lastScan._2
      else {
        lastScan = (st, st.where(col("outDeg") === 0)
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0))
        lastScan._2
      }

    val r = Supersteps.iterate(spark,
      init = vertDeg.withColumn("rank", lit(1.0 / n)),
      step = (st, _) => superstep(st, danglingMass(st)),
      maxIters = maxIters,
      checkpointTable = checkpointTable,
      checkpointEvery = checkpointEvery,
      stepsPerJob = if (g.hasDanglers) 1 else stepsPerJob,
      // snapshots store (vid, rank); outDeg re-attaches from the cached frame
      resume = snap => vertDeg.join(snap.select(col("vid"), col("rank")), Seq("vid")),
      snapshot = _.select(col("vid"), col("rank")),
      converged = if (tol < 0) None else Some(deltaCheck),
      commitMetrics = st =>
        Map("danglingMass" -> danglingMass(st), "vertices" -> n.toDouble))
    // NOTE: the prepared graph (e, vertDeg) is NOT unpersisted here — it is
    // owned by the caller ([[run]] unpersists its own; [[runPrepared]]
    // callers reuse it across invocations). The returned ranks are
    // localCheckpoint'd, so they outlive the layout caches.
    Result(r.state, r.steps, r.metrics.getOrElse("delta", Double.MaxValue))
  }

  /** The salt sub-key for [[saltedContribs]] — a function of `src` so it
    * varies across a fixed dst's in-edges (spec-asserted). */
  def saltCol(numSalts: Int): Column = pmod(hash(col("src")), lit(numSalts))

  /** Hub-salted variant of one contribution superstep, exposed for the
    * skew-handling path: splits each hot dst's IN-edges into `numSalts`
    * groups keyed by src-hash and pre-aggregates per (dst, salt) before
    * the global per-dst combine. The salt MUST vary across the rows of a
    * fixed dst (hence hash(src), never hash(dst) — a salt that is a pure
    * function of the group key puts every row of the hub in one sub-key
    * and the two-stage defense degenerates to the plain groupBy).
    * Composable with [[run]]'s superstep; used when the degree histogram
    * shows in-degree skew beyond what map-side combine flattens. */
  def saltedContribs(e: DataFrame, ranksWithDeg: DataFrame, numSalts: Int): DataFrame = {
    val salted = e.withColumn("salt", saltCol(numSalts))
    salted
      .join(ranksWithDeg.where(col("outDeg") > 0).withColumnRenamed("vid", "src"), "src")
      .groupBy(col("dst").as("vid"), col("salt"))
      .agg(sum(col("rank") / col("outDeg")).as("c"))
      .groupBy("vid")
      .agg(KahanSum.column(col("c")).as("inMass"))
  }
}
