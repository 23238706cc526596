package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Exact per-vertex triangle counts (north-rule kernel #4) via the
  * degree-ordered node-iterator: orient each undirected edge from the
  * endpoint with the smaller `(degree, vid)` to the larger, self-join
  * oriented edges on their source to enumerate wedges, then close each
  * wedge with a LEFT SEMI equi-join against the oriented edge set. Degree
  * orientation bounds every vertex's oriented out-degree by O(sqrt(m)),
  * which is exactly the hub-skew defense for web graphs — the wedge join
  * never explodes on a high-degree hub. All joins are equi-joins
  * (shuffle-hash / sort-merge eligible); no theta joins anywhere in the plan.
  *
  * Reference seed semantics: wedge/pair enumeration in co-occurrence
  * counting (CitationGraphs.go:236-251) and strongly-connected phrase pairs
  * (:3751-3780), generalized to exact closed-triangle counting.
  */
object Triangles {

  /** Does nothing: [[perVertex]] frees what it caches before it returns.
    * Kept only because the `linkbench/` benchmark calls it after each run,
    * and that code changes only with the benchmark itself. */
  def uncache(edges: DataFrame): Unit = ()

  /** Per-vertex triangle counts `(vid, triangles)`; vertices in no triangle
    * get 0. Reads the shared [[ConnectedComponents.Undirected]] layout under
    * the superstep plan policy ([[Supersteps.withoutAqe]]) and returns a
    * materialized local checkpoint at [[graft.GraftSession.storageLevel]];
    * the layout is released before the call returns, so nothing else stays
    * persisted.
    *
    * The layout holds every undirected edge in both directions, partitioned
    * on `src`, so the degree count needs no exchange, and keeping the
    * non-loop rows whose `(degree, vid)` rises from `src` to `dst` keeps
    * each edge once with `lo = src`. In a triangle all three oriented edges
    * then agree with one total order, so the closing edge of a wedge is
    * uniquely `(b -> c)` — an equi-join key. Each triangle (a, b, c) is
    * enumerated ONCE and credits its three corners through one `explode`.
    * Self-loops are ignored entirely, so a vertex whose only edges are
    * self-loops does not appear: unlike CC/LP, where every endpoint carries
    * a component or label, a loop-only vertex has no triangle semantics. */
  def perVertex(edges: DataFrame): DataFrame = {
    val g = new ConnectedComponents.Undirected(edges)
    try Supersteps.withoutAqe(edges.sparkSession) {
      val links = g.edges.where(col("src") =!= col("dst"))
      val deg = links.groupBy("src").agg(count(lit(1)).as("deg"))
      def before(d1: Column, v1: Column, d2: Column, v2: Column): Column =
        d1 < d2 || (d1 === d2 && v1 < v2)
      val o = links
        .join(deg.select(col("src"), col("deg").as("dlo")), "src")
        .join(deg.select(col("src").as("dst"), col("deg").as("dhi")), "dst")
        .where(before(col("dlo"), col("src"), col("dhi"), col("dst")))
        .select(col("src").as("lo"), col("dst").as("hi"), col("dhi"))
      val wedges = o.as("e1")
        .join(o.as("e2"),
          col("e1.lo") === col("e2.lo") &&
            before(col("e1.dhi"), col("e1.hi"), col("e2.dhi"), col("e2.hi")))
        .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
      // closing edge is oriented b -> c by construction: pure equi semi-join
      val tri = wedges.join(o.select(col("lo").as("b"), col("hi").as("c")),
        Seq("b", "c"), "left_semi")
      val counts = tri.select(explode(array(col("a"), col("b"), col("c"))).as("vid"))
        .groupBy("vid").agg(count(lit(1)).as("triangles"))
      deg.select(col("src").as("vid"))
        .join(counts, Seq("vid"), "left")
        .na.fill(0L, Seq("triangles"))
        .localCheckpoint(true, GraftSession.storageLevel)
    } finally g.unpersist()
  }
}
