package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ingest.Graphs

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
  * Two entry points: [[perVertex]] builds the lazy count frame, [[uncache]]
  * releases what it cached. Cache lifecycle: [[perVertex]] caches the
  * canonical and oriented edge frames, once each, at
  * [[graft.GraftSession.storageLevel]], and must leave them alive
  * for the caller's action on the returned LAZY frame — so the caller owns
  * release. A resident engine running over many different edge frames calls
  * [[uncache]] per frame when done (one InMemoryRelation pair per distinct
  * edge plan accumulates otherwise).
  *
  * Reference seed semantics: wedge/pair enumeration in co-occurrence
  * counting (CitationGraphs.go:236-251) and strongly-connected phrase pairs
  * (:3751-3780), generalized to exact closed-triangle counting.
  */
object Triangles {

  /** Degree-ordered orientation of the canonical frame: rows
    * `(lo, hi, dlo, dhi)` where `(dlo, lo) < (dhi, hi)` lexicographically.
    * In a triangle all three oriented edges then agree with one total
    * order, so the closing edge of a wedge is uniquely `(b -> c)` — an
    * equi-join key. */
  private def orient(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("u").as("vid"))
      .union(canon.select(col("v").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("deg"))
    val withDeg = canon
      .join(deg.select(col("vid").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("vid").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("lo"),
      when(uFirst, col("v")).otherwise(col("u")).as("hi"),
      when(uFirst, col("du")).otherwise(col("dv")).as("dlo"),
      when(uFirst, col("dv")).otherwise(col("du")).as("dhi"))
  }

  /** Release the cached canonical/oriented frames for `edges`. Safe to call
    * whether or not they are cached — CacheManager keys on the analyzed
    * plan, which is identical however the frame was re-derived. */
  def uncache(edges: DataFrame): Unit = {
    val canon = Graphs.canonical(edges)
    orient(canon).unpersist()
    canon.unpersist()
  }

  /** Per-vertex triangle counts `(vid, triangles)`; vertices in no triangle
    * get 0. Each triangle (a, b, c) is enumerated ONCE and credits its three
    * corners through one `explode`, so the plan holds one wedge self-join
    * and one closing semi-join. ONE cached canonical frame
    * ([[Graphs.canonical]]) feeds both the wedge pipeline and the vertex
    * universe. Self-loops are ignored entirely, so a vertex whose only
    * edges are self-loops does not appear: unlike CC/LP, where every
    * endpoint carries a component or label, a loop-only vertex has no
    * triangle semantics. */
  def perVertex(edges: DataFrame): DataFrame = {
    val canon = Graphs.canonical(edges).persist(GraftSession.storageLevel)
    val o = orient(canon).persist(GraftSession.storageLevel)
    def before(d1: Column, v1: Column, d2: Column, v2: Column): Column =
      d1 < d2 || (d1 === d2 && v1 < v2)
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
    val vertices = canon.select(col("u").as("vid"))
      .union(canon.select(col("v").as("vid"))).distinct()
    vertices.join(counts, Seq("vid"), "left")
      .na.fill(0L, Seq("triangles"))
  }
}
