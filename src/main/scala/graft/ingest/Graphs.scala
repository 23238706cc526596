package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Vertex dedup + deterministic integer encoding, and edge-table
  * construction with the CSR-blocked layout the iterative kernels consume.
  */
object Graphs {

  /** Deterministic dense vertex ids for the `url` column of `urls`: `vid =
    * zero-based position of url in the globally sorted distinct url set`.
    *
    * NOT `monotonically_increasing_id` (partitioning-dependent) and NOT a
    * single-partition `row_number` window (driver bottleneck at 10^12 urls).
    * Instead: range-repartition by url, sort within partitions, then assign
    * `local index + partition offset` where offsets are prefix sums of
    * per-partition counts. The result is invariant to the number of
    * partitions because range partitioning preserves global order.
    */
  def encodeVertices(urls: DataFrame, partitions: Int = 0): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val p = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    val distinctSorted = urls
      .select(col("url")).na.drop().distinct()
      .repartitionByRange(p, col("url"))
      .sortWithinPartitions("url")
    // zipWithIndex: ids follow partition order == global sort order here.
    // One extra job to count partitions (inherent to any prefix-sum scheme).
    val rdd = distinctSorted.as[String].rdd.zipWithIndex()
    rdd.map { case (url, idx) => (idx, url) }.toDF("vid", "url")
  }

  /** pages -> `(src LONG, dst LONG)` edge table:
    *   1. link extraction (url-level edges),
    *   2. vertex dictionary from the union of all urls seen,
    *   3. two hash joins to encode endpoints,
    *   4. self-loop removal + dedup inside the `src` layout exchange.
    *
    * Returns (vertices, edges); the dictionary is reused (not recomputed)
    * for both endpoints. The url->vid joins are the big shuffles, and they
    * are lazy: they run in the first job that materializes the edges. On
    * the PageRank path that is [[graft.graph.PageRank.prepare]]'s layout
    * job, which runs with AQE off, so no runtime skew-join splitting
    * applies to them there.
    *
    * The dedup runs on the hash(src) partitioning of [[csrLayout]]: that
    * partitioning already clusters every `(src, dst)` duplicate, so the
    * `distinct` needs no exchange of its own, and the planner drops the
    * layout's repartition on top of it as redundant. The encoded edges
    * cross ONE exchange, keyed on `src`, instead of one on `(src, dst)`
    * and another on `src`. Both internal caches are at
    * [[graft.GraftSession.storageLevel]].
    */
  def buildGraph(pages: DataFrame): (DataFrame, DataFrame) = {
    // The extraction UDF (html decode + regex over every page) is the
    // dominant ingest cost, and it has TWO consumers: the vertex
    // dictionary (encodeVertices' eager zipWithIndex job fills this
    // cache) and the endpoint-encoding joins. Persist so it runs once,
    // not once per consumer. Lifecycle: caller releases via
    // [[releaseBuild]] once the returned edge table is materialized
    // (cached by a kernel's prepare, or written out).
    val rawEdges = LinkExtract.linkEdges(pages)
      .persist(GraftSession.storageLevel)
    val urls = pages.select(col("url"))
      .union(rawEdges.select(col("dst_url").as("url")))
    val vertices = encodeVertices(urls).persist(GraftSession.storageLevel)
    val e1 = rawEdges
      .join(vertices.withColumnRenamed("url", "src_url")
        .withColumnRenamed("vid", "src"), "src_url")
      .join(vertices.withColumnRenamed("url", "dst_url")
        .withColumnRenamed("vid", "dst"), "dst_url")
      .select("src", "dst")
      .where(col("src") =!= col("dst"))
      .repartition(pages.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
      .distinct()
    (vertices, csrLayout(e1))
  }

  /** CSR-blocked physical layout: HASH-partitioned by `src`, sorted
    * `(src, dst)` within partitions — every kernel's `edges ⋈ state on src`
    * then becomes a co-partitioned join with sequential access per block
    * (SURVEY.md §4 item 2). Hash, not range: it is the layout
    * [[graft.graph.PageRank.prepare]] and the CC/LP undirected layout
    * build, so composing buildGraph |> prepare collapses to ONE edge
    * exchange (the planner drops a repartition its child already
    * satisfies) instead of paying a range shuffle every kernel immediately
    * discards — and hash(src) is what the supersteps' state joins cluster
    * on. */
  def csrLayout(edges: DataFrame): DataFrame = edges
    .repartition(edges.sparkSession.sessionState.conf.numShufflePartitions, col("src"))
    .sortWithinPartitions("src", "dst")

  /** Undirected distinct edges as `(u, v)` pairs with `u < v`; self-loops
    * are dropped. The one canonical-pair form of every undirected kernel:
    * symmetrize, star-CC and triangle counting. */
  def canonical(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Release [[buildGraph]]'s internal caches for `pages` (the raw
    * url-level edge frame; the returned `vertices` frame is the caller's
    * to unpersist). Call after the returned edge table is materialized
    * downstream. Safe whether or not anything is cached — CacheManager
    * keys on the analyzed plan, identical however re-derived. */
  def releaseBuild(pages: DataFrame): Unit =
    LinkExtract.linkEdges(pages).unpersist()

  /** Out-degree per vertex (dangling vertices absent — handled by kernels). */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("outDeg"))

  /** Degree histogram (log2 buckets) — drives the skew-salting threshold. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    outDegrees(edges)
      .groupBy(floor(log2(col("outDeg"))).as("log2deg"))
      .agg(count(lit(1)).as("vertices"), sum("outDeg").as("edges"))
      .orderBy("log2deg")
}
