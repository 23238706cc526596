package graft.graph

import scala.collection.mutable

/** Single-threaded sequential referee implementations (SURVEY.md §5 item 1):
  * literal ports of the algorithm definitions, used as ground truth for the
  * distributed kernels. PageRank must match allclose 1e-6; CC/LP/triangles
  * exactly (BASELINE.json north_rule).
  */
object Referee {

  /** Damped PageRank with dangling-mass redistribution. */
  def pageRank(edges: Seq[(Long, Long)], damping: Double = 0.85,
      tol: Double = 1e-9, maxIters: Int = 50): Map[Long, Double] = {
    val vertices = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = vertices.size
    val out = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
    val in = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    var ranks = vertices.map(v => v -> 1.0 / n).toMap
    var delta = Double.MaxValue
    var iter = 0
    while (iter < maxIters && delta >= tol) {
      val dangling = vertices.filterNot(out.contains).map(ranks).sum
      val next = vertices.map { v =>
        val inMass = in.getOrElse(v, Seq.empty).map(u => ranks(u) / out(u)).sum
        v -> ((1.0 - damping) / n + damping * (inMass + dangling / n))
      }.toMap
      delta = vertices.map(v => math.abs(next(v) - ranks(v))).max
      ranks = next
      iter += 1
    }
    ranks
  }

  /** Connected components by BFS; component id = min vid in component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    def link(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
    edges.foreach { case (a, b) =>
      // every endpoint is a vertex, but a self-loop adds no adjacency —
      // a vertex whose only edges are self-loops is its own singleton
      // component (matches the kernels' raw-endpoint vertex universe)
      adj.getOrElseUpdate(a, mutable.Set.empty)
      adj.getOrElseUpdate(b, mutable.Set.empty)
      if (a != b) { link(a, b); link(b, a) }
    }
    val vertices = adj.keys.toSeq.sorted
    val comp = mutable.Map.empty[Long, Long]
    vertices.foreach { v =>
      if (!comp.contains(v)) {
        val queue = mutable.Queue(v)
        val members = mutable.Buffer.empty[Long]
        val seen = mutable.Set(v)
        while (queue.nonEmpty) {
          val x = queue.dequeue(); members += x
          adj(x).foreach(y => if (seen.add(y)) queue.enqueue(y))
        }
        val id = members.min
        members.foreach(m => comp(m) = id)
      }
    }
    comp.toMap
  }

  /** Supersteps in which hash-min changes some label: the largest hop
    * distance from a vertex to its component's minimum. */
  def labelDepth(edges: Seq[(Long, Long)]): Int = {
    val adj = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val dist = mutable.Map.empty[Long, Int]
    // BFS from each component's minimum: vertices in ascending order
    adj.keys.toSeq.sorted.foreach { v =>
      if (!dist.contains(v)) {
        dist(v) = 0
        val queue = mutable.Queue(v)
        while (queue.nonEmpty) {
          val x = queue.dequeue()
          adj(x).foreach { y =>
            if (!dist.contains(y)) { dist(y) = dist(x) + 1; queue.enqueue(y) }
          }
        }
      }
    }
    dist.values.foldLeft(0)(math.max)
  }

  /** Synchronous label propagation, ties -> min label, fixed iterations.
    * A vertex starts at its `seeds` label, or at its own vid when it has
    * none; seeds of vids outside the graph are ignored. */
  def labelProp(edges: Seq[(Long, Long)], numIters: Int,
      seeds: Map[Long, Long] = Map.empty): Map[Long, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      // endpoints always count as vertices; self-loops add no adjacency
      // (an isolated vertex keeps its own label — the counts.isEmpty arm)
      adj.getOrElseUpdate(a, mutable.Set.empty)
      adj.getOrElseUpdate(b, mutable.Set.empty)
      if (a != b) {
        adj(a) += b
        adj(b) += a
      }
    }
    val vertices = adj.keys.toSeq.sorted
    var labels = vertices.map(v => v -> seeds.getOrElse(v, v)).toMap
    (0 until numIters).foreach { _ =>
      labels = vertices.map { v =>
        val counts = adj(v).toSeq.map(labels).groupBy(identity)
          .map { case (l, xs) => l -> xs.size }
        if (counts.isEmpty) v -> labels(v)
        else {
          val maxC = counts.values.max
          v -> counts.filter(_._2 == maxC).keys.min
        }
      }.toMap
    }
    labels
  }

  /** Exact per-vertex triangle counts (0 for triangle-free vertices). */
  def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val canon = edges.collect {
      case (a, b) if a != b => (math.min(a, b), math.max(a, b))
    }.distinct
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    canon.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val counts = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    adj.keys.foreach(v => counts(v) = 0L)
    canon.foreach { case (a, b) =>
      (adj(a) intersect adj(b)).foreach { c =>
        if (c > b) { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
      }
    }
    counts.toMap
  }

  // ---- fixture graphs (FIXTURES.md §4, deterministic, seed in code) -------

  def chain10: Seq[(Long, Long)] = (0L until 9L).map(i => (i, i + 1))

  def twoCliques: Seq[(Long, Long)] = {
    val k1 = for (i <- 0 until 5; j <- i + 1 until 5) yield (i.toLong, j.toLong)
    val k2 = for (i <- 10 until 15; j <- i + 1 until 15) yield (i.toLong, j.toLong)
    k1 ++ k2 :+ (4L, 10L)
  }

  def star1k: Seq[(Long, Long)] = (1L to 1000L).map(i => (0L, i))

  def danglers: Seq[(Long, Long)] =
    Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L), (3L, 4L), (5L, 4L), (5L, 0L))
    // 4 is a sink (dangling); 3 -> 4 -> nothing

  /** Zipf-skewed random graph, pure function of the seed (splitmix64). */
  def zipf(nVertices: Int, nEdges: Int, seed: Long): Seq[(Long, Long)] = {
    def mix(x0: Long): Long = graft.ingest.Pages.mix(x0 ^ seed)
    (0 until nEdges).flatMap { k =>
      val h1 = mix(k.toLong * 2)
      val h2 = mix(k.toLong * 2 + 1)
      val u = ((h1 >>> 11).toDouble / (1L << 53).toDouble)
      val src = math.min(nVertices - 1, (math.pow(u, 3.0) * nVertices).toLong)
      val dst = math.floorMod(h2, nVertices.toLong)
      if (src != dst) Some((src, dst)) else None
    }.distinct
  }
}
