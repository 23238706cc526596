package linkbench

import graft.ingest.Pages

/** Independent referee. The link graph is re-derived from the page
  * generator itself (`Pages.outLinks`, `Pages.urlOf`), never from engine
  * output, and every kernel is a sequential array implementation of its
  * definition (the semantics of the engine's test-scope referee).
  *
  * Vertex ids are positions in the sorted url set. Every link target is a
  * page, so that set is exactly the `n` page urls.
  */
final class Referee(n: Int, seed: Long) {

  /** `vidOfPage(i)` = position of `urlOf(i)` among the sorted page urls. */
  val vidOfPage: Array[Int] = {
    val urls = Array.tabulate(n)(i => Pages.urlOf(i))
    val order = Array.range(0, n).sortBy(urls(_))
    val vid = new Array[Int](n)
    var pos = 0
    while (pos < n) { vid(order(pos)) = pos; pos += 1 }
    vid
  }

  /** Links as extracted from the html, before self-loop removal and dedup. */
  val rawLinks: Long = (0L until n).map(i => Pages.outLinks(i, n, seed).size.toLong).sum

  /** The edge set, `src << 32 | dst`, sorted and distinct, no self-loops. */
  val edges: Array[Long] = {
    val b = Array.newBuilder[Long]
    var i = 0
    while (i < n) {
      Pages.outLinks(i, n, seed).foreach { t =>
        if (t != i) b += Referee.pack(vidOfPage(i), vidOfPage(t.toInt))
      }
      i += 1
    }
    val all = b.result()
    java.util.Arrays.sort(all)
    distinctSorted(all)
  }

  val numEdges: Long = edges.length.toLong
  private def src(k: Int): Int = (edges(k) >>> 32).toInt
  private def dst(k: Int): Int = (edges(k) & 0xffffffffL).toInt

  /** Vertices are the endpoints of the edge set. */
  val isVertex: Array[Boolean] = {
    val v = new Array[Boolean](n)
    var k = 0
    while (k < edges.length) { v(src(k)) = true; v(dst(k)) = true; k += 1 }
    v
  }
  val numVertices: Int = isVertex.count(identity)

  /** Undirected adjacency in CSR form, neighbours sorted by vid. */
  private val (adjStart, adj): (Array[Int], Array[Int]) = {
    val canon = distinctSorted(edges.map { e =>
      val a = (e >>> 32).toInt; val b = (e & 0xffffffffL).toInt
      Referee.pack(math.min(a, b), math.max(a, b))
    }.sorted)
    val deg = new Array[Int](n + 1)
    canon.foreach { e => deg((e >>> 32).toInt) += 1; deg((e & 0xffffffffL).toInt) += 1 }
    val start = new Array[Int](n + 1)
    var v = 0
    while (v < n) { start(v + 1) = start(v) + deg(v); v += 1 }
    val fill = start.clone()
    val nb = new Array[Int](start(n))
    canon.foreach { e =>
      val a = (e >>> 32).toInt; val b = (e & 0xffffffffL).toInt
      nb(fill(a)) = b; fill(a) += 1
      nb(fill(b)) = a; fill(b) += 1
    }
    v = 0
    while (v < n) { java.util.Arrays.sort(nb, start(v), start(v + 1)); v += 1 }
    (start, nb)
  }
  private def degree(v: Int): Int = adjStart(v + 1) - adjStart(v)

  /** Damped PageRank with dangling mass spread over all vertices, a fixed
    * number of supersteps from the uniform start. NaN marks non-vertices. */
  def pageRank(supersteps: Int, damping: Double = 0.85): Array[Double] = {
    val outDeg = new Array[Int](n)
    var k = 0
    while (k < edges.length) { outDeg(src(k)) += 1; k += 1 }
    val nv = numVertices.toDouble
    var r = Array.tabulate(n)(v => if (isVertex(v)) 1.0 / nv else Double.NaN)
    (0 until supersteps).foreach { _ =>
      val in = new Array[Double](n)
      k = 0
      while (k < edges.length) { in(dst(k)) += r(src(k)) / outDeg(src(k)); k += 1 }
      var dangling = 0.0
      var v = 0
      while (v < n) { if (isVertex(v) && outDeg(v) == 0) dangling += r(v); v += 1 }
      r = Array.tabulate(n) { v =>
        if (isVertex(v)) (1.0 - damping) / nv + damping * (in(v) + dangling / nv)
        else Double.NaN
      }
    }
    r
  }

  /** Union-find components; component id = min vid. -1 marks non-vertices. */
  lazy val components: Array[Int] = {
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < edges.length) {
      val a = find(src(k)); val b = find(dst(k))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      k += 1
    }
    Array.tabulate(n)(v => if (isVertex(v)) find(v) else -1)
  }

  /** Supersteps hash-min runs with `stepsPerJob`-step blocks: the last label
    * change lands at superstep s = the largest BFS distance from a
    * component's minimum vertex, and the loop stops after the first block
    * that starts past s. */
  def hashMinSupersteps(comp: Array[Int], stepsPerJob: Int, maxIters: Int): Int = {
    val dist = Array.fill(n)(-1)
    val queue = new Array[Int](n)
    var head = 0; var tail = 0
    var v = 0
    while (v < n) {
      if (isVertex(v) && comp(v) == v) { dist(v) = 0; queue(tail) = v; tail += 1 }
      v += 1
    }
    var s = 0
    while (head < tail) {
      val x = queue(head); head += 1
      s = math.max(s, dist(x))
      var j = adjStart(x)
      while (j < adjStart(x + 1)) {
        val y = adj(j)
        if (dist(y) < 0) { dist(y) = dist(x) + 1; queue(tail) = y; tail += 1 }
        j += 1
      }
    }
    val blocks = if (s == 0) 1 else (s - 1) / stepsPerJob + 2
    math.min(blocks * stepsPerJob, maxIters)
  }

  /** Synchronous label propagation over the undirected graph: each vertex
    * takes its neighbours' most frequent label, ties to the smallest. */
  def labelProp(iters: Int): Array[Int] = {
    var labels = Array.tabulate(n)(v => if (isVertex(v)) v else -1)
    val buf = new Array[Int](adj.length.max(1))
    (0 until iters).foreach { _ =>
      val next = labels.clone()
      var v = 0
      while (v < n) {
        val d = degree(v)
        if (d > 0) {
          var j = 0
          while (j < d) { buf(j) = labels(adj(adjStart(v) + j)); j += 1 }
          java.util.Arrays.sort(buf, 0, d)
          var best = buf(0); var bestCount = 0
          var i = 0
          while (i < d) {
            var e = i
            while (e < d && buf(e) == buf(i)) e += 1
            if (e - i > bestCount) { best = buf(i); bestCount = e - i }
            i = e
          }
          next(v) = best
        }
        v += 1
      }
      labels = next
    }
    labels
  }

  /** Per-vertex triangle counts by sorted-adjacency intersection: orient
    * each edge towards the endpoint with larger (degree, vid), then every
    * triangle is found once, at its first vertex. -1 marks non-vertices. */
  lazy val triangles: Array[Long] = {
    def before(a: Int, b: Int): Boolean =
      degree(a) < degree(b) || (degree(a) == degree(b) && a < b)
    val fwd: Array[Array[Int]] = Array.tabulate(n) { v =>
      adj.slice(adjStart(v), adjStart(v + 1)).filter(w => before(v, w))
    }
    val count = Array.tabulate(n)(v => if (isVertex(v)) 0L else -1L)
    var u = 0
    while (u < n) {
      val fu = fwd(u)
      fu.foreach { v =>
        val fv = fwd(v)
        var i = 0; var j = 0
        while (i < fu.length && j < fv.length) {
          if (fu(i) < fv(j)) i += 1
          else if (fu(i) > fv(j)) j += 1
          else {
            count(u) += 1; count(v) += 1; count(fu(i)) += 1
            i += 1; j += 1
          }
        }
      }
      u += 1
    }
    count
  }

  private def distinctSorted(a: Array[Long]): Array[Long] = {
    if (a.isEmpty) a
    else {
      var w = 1
      var r = 1
      while (r < a.length) { if (a(r) != a(w - 1)) { a(w) = a(r); w += 1 }; r += 1 }
      java.util.Arrays.copyOf(a, w)
    }
  }
}

object Referee {
  def pack(src: Int, dst: Int): Long = (src.toLong << 32) | (dst.toLong & 0xffffffffL)

  /** Page index of a url made by `Pages.urlOf`. */
  def pageOf(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong
}
