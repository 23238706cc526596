package linkbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.graph.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.ingest.{Graphs, Pages}
import graft.io.TableIO

/** Counts correctness checks and names the ones that failed. */
final class Checks {
  var attempted = 0L
  val failed = mutable.ArrayBuffer.empty[String]

  def apply(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed =
      try ok
      catch { case e: Exception => System.err.println(s"check $name threw: $e"); false }
    if (!passed) { failed += name; System.err.println(s"check failed: $name") }
  }
}

/** One workload. [[setup]] builds what the timed [[job]] starts from; a
  * rep's outputs stay alive until [[release]], so [[check]] and [[derived]]
  * can read them first. Every engine call passes its arguments explicitly. */
abstract class Workload(val pages: Int, val seed: Long, work: File, partitions: Int) {
  val Damping = 0.85

  def setup(spark: SparkSession, spans: Spans): Unit
  def job(spark: SparkSession, spans: Spans, rep: Int): Unit
  def check(spark: SparkSession, ref: Referee, checks: Checks): Unit
  /** Per-layer metrics that come from the rep's outputs, not from spans. */
  def derived(ref: Referee, layer: Map[String, Double]): Map[String, Double] = Map.empty
  def release(): Unit
  def teardown(): Unit
  /** Passes over the edge set the job makes (supersteps, summed over kernels). */
  def edgePasses(ref: Referee): Long

  protected def table(name: String): String = new File(work, s"tables/$name").getPath

  protected def synthesize(spark: SparkSession): DataFrame =
    Pages.synthesize(spark, pages.toLong, seed = seed, partitions = partitions)

  protected def edgeSet(edges: DataFrame): Array[Long] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val packed = edges.select((col("src") * 4294967296L + col("dst")).as("e")).as[Long].collect()
    java.util.Arrays.sort(packed)
    packed
  }

  protected def ranksMatch(ranks: DataFrame, want: Array[Double], ref: Referee): Boolean = {
    val got = ranks.select("vid", "rank").collect()
    got.length == ref.numVertices && got.forall { r =>
      val v = r.getLong(0).toInt
      val w = want(v)
      !w.isNaN && math.abs(r.getDouble(1) - w) <= 1e-6 * math.abs(w) + 1e-15
    } && math.abs(got.map(_.getDouble(1)).sum - 1.0) < 1e-6
  }

  protected def labelsMatch(df: DataFrame, name: String, want: Array[Int], ref: Referee): Boolean = {
    val got = df.select(col("vid"), col(name)).collect()
    got.length == ref.numVertices &&
      got.forall(r => want(r.getLong(0).toInt) == r.getLong(1))
  }
}

object Workload {
  /** `inputSeed` is the seed handed to `Pages.synthesize`; see [[inputSeed]]. */
  def apply(name: String, inputSeed: Long, work: File, partitions: Int): Workload = name match {
    case "crawl_pipeline" => new CrawlPipeline(inputSeed, work, partitions)
    case "undirected_kernels" => new UndirectedKernels(inputSeed, work, partitions)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The generator seed for benchmark seed `seed`, a pure function of it. */
  def inputSeed(name: String, seed: Long): Long =
    if (name == "crawl_pipeline") CrawlPipeline.inputSeed(seed) else seed
}

/** The whole batch job: page table in TableIO -> link graph -> CSR layout ->
  * supersteps, each committed to TableIO. The only workload where ingest and
  * TableIO writes are on the timed path. */
final class CrawlPipeline(seed: Long, work: File, partitions: Int)
    extends Workload(CrawlPipeline.NumPages, seed, work, partitions) {
  val Supersteps = 5
  private val pagesTable = table("pages")
  private var ckpt: String = _
  private var pagesDf: DataFrame = _
  private var vertices: DataFrame = _
  private var graph: PageRank.PreparedGraph = _
  private var result: PageRank.Result = _

  def setup(spark: SparkSession, spans: Spans): Unit =
    TableIO.commit(synthesize(spark), pagesTable, step = 0L, metrics = Map.empty)

  def job(spark: SparkSession, spans: Spans, rep: Int): Unit = {
    ckpt = table(s"ranks-$rep")
    pagesDf = spans("io.read")(TableIO.read(spark, pagesTable)).get._2
    val (v, edges) = spans("ingest.build_graph")(Graphs.buildGraph(pagesDf))
    vertices = v
    graph = spans("graph.pagerank.prepare")(PageRank.prepare(spark, edges))
    result = spans("graph.pagerank.run")(PageRank.runPrepared(spark, graph,
      damping = Damping, tol = -1.0, maxIters = Supersteps, checkpointTable = ckpt,
      kahan = false, stepsPerJob = 1, checkpointEvery = 1))
  }

  def check(spark: SparkSession, ref: Referee, checks: Checks): Unit = {
    checks("crawl.vertex_dictionary") {
      val got = vertices.select("vid", "url").collect()
      got.length == pages && got.forall { r =>
        val i = Referee.pageOf(r.getString(1))
        i < pages && Pages.urlOf(i) == r.getString(1) &&
          ref.vidOfPage(i.toInt) == r.getLong(0)
      }
    }
    checks("crawl.edges")(edgeSet(graph.edges).sameElements(ref.edges))
    checks("crawl.supersteps")(result.supersteps == Supersteps)
    checks("crawl.pagerank")(ranksMatch(result.ranks, ref.pageRank(Supersteps), ref))
    checks("crawl.tableio_head") {
      val (meta, head) = TableIO.read(spark, ckpt).get
      val want = result.ranks.select("vid", "rank").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val got = head.select("vid", "rank").collect()
      meta.step == Supersteps - 1 && got.length == want.size &&
        got.forall(r => want.get(r.getLong(0)).contains(r.getDouble(1)))
    }
  }

  override def derived(ref: Referee, layer: Map[String, Double]): Map[String, Double] = {
    val snaps = TableIO.history(ckpt)
    val stepSecs = snaps.flatMap(_.metrics.get("superstepSecs"))
    val root = new File(ckpt)
    val dataBytes = Files.bytes(new File(root, "data"), _.startsWith("part-"))
    val runShuffle = layer("graph.pagerank.run.shuffle_write_mb")
    Map(
      "graph.pagerank.superstep_s" -> stepSecs.sum / Supersteps,
      "graph.pagerank.shuffle_mb_per_superstep" -> runShuffle / Supersteps,
      "graph.pagerank.shuffle_records_per_edge" ->
        layer("graph.pagerank.run.shuffle_records") / (Supersteps * ref.numEdges),
      "io.commit_s" -> (layer("graph.pagerank.run.s") - stepSecs.sum),
      "io.commits" -> snaps.size.toDouble,
      "io.bytes_per_row" -> dataBytes.toDouble / snaps.map(_.rows).sum,
      "io.snapshot_mb" -> Files.bytes(root, _ => true) / 1e6,
      "ingest.dedup_ratio" -> ref.numEdges.toDouble / ref.rawLinks)
  }

  def release(): Unit = {
    Graphs.releaseBuild(pagesDf)
    vertices.unpersist()
    graph.unpersist()
    Files.delete(new File(ckpt))
  }

  def teardown(): Unit = ()

  def edgePasses(ref: Referee): Long = ref.numEdges * Supersteps
}

object CrawlPipeline {
  val NumPages = 300000

  /** The first of `seed * 1000`, `seed * 1000 + 1`, ... whose link graph has
    * a dangling vertex: a page whose only links point to itself and that
    * another page links to. Real crawls always have dangling pages, and only
    * then does PageRank take its dangling-mass path; left to chance, about
    * one seed in eight would take it, and those runs do more work. */
  def inputSeed(seed: Long): Long =
    Iterator.from(0).map(seed * 1000 + _).find(hasDangler).get

  private def hasDangler(s: Long): Boolean = {
    val n = NumPages.toLong
    val selfOnly = (0L until n).filter(i => Pages.outLinks(i, n, s).forall(_ == i)).toSet
    selfOnly.nonEmpty &&
      (0L until n).exists(j => Pages.outLinks(j, n, s).exists(t => t != j && selfOnly(t)))
  }
}

/** CC, LP and triangles over a small persisted edge table: many stages per
  * kernel, so per-job and per-stage fixed costs dominate. */
final class UndirectedKernels(seed: Long, work: File, partitions: Int)
    extends Workload(5000, seed, work, partitions) {
  val CcStepsPerJob = 4
  val CcMaxIters = 100
  val LpIters = 5
  private var edges: DataFrame = _
  private var cc: DataFrame = _
  private var lp: DataFrame = _
  private var tri: DataFrame = _

  def setup(spark: SparkSession, spans: Spans): Unit = {
    val pages = synthesize(spark)
    val (vertices, e) = spans("ingest.build_graph")(Graphs.buildGraph(pages))
    edges = e.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    Graphs.releaseBuild(pages)
    vertices.unpersist()
  }

  def job(spark: SparkSession, spans: Spans, rep: Int): Unit = {
    cc = spans("graph.cc")(ConnectedComponents.hashMin(spark, edges,
      maxIters = CcMaxIters, checkpointTable = null, checkpointEvery = 1,
      stepsPerJob = CcStepsPerJob))
    lp = spans("graph.lp")(LabelPropagation.run(spark, edges, numIters = LpIters,
      seedLabels = null, checkpointTable = null, checkpointEvery = 1,
      stepsPerJob = LpIters))
    // perVertex is lazy: an eager local checkpoint materializes every row
    tri = spans("graph.triangles")(Triangles.perVertex(edges).localCheckpoint(true))
  }

  def check(spark: SparkSession, ref: Referee, checks: Checks): Unit = {
    checks("kernels.edges")(edgeSet(edges).sameElements(ref.edges))
    checks("kernels.cc")(labelsMatch(cc, "component", ref.components, ref))
    checks("kernels.lp")(labelsMatch(lp, "label", ref.labelProp(LpIters), ref))
    checks("kernels.triangles") {
      val want = ref.triangles
      val got = tri.select("vid", "triangles").collect()
      got.length == ref.numVertices &&
        got.forall(r => want(r.getLong(0).toInt) == r.getLong(1))
    }
  }

  override def derived(ref: Referee, layer: Map[String, Double]): Map[String, Double] = Map(
    "graph.triangles.records_per_triangle" ->
      layer("graph.triangles.shuffle_records") / (ref.triangles.sum / 3.0),
    "ingest.dedup_ratio" -> ref.numEdges.toDouble / ref.rawLinks)

  def release(): Unit = Triangles.uncache(edges)
  def teardown(): Unit = edges.unpersist()

  def edgePasses(ref: Referee): Long =
    ref.numEdges * (ref.hashMinSupersteps(ref.components, CcStepsPerJob, CcMaxIters) +
      LpIters + 1)
}

object Files {
  def bytes(f: File, keep: String => Boolean): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytes(_, keep)).sum
    else if (f.isFile && keep(f.getName)) f.length()
    else 0L

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
