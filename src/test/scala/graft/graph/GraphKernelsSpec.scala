package graft.graph

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** Distributed kernels vs sequential referee on the FIXTURES.md §4 graphs:
  * PageRank allclose 1e-6, CC / LP / triangles exact (north rule).
  */
class GraphKernelsSpec extends SparkSpec {
  import spark.implicits._

  def edgeDF(edges: Seq[(Long, Long)]): DataFrame =
    edges.toDF("src", "dst").repartition(5) // deliberately odd partitioning

  val fixtures: Seq[(String, Seq[(Long, Long)])] = Seq(
    "chain10" -> Referee.chain10,
    "twoCliques" -> Referee.twoCliques,
    "star1k" -> Referee.star1k,
    "danglers" -> Referee.danglers,
    "zipf2k" -> Referee.zipf(500, 2000, 42L)
  )

  test("PageRank matches referee allclose 1e-6 (incl dangling mass)") {
    fixtures.foreach { case (name, edges) =>
      val want = Referee.pageRank(edges)
      val got = PageRank.run(spark, edgeDF(edges), tol = 1e-10, maxIters = 60)
        .ranks.as[(Long, Double)].collect().toMap
      assert(got.keySet == want.keySet, s"$name vertex set")
      want.foreach { case (v, r) =>
        assert(math.abs(got(v) - r) < 1e-6, s"$name vid=$v got=${got(v)} want=$r")
      }
      // probability mass preserved
      assert(math.abs(got.values.sum - 1.0) < 1e-6, s"$name mass")
    }
  }

  test("self-loop-only vertices survive as singleton components/labels") {
    // (3,3)'s vertex 3 has no non-loop edge: it must appear in CC/LP
    // output as its own singleton (previously the symmetrize-derived
    // vertex universe silently dropped it)
    val g = Seq((1L, 2L), (3L, 3L), (2L, 4L))
    val want = Referee.components(g)
    assert(want(3L) == 3L)
    val hm = ConnectedComponents.hashMin(spark, edgeDF(g))
      .as[(Long, Long)].collect().toMap
    assert(hm == want, s"hashMin $hm")
    val star = ConnectedComponents.smallStarLargeStar(spark, edgeDF(g))
      .as[(Long, Long)].collect().toMap
    assert(star == want, s"star $star")
    val lp = LabelPropagation.run(spark, edgeDF(g), numIters = 3)
      .as[(Long, Long)].collect().toMap
    assert(lp.keySet == want.keySet, s"LP vertex set $lp")
    assert(lp(3L) == 3L, s"LP self-loop vertex keeps own label: $lp")
  }

  test("hub salting spreads a hot dst's in-edges across salt sub-keys") {
    // 1000-src -> one-dst star. The two-stage salted aggregate only helps
    // if the hub's reduce volume splits across numSalts sub-keys, so the
    // salt must VARY within a fixed dst (a function of src); a salt keyed
    // on dst puts every row in one sub-key and degenerates to the plain
    // groupBy — the defect this test pins.
    val star = (1L to 1000L).map(s => (s, 0L)).toDF("src", "dst")
    val subKeys = star.withColumn("salt", PageRank.saltCol(4))
      .groupBy("dst", "salt").count().count()
    assert(subKeys == 4L, s"expected the hub split across 4 sub-keys, got $subKeys")
    // and the salted superstep still delivers the exact hub in-mass
    val ranks = star.select(col("src").as("vid"))
      .union(star.select(col("dst").as("vid"))).distinct()
      .withColumn("rank", lit(1.0 / 1001))
      .withColumn("outDeg", when(col("vid") === 0L, 0L).otherwise(1L))
    val hubMass = PageRank.saltedContribs(star, ranks, 4)
      .where(col("vid") === 0L).select("inMass").as[Double].head()
    assert(math.abs(hubMass - 1000.0 / 1001) < 1e-9, s"hub in-mass $hubMass")
  }

  test("hash-min CC matches BFS referee exactly") {
    fixtures.foreach { case (name, edges) =>
      val want = Referee.components(edges)
      val got = ConnectedComponents.hashMin(spark, edgeDF(edges))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"$name")
    }
  }

  test("small-star/large-star CC matches BFS referee exactly") {
    fixtures.foreach { case (name, edges) =>
      val want = Referee.components(edges)
      val got = ConnectedComponents.smallStarLargeStar(spark, edgeDF(edges))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"$name")
    }
  }

  test("label propagation matches referee exactly (min-label ties)") {
    fixtures.foreach { case (name, edges) =>
      val iters = 4
      val want = Referee.labelProp(edges, iters)
      val got = LabelPropagation.run(spark, edgeDF(edges), numIters = iters)
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"$name")
    }
  }

  test("seeded label propagation matches referee exactly") {
    val edges = Referee.zipf(300, 1200, 21L)
    val vertices = (edges.map(_._1) ++ edges.map(_._2)).toSet
    // every third vertex seeded with a label from outside the vid range,
    // plus seeds for vids the graph does not hold
    val seeds = vertices.filter(_ % 3 == 0).map(v => v -> (1000L + v % 7)).toMap ++
      Seq(5000L -> 1L, 5001L -> 2L)
    val seedDF = seeds.toSeq.toDF("vid", "label")
    // zero supersteps return the start state: seeded vertices at their
    // seed, the rest at their own vid, foreign seed rows dropped
    val start = LabelPropagation.run(spark, edgeDF(edges), numIters = 0,
      seedLabels = seedDF).as[(Long, Long)].collect()
    assert(start.length == vertices.size)
    assert(start.toMap == vertices.map(v => v -> seeds.getOrElse(v, v)).toMap)
    val iters = 4
    val got = LabelPropagation.run(spark, edgeDF(edges), numIters = iters,
      seedLabels = seedDF).as[(Long, Long)].collect().toMap
    assert(got == Referee.labelProp(edges, iters, seeds))
  }

  test("the undirected layout is one cached CSR frame built in one src exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // both directions of (1,2), a genuine self-edge (3,3) on a vertex with
    // other edges, and the loop-only vertex 4
    val input = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L), (4L, 4L), (5L, 3L))
    val want = input.filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).toSet ++
      input.flatMap(p => Seq(p._1, p._2)).map(v => (v, v))
    val g = new ConnectedComponents.Undirected(input.toDF("src", "dst"))
    try {
      val rows = g.edges.as[(Long, Long)].collect()
      assert(rows.length == want.size && rows.toSet == want)
      val cached = g.edges.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(cached.size == 1)
      val exchanges = cached.head.cachedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, cached.head.cachedPlan.toString)
      exchanges.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.flatMap(_.references.map(_.name)) == Seq("src"))
        case other => fail(s"layout exchange partitions on $other")
      }
      // the start state read off the loops keeps its vid partitioning
      // through a local checkpoint
      val st = g.start("label").localCheckpoint(true)
      assert(st.as[(Long, Long)].collect().toSet == Set(1L, 2L, 3L, 4L, 5L).map(v => (v, v)))
      st.queryExecution.executedPlan.outputPartitioning match {
        case h: HashPartitioning =>
          assert(h.expressions.flatMap(_.references.map(_.name)) == Seq("vid"))
        case other => fail(s"start state partitioned on $other")
      }
    } finally g.unpersist()
  }

  test("triangle counts match referee exactly") {
    fixtures.foreach { case (name, edges) =>
      val want = Referee.triangles(edges)
      val got = Triangles.perVertex(edgeDF(edges))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"$name")
    }
  }

  test("twoCliques known truths") {
    val e = edgeDF(Referee.twoCliques)
    // one component once bridged
    val comps = ConnectedComponents.hashMin(spark, e)
      .select(countDistinct($"component")).as[Long].head()
    assert(comps == 1L)
    // 2 * C(5,3) = 20 triangles, each credited to its three corners
    val corners = Triangles.perVertex(e).agg(sum($"triangles")).as[Long].head()
    assert(corners / 3 == 20L && corners % 3 == 0L, s"corner credits $corners")
  }

  test("KahanSum merge folds partial compensation with the right sign") {
    // a state (sum, c) represents sum - c; merging (0,0) with (10,3) must
    // yield 7 — the wrong sign (add +c_b) would yield 13
    assert(KahanSum.finish(KahanSum.merge((0.0, 0.0), (10.0, 3.0))) == 7.0)
    assert(KahanSum.finish(KahanSum.merge((10.0, 3.0), (0.0, 0.0))) == 7.0)
    // end-to-end through reduce+merge: values whose compensation is live at
    // merge time (1e16 has ulp 2, so the three 1.0s survive only in c)
    val parts = Seq(Seq(1e16, 1.0, 1.0, 1.0), Seq(-1e16, -1.0))
    val states = parts.map(_.foldLeft(KahanSum.zero)(KahanSum.reduce))
    assert(math.abs(KahanSum.finish(states.reduce(KahanSum.merge)) - 2.0) <= 2.0 + 1e-9)
    // order/partitioning invariance across a wide dynamic range via the udaf
    val xs = (0 until 1000).flatMap(i => Seq(1e12 + i, -(1e12 + i), 0.001))
    val g1 = xs.toDF("x").repartition(3).agg(KahanSum.column($"x")).as[Double].head()
    val g2 = xs.reverse.toDF("x").repartition(17).agg(KahanSum.column($"x")).as[Double].head()
    // condition number Σ|x|/|result| ≈ 2e15 ⇒ even compensated summation
    // only guarantees ~eps·Σ|x| ≈ 1e-3 here; the point is order invariance
    // within that bound, not exactness
    assert(math.abs(g1 - 1.0) < 0.01 && math.abs(g2 - 1.0) < 0.01)
  }

  test("KahanSumAgg (codegen'd declarative) is bit-identical to the Aggregator form") {
    // same arithmetic, same op order: on a FIXED partitioning the declarative
    // HashAggregate and the udaf ObjectHashAggregate must agree on every bit
    // (update path, merge path with live compensation, empty-ish groups)
    val xs = (0 until 2000).flatMap(i =>
      Seq(1e16, 1.0, -1e16, 0.001 * i, -1.0, 1e-9 * i))
    val df = xs.zipWithIndex
      .map { case (x, i) => (i % 7L, x) }.toDF("k", "x")
      .repartition(5, $"k").cache()
    df.count()
    val native = df.groupBy($"k").agg(KahanSum.column($"x").as("s"))
      .as[(Long, Double)].collect().toMap
    val udafForm = df.groupBy($"k").agg(KahanSum.columnUdaf($"x").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(native.keySet == udafForm.keySet)
    native.foreach { case (k, v) =>
      assert(java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(udafForm(k)),
        s"group $k: declarative $v != udaf ${udafForm(k)}")
    }
    df.unpersist()
    // plan check: the column form must NOT plan an ObjectHashAggregate
    val plan = df.groupBy($"k").agg(KahanSum.column($"x"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"kahan_sum still plans ObjectHashAggregate:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected HashAggregate:\n$plan")
  }

  /** `edges` plus a ring v -> v+1 mod n: every vertex gets an out-edge, so
    * PageRank fuses the graph's supersteps (a graph with dangling vertices
    * runs one superstep per block). */
  def danglerFree(edges: Seq[(Long, Long)], n: Int): Seq[(Long, Long)] =
    (edges ++ (0 until n).map(v => (v.toLong, (v + 1L) % n))).distinct

  test("stepsPerJob block fusion computes the same fixpoint trajectory") {
    // chaining k supersteps per job is a driver-side fusion only: the math
    // per superstep is identical, so 12 steps = 4 blocks of 3 = 12 blocks
    // of 1 up to shuffle merge-order float noise
    val edges = danglerFree(Referee.zipf(400, 1600, 11L), 400)
    val a = PageRank.run(spark, edgeDF(edges), maxIters = 12, tol = -1.0)
      .ranks.as[(Long, Double)].collect().toMap
    val b = PageRank.run(spark, edgeDF(edges), maxIters = 12, tol = -1.0,
      stepsPerJob = 3).ranks.as[(Long, Double)].collect().toMap
    val c = PageRank.run(spark, edgeDF(edges), maxIters = 12, tol = -1.0,
      stepsPerJob = 5).ranks.as[(Long, Double)].collect().toMap // 5+5+2
    assert(a.keySet == b.keySet && a.keySet == c.keySet)
    a.foreach { case (v, r) =>
      assert(math.abs(b(v) - r) < 1e-9, s"stepsPerJob=3 vid=$v")
      assert(math.abs(c(v) - r) < 1e-9, s"stepsPerJob=5 vid=$v")
    }
    // and convergence mode still stops: delta spans a block, so a converged
    // run under block fusion terminates with the same ranks
    val conv1 = PageRank.run(spark, edgeDF(edges), tol = 1e-10, maxIters = 60)
    val conv3 = PageRank.run(spark, edgeDF(edges), tol = 1e-10, maxIters = 60,
      stepsPerJob = 3)
    val m1 = conv1.ranks.as[(Long, Double)].collect().toMap
    val m3 = conv3.ranks.as[(Long, Double)].collect().toMap
    m1.foreach { case (v, r) => assert(math.abs(m3(v) - r) < 1e-8, s"conv vid=$v") }
  }

  test("checkpointEvery cadence: commits every k supersteps, crash resumes") {
    import graft.io.TableIO
    val edges = Referee.zipf(200, 800, 5L)

    // cadence: 6 supersteps, checkpointEvery=2 -> commits at relative steps
    // 0, 2, 4 plus the final step 5
    val t1 = tmpDir("pr_ckpt_cadence")
    PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0,
      checkpointTable = t1, checkpointEvery = 2)
    assert(TableIO.history(t1).map(_.step) == Seq(0L, 2L, 4L, 5L))

    // fault injection: a crash after the parquet writes of the step-4 and
    // step-5 snapshots but before their manifest renames. Deleting those
    // manifests leaves HEAD pointing past the last real commit and the
    // orphan data/snap-* dirs on disk; the resume must read the step-2
    // snapshot, overwrite the orphans and match the uninterrupted run
    val truth = PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0)
      .ranks.as[(Long, Double)].collect().toMap
    val t2 = tmpDir("pr_ckpt_crash")
    PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0,
      checkpointTable = t2, checkpointEvery = 2)
    val lost = TableIO.history(t2).filter(_.step > 2L)
    assert(lost.map(_.snapshotId) == Seq(2L, 3L))
    lost.foreach { m =>
      val manifest = new java.io.File(t2, s"manifests/manifest-${m.snapshotId}.json")
      assert(manifest.delete(), s"could not delete $manifest")
    }
    assert(new java.io.File(t2, "data/snap-000003").isDirectory, "orphan data dir")
    assert(TableIO.currentSnapshot(t2).map(_.step) == Some(2L))
    val r = PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0,
      checkpointTable = t2, checkpointEvery = 2)
    val resumed = r.ranks.as[(Long, Double)].collect().toMap
    assert(resumed.keySet == truth.keySet)
    truth.foreach { case (v, x) =>
      assert(math.abs(resumed(v) - x) < 1e-12, s"resume vid=$v")
    }
    // the resumed call counts its cadence from step 3: commits 3 and 5
    assert(TableIO.history(t2).map(_.step) == Seq(0L, 2L, 3L, 5L))
    val (head, back) = TableIO.read(spark, t2).get
    assert(head.step == 5L)
    assert(back.as[(Long, Double)].collect().toMap == resumed)
  }

  test("PageRank commits its final ranks when the run ends off-cadence") {
    import graft.io.TableIO
    val edges = Referee.zipf(200, 800, 19L)
    val t = tmpDir("pr_final_commit")
    val r = PageRank.run(spark, edgeDF(edges), maxIters = 5, tol = -1.0,
      checkpointTable = t, checkpointEvery = 2)
    val (head, back) = TableIO.read(spark, t).get
    assert(head.step == r.supersteps - 1,
      s"HEAD step ${head.step} must be the last superstep ${r.supersteps - 1}")
    assert(back.as[(Long, Double)].collect().toMap
      == r.ranks.as[(Long, Double)].collect().toMap)
  }

  test("replaced superstep state is released: a call leaves only the state it returns") {
    import graft.corpus.Word2Phrase
    import graft.topics.{GSDMM, LDA}
    val sc = spark.sparkContext
    val e = edgeDF(Referee.chain10)
    val bow = Seq((0L, 0, 2), (0L, 1, 1), (1L, 2, 1), (1L, 3, 2), (2L, 0, 1))
      .toDF("doc", "word", "cnt")
    val docs = Seq((0L, "new york is big"), (1L, "new york city"), (2L, "big new york"))
      .toDF("doc", "text")
    // persistent RDDs a call creates and leaves behind. The result stays
    // referenced until after the count, so the ContextCleaner cannot
    // remove its checkpoint while it is being counted
    def leftover(run: => DataFrame): Int = {
      val before = sc.getPersistentRDDs.keySet
      val out = run
      assert(out.collect().nonEmpty)
      val left = (sc.getPersistentRDDs.keySet -- before).size
      assert(out.columns.nonEmpty)
      left
    }
    val kernels: Seq[(String, Int => DataFrame)] = Seq(
      "pagerank" -> (n => PageRank.run(spark, e, maxIters = n, tol = -1.0).ranks),
      "cc" -> (n => ConnectedComponents.hashMin(spark, e, maxIters = n)),
      "star-cc" -> (n => ConnectedComponents.smallStarLargeStar(spark, e, maxIters = n)),
      "lp" -> (n => LabelPropagation.run(spark, e, numIters = n)),
      "lda" -> (n => new LDA(2, seed = 3L).train(spark, bow, 4, n).assignments),
      "gsdmm" -> (n => new GSDMM(2, seed = 3L).train(spark, bow, 4, n).docs),
      "word2phrase" -> (n => Word2Phrase.run(spark, docs, numIters = n, minFreq = 1)))
    kernels.foreach { case (name, run) =>
      val short = leftover(run(1))
      val long = leftover(run(6))
      // only the returned state's checkpoint outlives the call
      assert(short <= 1 && long <= 1,
        s"$name leaves $short persistent RDDs after 1 step, $long after 6")
    }
  }

  test("releasing replaced superstep state logs no truncated-lineage WARN") {
    val sc = spark.sparkContext
    // capture WARN events of every org.apache.spark.rdd logger (RDD logs
    // under its concrete class's name) without passing them to the console
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("rdd-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val name = "org.apache.spark.rdd"
    assert(!ctx.getConfiguration.getLoggers.containsKey(name))
    val logger = new LoggerConfig(name, Level.WARN, false)
    logger.addAppender(appender, Level.WARN, null)
    ctx.getConfiguration.addLogger(name, logger)
    ctx.updateLoggers()
    def truncated: Int = seen.toArray.count(_.toString.contains("locally checkpointed"))
    try {
      // control: RDD.unpersist on a local checkpoint does log the warning
      val control = sc.parallelize(1 to 10, 2).localCheckpoint()
      control.count()
      control.unpersist()
      assert(truncated == 1, s"capture saw ${seen.toArray.mkString("; ")}")
      // a 6-step PageRank releases its start state and 5 replaced states
      val r = PageRank.run(spark, edgeDF(Referee.zipf(200, 800, 5L)),
        maxIters = 6, tol = -1.0)
      assert(r.supersteps == 6)
      assert(truncated == 1,
        s"release logged: ${seen.toArray.mkString("; ")}")
    } finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("every link-graph cache and superstep checkpoint is stored serialized") {
    import graft.ingest.{Graphs, Pages}
    val sc = spark.sparkContext
    assert(sc.getConf.get("spark.rdd.compress") == "true")
    // level of every RDD block written, by RDD id: hashMin's and LP's
    // caches are released before they return, so their blocks are checked
    // as they are written
    val written = new java.util.concurrent.ConcurrentHashMap[Int, StorageLevel]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (b.storageLevel.isValid) b.blockId.asRDDId.foreach { id =>
          if (b.storageLevel.deserialized || !written.containsKey(id.rddId))
            written.put(id.rddId, b.storageLevel)
        }
      }
    }
    sc.addSparkListener(listener)
    val before = sc.getPersistentRDDs.keySet
    val pages = Pages.synthesize(spark, 1000, 7L, 4)
    val (vertices, edges) = Graphs.buildGraph(pages)
    val g = PageRank.prepare(spark, edges)
    try {
      val ranks = PageRank.runPrepared(spark, g, maxIters = 3, tol = -1.0).ranks
      assert(ranks.count() == g.n)
      assert(Triangles.perVertex(edges).where(col("triangles") > 0).count() > 0)
      // alive: buildGraph's caches, the layout, the returned ranks'
      // checkpoint, the returned triangle counts' checkpoint
      val alive = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(alive.size >= 6, s"persistent RDDs: $alive")
      alive.foreach { case (id, rdd) =>
        assert(!rdd.getStorageLevel.deserialized, s"RDD $id at ${rdd.getStorageLevel}")
      }
      assert(ConnectedComponents.hashMin(spark, edges).count() == g.n)
      assert(LabelPropagation.run(spark, edges, numIters = 3).count() == g.n)
      // block updates reach the listener in order: once a marker RDD's
      // block is seen, every earlier block has been
      val marker = sc.parallelize(Seq(1), 1).persist(StorageLevel.MEMORY_ONLY)
      marker.count()
      eventually(timeout(30.seconds)) { assert(written.containsKey(marker.id)) }
      marker.unpersist()
      written.remove(marker.id)
      assert(written.size > alive.size, s"blocks written: $written")
      written.forEach { (id, level) =>
        assert(!level.deserialized, s"RDD $id wrote a block at $level")
      }
    } finally {
      sc.removeSparkListener(listener)
      g.unpersist()
      vertices.unpersist()
      Graphs.releaseBuild(pages)
    }
  }

  test("CC/LP checkpoint cadence: k-superstep commits, final state durable") {
    import graft.io.TableIO
    val edges = Referee.zipf(150, 600, 3L)
    // hashMin: cadence 3 over a run that converges at some step c — commits
    // land at 0, 3, 6, ... and ALWAYS at the converged step
    val t1 = tmpDir("cc_cadence")
    val cc = ConnectedComponents.hashMin(spark, edgeDF(edges),
      checkpointTable = t1, checkpointEvery = 3)
    val h1 = TableIO.history(t1).map(_.step)
    assert(h1.nonEmpty && h1.head == 0L)
    assert(h1.zip(h1.tail).forall { case (a, b) => b - a <= 3 })
    // durable HEAD state equals the in-memory result (final commit present)
    val (_, back) = TableIO.read(spark, t1).get
    assert(back.as[(Long, Long)].collect().toMap
      == cc.as[(Long, Long)].collect().toMap)

    // LP: 5 iterations, cadence 2 -> steps 0, 2, 4 (4 = final, forced)
    val t2 = tmpDir("lp_cadence")
    val lp = LabelPropagation.run(spark, edgeDF(edges), numIters = 5,
      checkpointTable = t2, checkpointEvery = 2)
    assert(TableIO.history(t2).map(_.step) == Seq(0L, 2L, 4L))
    val (m2, back2) = TableIO.read(spark, t2).get
    assert(m2.step == 4L)
    assert(back2.as[(Long, Long)].collect().toMap
      == lp.as[(Long, Long)].collect().toMap)
  }

  test("block fusion + checkpointing compose (commits at block boundaries)") {
    import graft.io.TableIO
    val zipf = Referee.zipf(200, 800, 9L)
    // dangler-free: blocks of 2 -> boundaries after steps 1, 3, 5; cadence 1
    // commits each. With danglers every superstep is its own block, so
    // cadence 1 commits every step
    for ((edges, commits) <- Seq(
        danglerFree(zipf, 200) -> Seq(1L, 3L, 5L),
        zipf -> Seq(0L, 1L, 2L, 3L, 4L, 5L))) {
      val t = tmpDir("pr_ckpt_blocks")
      val r = PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0,
        checkpointTable = t, stepsPerJob = 2, checkpointEvery = 1)
      assert(r.supersteps == 6)
      assert(TableIO.history(t).map(_.step) == commits)
      val truth = PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0)
        .ranks.as[(Long, Double)].collect().toMap
      val got = r.ranks.as[(Long, Double)].collect().toMap
      truth.foreach { case (v, x) => assert(math.abs(got(v) - x) < 1e-9) }
    }
  }

  test("a dangler superstep runs one contribution shuffle, fused or not") {
    // the contribution exchange writes one partial sum per distinct dst of
    // each CSR edge partition: `contrib` records. The only other shuffle of
    // a superstep is the dangling-mass total, one record per partition
    val sc = spark.sparkContext
    val g = PageRank.prepare(spark, edgeDF(Referee.zipf(600, 3000, 23L)))
    val counter = new ShuffleRecords
    sc.addSparkListener(counter)
    try {
      assert(g.hasDanglers)
      val contrib = g.edges.rdd
        .mapPartitions(rows => Iterator(rows.map(_.getLong(1)).toSet.size.toLong))
        .sum().toLong
      val partitions = g.edges.rdd.getNumPartitions
      val steps = 6
      for (spj <- Seq(1, 3)) {
        val group = s"pr_dangler_spj$spj"
        sc.setJobGroup(group, group)
        try PageRank.runPrepared(spark, g, maxIters = steps, tol = -1.0,
          stepsPerJob = spj)
        finally sc.clearJobGroup()
        val records = counter.of(group, sc.statusTracker.getJobIdsForGroup(group).length)
        assert(records >= steps * contrib &&
          records <= steps * (contrib + partitions),
          s"stepsPerJob=$spj: $records shuffle records in $steps supersteps, " +
            s"one contribution exchange is $contrib")
      }
    } finally {
      sc.removeSparkListener(counter)
      g.unpersist()
    }
  }

  test("kernels are partitioning-invariant") {
    val edges = Referee.zipf(300, 1200, 7L)
    val a = edges.toDF("src", "dst").repartition(2)
    val b = edges.toDF("src", "dst").repartition(11)
    val pa = PageRank.run(spark, a, maxIters = 12).ranks
      .as[(Long, Double)].collect().toMap
    val pb = PageRank.run(spark, b, maxIters = 12).ranks
      .as[(Long, Double)].collect().toMap
    pa.foreach { case (v, r) => assert(math.abs(pb(v) - r) < 1e-9) }
    val la = LabelPropagation.run(spark, a, numIters = 3)
      .as[(Long, Long)].collect().toMap
    val lb = LabelPropagation.run(spark, b, numIters = 3)
      .as[(Long, Long)].collect().toMap
    assert(la == lb)
  }

  test("CC/LP block fusion: stepsPerJob results identical to unfused") {
    fixtures.foreach { case (name, edges) =>
      val cc1 = ConnectedComponents.hashMin(spark, edgeDF(edges))
        .as[(Long, Long)].collect().toMap
      val cc3 = ConnectedComponents.hashMin(spark, edgeDF(edges), stepsPerJob = 3)
        .as[(Long, Long)].collect().toMap
      assert(cc1 == cc3, s"$name cc fused")
      val lp1 = LabelPropagation.run(spark, edgeDF(edges), numIters = 5)
        .as[(Long, Long)].collect().toMap
      val lp3 = LabelPropagation.run(spark, edgeDF(edges), numIters = 5,
        stepsPerJob = 3).as[(Long, Long)].collect().toMap
      assert(lp1 == lp3, s"$name lp fused")
    }
  }

  test("CC superstep fusion actually cuts Spark jobs (changed-count folded)") {
    // a call runs the same setup jobs whatever its block size, plus ONE job
    // per block: the changed-count (CC) or the eager checkpoint (LP)
    // materializes the block. That holds exactly with broadcast joins off,
    // as at web scale. On these tiny fixtures Spark's default threshold
    // also broadcasts a join side, in jobs of their own that depend on which
    // side it picks, so there fusion must only cut jobs
    val sc = spark.sparkContext
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    // hash-min changes labels for `depth` supersteps; a block of k steps
    // that changes none ends the run
    val depth = Referee.labelDepth(Referee.chain10)
    assert(depth == 9)
    val ccSteps = Seq(1, 2, 4)
    val ccBlocks = ccSteps.map(k => (depth - 1) / k + 2)
    val lpSteps = Seq(1, 2, 3)
    val lpBlocks = lpSteps.map(6 / _)
    def jobs(tag: String): (Seq[Int], Seq[Int]) = (
      ccSteps.map { k =>
        jobsOf(s"cc_${tag}_spj$k") {
          ConnectedComponents.hashMin(spark, edgeDF(Referee.chain10), stepsPerJob = k)
            .count()
        }
      },
      lpSteps.map { k =>
        jobsOf(s"lp_${tag}_spj$k") {
          LabelPropagation.run(spark, edgeDF(Referee.zipf(300, 1200, 21L)),
            numIters = 6, stepsPerJob = k).count()
        }
      })
    val (cc, lp) = jobs("default")
    assert(cc.sliding(2).forall(p => p(1) < p(0)), s"CC jobs by block size: $cc")
    assert(lp.sliding(2).forall(p => p(1) < p(0)), s"LP jobs by block size: $lp")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val default = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val (ccNb, lpNb) = try jobs("nobroadcast") finally spark.conf.set(key, default)
    assert(ccNb.zip(ccBlocks).map(p => p._1 - p._2).distinct.size == 1,
      s"CC jobs $ccNb for $ccBlocks blocks")
    assert(lpNb.zip(lpBlocks).map(p => p._1 - p._2).distinct.size == 1,
      s"LP jobs $lpNb for $lpBlocks blocks")
  }

  test("a fused hash-min block runs one exchange per superstep, on dst") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // the physical plan of every block: the chain its checkpoint runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // no broadcast joins, which web-scale sizes rule out (PlanAudit's
    // NOBROADCAST mode): the plan is the partitioned one
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    spark.listenerManager.register(listener)
    try {
      val edges = Referee.zipf(300, 1200, 21L)
      val k = 3
      val blocks = (Referee.labelDepth(edges) - 1) / k + 2
      ConnectedComponents.hashMin(spark, edgeDF(edges), stepsPerJob = k).count()
      def blockPlans = plans.toArray(Array.empty[SparkPlan]).toSeq
        .filter(_.exists(_.isInstanceOf[SortMergeJoinExec]))
      eventually(timeout(30.seconds)) { assert(blockPlans.size == blocks) }
      assert(blocks >= 2)
      blockPlans.zipWithIndex.foreach { case (plan, b) =>
        val keys = plan.collect { case e: ShuffleExchangeExec =>
          e.outputPartitioning match {
            case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name))
            case other => Seq(other.toString)
          }
        }
        // the min-label aggregate of each superstep and nothing else: every
        // block's start state, the first included, arrives on vid
        assert(keys.count(_ == Seq("dst")) == k, s"block $b exchanges on $keys")
        assert(keys.size == k, s"block $b exchanges on $keys")
        // each superstep's join reads its edge side straight off the cache
        val joins = plan.collect { case j: SortMergeJoinExec => j }
        assert(joins.size == k)
        joins.foreach { j =>
          assert(j.children.exists { side =>
            side.exists(_.isInstanceOf[InMemoryTableScanExec]) &&
              !side.exists(_.isInstanceOf[ShuffleExchangeExec])
          }, s"block $b re-shuffles the cached edges:\n$j")
        }
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set(key, was)
    }
  }

  test("a superstep that throws releases its checkpoints and restores AQE") {
    val sc = spark.sparkContext
    val key = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(key)
    val start = (0L until 20L).toDF("vid").withColumn("x", lit(0L))
    def step(st: DataFrame, i: Int): DataFrame = st.withColumn("x", lit(i + 1L))
    def boom(what: String) = throw new IllegalStateException(what)
    // each call fails at step 2, fused or not: its step, its convergence
    // action or its commit throws
    val failures: Seq[(String, Int => Supersteps.Result)] = Seq(
      "step" -> (k => Supersteps.iterate(spark, start,
        (st, i) => if (i == 2) boom("step") else step(st, i), 5, null, 1,
        stepsPerJob = k)),
      "convergence action" -> (k => Supersteps.iterate(spark, start, step, 5,
        null, 1, stepsPerJob = k,
        converged = Some((_, next) =>
          if (next.agg(max("x")).head().getLong(0) > 2) boom("convergence action")
          else Supersteps.Check(converged = false, Map.empty)))),
      "commit" -> (k => Supersteps.iterate(spark, start, step, 5,
        tmpDir("failed_commit"), 1, stepsPerJob = k,
        commitMetrics = st =>
          if (st.agg(max("x")).head().getLong(0) > 2) boom("commit") else Map.empty)))
    for ((what, run) <- failures; k <- Seq(1, 2)) {
      val before = sc.getPersistentRDDs.keySet
      val e = intercept[IllegalStateException](run(k))
      assert(e.getMessage == what)
      assert(spark.conf.get(key) == aqe, s"$what, stepsPerJob=$k")
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$what, stepsPerJob=$k leaves RDDs $left")
    }
  }

  test("fused CC/LP + checkpointing: block-boundary commits, final durable") {
    import graft.io.TableIO
    val edges = Referee.zipf(150, 600, 13L)
    val t1 = tmpDir("cc_fused_ckpt")
    val cc = ConnectedComponents.hashMin(spark, edgeDF(edges),
      checkpointTable = t1, checkpointEvery = 3, stepsPerJob = 2)
    val h1 = TableIO.history(t1).map(_.step)
    // first block (steps 0-1) covers cadence point 0 -> first commit at 1;
    // thereafter every boundary at/past a multiple of 3, gap ≤ cadence+block
    assert(h1.nonEmpty && h1.head == 1L, s"history $h1")
    assert(h1.zip(h1.tail).forall { case (a, b) => b - a <= 5 }, s"history $h1")
    val (_, back1) = TableIO.read(spark, t1).get
    assert(back1.as[(Long, Long)].collect().toMap
      == cc.as[(Long, Long)].collect().toMap)

    // LP: 5 iters, cadence 2, blocks of 2 -> boundaries 1,3,4; commits 1,3,4
    val t2 = tmpDir("lp_fused_ckpt")
    val lp = LabelPropagation.run(spark, edgeDF(edges), numIters = 5,
      checkpointTable = t2, checkpointEvery = 2, stepsPerJob = 2)
    assert(TableIO.history(t2).map(_.step) == Seq(1L, 3L, 4L))
    val (m2, back2) = TableIO.read(spark, t2).get
    assert(m2.step == 4L)
    assert(back2.as[(Long, Long)].collect().toMap
      == lp.as[(Long, Long)].collect().toMap)
  }

  test("PageRank convergence exit commits final ranks even off-cadence") {
    import graft.io.TableIO
    val edges = Referee.zipf(150, 600, 17L)
    val t = tmpDir("pr_conv_commit")
    val r = PageRank.run(spark, edgeDF(edges), tol = 1e-4, maxIters = 200,
      checkpointTable = t, checkpointEvery = 7)
    assert(r.delta < 1e-4, "run must exit via convergence for this test")
    val (m, back) = TableIO.read(spark, t).get
    assert(m.step == r.supersteps - 1,
      s"HEAD step ${m.step} must be the converged step ${r.supersteps - 1}")
    val committed = back.as[(Long, Double)].collect().toMap
    r.ranks.as[(Long, Double)].collect().foreach { case (v, x) =>
      assert(committed(v) == x, s"committed rank differs at vid=$v")
    }
  }
}

/** Shuffle-write records of the stages each job group ran. */
final class ShuffleRecords extends SparkListener {
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val records = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val jobsEnded = mutable.Map.empty[String, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        groupOfJob(e.jobId) = g
        e.stageIds.foreach(groupOfStage(_) = g)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- groupOfStage.get(e.stageId); m <- Option(e.taskMetrics))
      records(g) += m.shuffleWriteMetrics.recordsWritten
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groupOfJob.get(e.jobId).foreach(jobsEnded(_) += 1)
  }

  /** The group's records, once the ends of its `jobs` jobs were delivered
    * (task ends precede their job's end on the listener bus). */
  def of(group: String, jobs: Int): Long = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (synchronized(jobsEnded(group)) < jobs && System.nanoTime() < deadline)
      Thread.sleep(20)
    synchronized {
      assert(jobsEnded(group) == jobs, s"listener saw ${jobsEnded(group)} of $jobs jobs")
      records(group)
    }
  }
}
