package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
    // 2 * C(5,3) = 20 triangles
    assert(Triangles.globalCount(e) == 20L)
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

  test("stepsPerJob block fusion computes the same fixpoint trajectory") {
    // chaining k supersteps per job is a driver-side fusion only: the math
    // per superstep is identical, so 12 steps = 4 blocks of 3 = 12 blocks
    // of 1 up to shuffle merge-order float noise
    val edges = Referee.zipf(400, 1600, 11L)
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
    import graft.topics.{GSDMM, LDA}
    val sc = spark.sparkContext
    val e = edgeDF(Referee.chain10)
    val bow = Seq((0L, 0, 2), (0L, 1, 1), (1L, 2, 1), (1L, 3, 2), (2L, 0, 1))
      .toDF("doc", "word", "cnt")
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
      "lp" -> (n => LabelPropagation.run(spark, e, numIters = n)),
      "lda" -> (n => new LDA(2, seed = 3L).train(spark, bow, 4, n).assignments),
      "gsdmm" -> (n => new GSDMM(2, seed = 3L).train(spark, bow, 4, n).docs))
    kernels.foreach { case (name, run) =>
      val short = leftover(run(1))
      val long = leftover(run(6))
      // only the returned state's checkpoint outlives the call
      assert(short <= 1 && long <= 1,
        s"$name leaves $short persistent RDDs after 1 step, $long after 6")
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
    val edges = Referee.zipf(200, 800, 9L)
    val t = tmpDir("pr_ckpt_blocks")
    val r = PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0,
      checkpointTable = t, stepsPerJob = 2, checkpointEvery = 1)
    assert(r.supersteps == 6)
    // blocks of 2 -> boundaries after steps 1, 3, 5; cadence 1 commits each
    assert(TableIO.history(t).map(_.step) == Seq(1L, 3L, 5L))
    val truth = PageRank.run(spark, edgeDF(edges), maxIters = 6, tol = -1.0)
      .ranks.as[(Long, Double)].collect().toMap
    val got = r.ranks.as[(Long, Double)].collect().toMap
    truth.foreach { case (v, x) => assert(math.abs(got(v) - x) < 1e-9) }
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
    // AQE scoped off HERE so one action = one job (AQE submits a job per
    // query stage, which would hide the driver-side action count this test
    // measures; the kernels themselves run with AQE on)
    val sc = spark.sparkContext
    val edges = Referee.zipf(300, 1200, 21L)
    def jobsOf(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val unfused = jobsOf("cc_unfused") {
        ConnectedComponents.hashMin(spark, edgeDF(edges)).count()
      }
      val fused = jobsOf("cc_fused") {
        ConnectedComponents.hashMin(spark, edgeDF(edges), stepsPerJob = 4).count()
      }
      assert(fused < unfused,
        s"stepsPerJob=4 should run fewer jobs ($fused) than unfused ($unfused)")
      val lpUnfused = jobsOf("lp_unfused") {
        LabelPropagation.run(spark, edgeDF(edges), numIters = 6).count()
      }
      val lpFused = jobsOf("lp_fused") {
        LabelPropagation.run(spark, edgeDF(edges), numIters = 6, stepsPerJob = 3).count()
      }
      assert(lpFused < lpUnfused,
        s"LP stepsPerJob=3 should run fewer jobs ($lpFused) than unfused ($lpUnfused)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
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
