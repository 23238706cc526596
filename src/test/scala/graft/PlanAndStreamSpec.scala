package graft

import org.apache.spark.sql.functions._

import graft.graph.PageRank
import graft.ingest.Pages
import graft.streaming.StreamIngest

/** Physical-plan quality gates (the 100-TB checklist, asserted):
  * predicate pushdown reaches the parquet scan, dimension joins broadcast,
  * cached edge partitioning is reused (no edge-side exchange per
  * superstep), whole-stage codegen covers the relational surface.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("filters are pushed down to the parquet scan") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val q = li.where($"l_quantity" > 45.0 && $"l_discount" < 0.05)
      .select("l_orderkey")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity"), plan.take(800))
    // and the scan reads only the referenced columns
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!rs.contains("l_extendedprice") && !rs.contains("l_shipdate"))
  }

  test("small dimension join is a broadcast join") {
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val q = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name").count()
    assert(executed(q).contains("BroadcastHashJoin"))
  }

  test("relational aggregations run inside whole-stage codegen") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val q = li.groupBy("l_returnflag").agg(sum("l_quantity"))
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    val plan = executed(q)
    assert(plan.contains("*(1) HashAggregate") || plan.contains("*(2) HashAggregate"),
      plan.take(800))
  }

  test("vocab id assignment has no single-partition exchange or global window") {
    val docs = (0L until 200L).map(d => (d, s"w${d % 7} common w${d % 13} tail$d"))
      .toDF("doc", "text")
    val toks = graft.corpus.Corpus.tokens(docs, "doc", "text")
    val v = graft.corpus.Corpus.vocab(toks)
    v.collect()
    val plan = v.queryExecution.executedPlan.toString
    // the old implementation funneled every term through
    // `Window.orderBy(...)` = Exchange SinglePartition; the zipWithIndex
    // rewrite must never do that
    assert(!plan.contains("SinglePartition"), plan.take(1200))
    assert(!plan.contains("Window"), plan.take(1200))
    // ids are still the dense first-seen order (0..n-1)
    val ids = v.select("word").as[Int].collect().sorted
    assert(ids.toSeq == (0 until ids.length))
  }

  test("PageRank superstep: cached CSR edges are neither re-shuffled nor re-sorted") {
    val pages = Pages.synthesize(spark, 2000, 42L, 8)
    val (_, edges) = graft.ingest.Graphs.buildGraph(pages)
    // replicate the kernel's layout: hash-partition by src + sort within
    // partitions (CSR blocks) + cache
    val e = edges.repartition($"src").sortWithinPartitions("src", "dst").cache()
    e.count()
    val ranks = e.select($"src".as("vid")).distinct()
      .withColumn("rank", lit(1.0)).cache()
    ranks.count()
    // force the sort-merge path (at web scale the ranks side never
    // broadcasts) so the edge-side sort-elimination is what's tested
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val contribs = e.join(ranks.withColumnRenamed("vid", "src"), "src")
        .groupBy("dst").agg(sum($"rank").as("m"))
      contribs.collect()
      val plan = contribs.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      // inspect only the superstep region ABOVE the edge-side cache scan
      // (everything below the first InMemoryRelation is the one-off cache
      // build, not per-superstep work). The tree prints the join's edge
      // (left) child first, so this region contains the final aggregate,
      // its exchange, the join, and the edge-side path — which must show
      // NO Exchange into the cache scan and NO Sort (the cached (src,dst)
      // ordering feeds the merge join directly).
      val top = plan.linesIterator
        .takeWhile(!_.contains("InMemoryRelation")).toSeq
      assert(top.exists(_.contains("InMemoryTableScan")), plan.take(2000))
      val shuffles = top.count(_.contains("Exchange hashpartitioning"))
      assert(shuffles <= 1, // the groupBy(dst) exchange — PageRank itself
        s"expected <=1 shuffle above the edge cache scan, got $shuffles:\n${top.mkString("\n")}")
      val sorts = top.count(_.contains("Sort ["))
      assert(sorts == 0,
        s"edge side must not re-sort, got $sorts:\n${top.mkString("\n")}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      e.unpersist(); ranks.unpersist()
    }
  }

  test("buildGraph |> prepare dedups the encoded edges inside ONE src exchange") {
    val pages = Pages.synthesize(spark, 2000, 42L, 8)
    val (vertices, edges) = graft.ingest.Graphs.buildGraph(pages)
    val g = PageRank.prepare(spark, edges)
    try {
      // the cached layout's plan is the whole prepare job: the url joins
      // exchange on urls, every exchange of the encoded edges keys on vids
      val plan = g.edges.queryExecution.executedPlan.toString
      val edgeExchanges = plan.linesIterator
        .filter(_.matches(""".*Exchange hashpartitioning\((src|dst)#.*""")).toSeq
      assert(edgeExchanges.size == 1, plan)
      assert(edgeExchanges.head.contains("hashpartitioning(src#"), plan)
      assert(!plan.matches("""(?s).*hashpartitioning\(src#\d+L?, dst#.*"""), plan)
    } finally {
      g.unpersist()
      vertices.unpersist()
      graft.ingest.Graphs.releaseBuild(pages)
    }
  }

  test("triangles perVertex leaves nothing persisted but the checkpoint it returns") {
    import graft.graph.Triangles
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    // cached plans, by CacheManager.numCachedEntries: Scala-private to
    // Spark, public in the bytecode
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def cachedPlans: Any = cache.getClass.getMethod("numCachedEntries").invoke(cache)
    val edges = graft.graph.Referee.zipf(500, 2000, 42L).toDF("src", "dst")
    val rdds = sc.getPersistentRDDs.keySet
    val plans = cachedPlans
    val pv = Triangles.perVertex(edges)
    val returned = pv.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case other => fail(s"perVertex returned an unmaterialized plan:\n$other")
    }
    try {
      assert(sc.getPersistentRDDs.keySet -- rdds == Set(returned.id))
      assert(cachedPlans == plans)
    } finally org.apache.spark.GraftCoreBridge.release(returned)
  }

  test("perVertex enumerates each triangle once") {
    // the three corners of a triangle are credited by one explode over the
    // enumerated triangles: the plan holds ONE closing semi-join, where a
    // union of one branch per corner re-runs the wedge join and the closing
    // semi-join three times
    import graft.graph.Triangles
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // perVertex returns a checkpoint: capture the plan its checkpoint runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Triangles.perVertex(graft.graph.Referee.zipf(500, 2000, 42L).toDF("src", "dst"))
      eventually(timeout(30.seconds)) { assert(plans.size == 1) }
      val plan = plans.peek()
      val semis = plan.toString.linesIterator.count(_.contains("LeftSemi"))
      assert(semis == 1, s"expected one closing semi-join, got $semis:\n$plan")
      // the degree count reads the src-partitioned layout without an exchange
      val degrees = plan.collect {
        case a: HashAggregateExec
            if a.groupingExpressions.map(_.references.map(_.name).toSeq) == Seq(Seq("src")) &&
              a.exists(_.isInstanceOf[InMemoryTableScanExec]) => a
      }
      assert(degrees.nonEmpty, plan.toString)
      degrees.foreach { a =>
        assert(!a.exists(_.isInstanceOf[ShuffleExchangeExec]), s"degree count shuffles:\n$a")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("dedup self-joins read ONE shuffled subplan via exchange reuse") {
    // minhashCandidates / simhashCandidatesFp self-join a frame whose
    // subplan carries the expensive per-document hashing (signature /
    // fingerprint UDF over full text). Both repartition that frame on the
    // join key exactly once, so the second join side must be served as a
    // ReusedExchange (AQE reused stage) — document scan + hashing execute
    // once, not once per join side (2x the dominant cost at 100 TB).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (q <- Seq(
        graft.pipeline.Dedup.minhashCandidates(docs, "doc_id", "text")
          .select("id1", "id2"),
        graft.pipeline.Dedup.simhashCandidates(docs, "doc_id", "text",
          maxHamming = 3).select("id1", "id2"))) {
      val plan = executed(q)
      val finalPlan = plan.linesIterator
        .takeWhile(!_.contains("== Initial Plan ==")).toSeq
      assert(finalPlan.exists(_.contains("ReusedExchange")), plan.take(3000))
      assert(finalPlan.count(_.contains("FileScan parquet")) == 1,
        plan.take(3000))
    }
  }

  test("ngram Jaccard reads the document scan ONCE via a shared gram exchange") {
    // ngramJaccard repartitions the exploded gram table by gram before
    // fanning out to its consumers (per-doc sizes, gram document
    // frequencies, the AllPairs prefix join, the exact-verify joins), so
    // the physical plan must contain exactly ONE parquet scan of the
    // document table plus ReusedExchange nodes for every further consumer
    // — the scan + tokenize + ngram explode run once, not once per
    // consumer (5 corpus rescans at 100 TB otherwise). Broadcast joins are
    // scoped off: that is the web-scale regime (no join side of the gram
    // table broadcasts at 100 TB), and at sf0.001 AQE would otherwise
    // broadcast the tiny self-join side, re-executing the scan into the
    // broadcast build instead of reading the shared exchange.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq(
          // brute-force exact path: self-join + size joins
          graft.pipeline.Dedup.ngramJaccard(docs, "doc_id", "text", n = 3),
          // AllPairs prefix-filter path: df counts + prefix self-join +
          // exact verify — the widest consumer fan-out
          graft.pipeline.Dedup.ngramJaccard(docs, "doc_id", "text", n = 3,
            minJaccard = 0.4))) {
        val plan = executed(q)
        val finalPlan = plan.linesIterator
          .takeWhile(!_.contains("== Initial Plan ==")).toSeq
        assert(finalPlan.exists(_.contains("ReusedExchange")), plan.take(3000))
        assert(finalPlan.count(_.contains("FileScan parquet")) == 1,
          plan.take(3000))
      }
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}

/** Streaming ingestion: AvailableNow micro-batch extracts the same edges
  * the batch path extracts. */
class StreamSpec extends SparkSpec {

  test("AvailableNow stream appends the batch-equivalent edge set") {
    val pagesDir = tmpDir("spages")
    val edgesDir = tmpDir("sedges")
    val ckpt = tmpDir("sckpt")
    val pages = Pages.synthesize(spark, 300, 42L, 4)
    pages.write.mode("overwrite").parquet(pagesDir)

    StreamIngest.ingestOnce(spark, pagesDir, edgesDir, ckpt)

    val streamed = spark.read.parquet(edgesDir)
      .select("src_url", "dst_url").collect().map(_.toString).sorted
    val batch = graft.ingest.LinkExtract.linkEdges(pages)
      .select("src_url", "dst_url").collect().map(_.toString).sorted
    assert(streamed.toSeq == batch.toSeq)

    // a second AvailableNow run with no new files appends nothing
    StreamIngest.ingestOnce(spark, pagesDir, edgesDir, ckpt)
    val again = spark.read.parquet(edgesDir).count()
    assert(again == batch.length.toLong)
  }
}
