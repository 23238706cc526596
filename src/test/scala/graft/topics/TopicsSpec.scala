package graft.topics

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** LDA/GSDMM: seeded-RNG determinism under repartitioning (SURVEY.md §7
  * hard part c), planted-topic recovery, valid distributions.
  */
class TopicsSpec extends SparkSpec {
  import spark.implicits._

  // 40 docs, vocab 12: two planted topics (words 0-5 vs 6-11)
  val bowRows: Seq[(Long, Int, Int)] = (0L until 40L).flatMap { d =>
    val base = if (d % 2 == 0) 0 else 6
    (0 until 4).map { j =>
      val w = base + ((graft.ingest.Pages.mix(d * 17 + j) & 0x7fffffff) % 6).toInt
      (d, w, 1 + (j % 2))
    }.groupBy(_._2).map { case (w, xs) => (d, w, xs.map(_._3).sum) }.toSeq
  }
  def bow(parts: Int) = bowRows.toDF("doc", "word", "cnt").repartition(parts)

  test("LDA is deterministic across partitionings") {
    val m1 = new LDA(2, seed = 7L).train(spark, bow(2), 12, numIters = 3)
    val m2 = new LDA(2, seed = 7L).train(spark, bow(9), 12, numIters = 3)
    val a1 = m1.assignments.as[(Long, Int, Int, Int)].collect().toSet
    val a2 = m2.assignments.as[(Long, Int, Int, Int)].collect().toSet
    assert(a1 == a2)
    assert(m1.wordTopic == m2.wordTopic)
  }

  test("LDA separates the two planted topics") {
    val m = new LDA(2, seed = 42L).train(spark, bow(4), 12, numIters = 15)
    val memb = m.infer(spark, bow(4)).as[(Long, Seq[Double])].collect().toMap
    // every membership is a distribution
    memb.values.foreach { p =>
      assert(math.abs(p.sum - 1.0) < 1e-9 && p.forall(_ >= 0.0))
    }
    // docs of the same parity should mostly share their argmax topic
    val argmax = memb.map { case (d, p) => d -> p.indexOf(p.max) }
    val even = argmax.filter(_._1 % 2 == 0).values.groupBy(identity)
      .values.map(_.size).max
    val odd = argmax.filter(_._1 % 2 == 1).values.groupBy(identity)
      .values.map(_.size).max
    assert(even >= 16 && odd >= 16, s"even=$even odd=$odd of 20")
    // and entropy is below the uniform maximum
    assert(m.relativeEntropy(spark) < 0.9)
  }

  /** `body`'s result and the Spark jobs it started, counted by a listener
    * on its job group. */
  def withJobs[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new GroupJobs
    sc.addSparkListener(jobs)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      (out, jobs.started(sc, group))
    } finally sc.removeSparkListener(jobs)
  }

  // vocab 8,000,001 × 1 topic: one cell over the counter ceiling
  val overCeiling = 8000001

  test("LDA above the counter ceiling fails before any Spark job") {
    val (e, jobs) = withJobs("lda_ceiling")(intercept[IllegalArgumentException] {
      new LDA(1, seed = 7L).train(spark, bow(4), overCeiling, numIters = 1)
    })
    assert(jobs == 0)
    assert(e.getMessage.contains("reduce vocab or topics"), e.getMessage)
  }

  test("LDA and GSDMM run one counter job per Gibbs superstep") {
    // a superstep is its counter collect plus the driver's checkpoint of the
    // resampled state: 3 supersteps run the start-state checkpoint, 3 × 2
    // jobs, and the final counters' collect
    val kernels: Seq[(String, Int => Any)] = Seq(
      "lda" -> (n => new LDA(2, seed = 7L).train(spark, bow(4), 12, numIters = n)),
      "gsdmm" -> (n => new GSDMM(2, seed = 7L).train(spark, bow(4), 12, numIters = n)))
    for ((name, train) <- kernels) {
      val jobs = Seq(1, 3).map(n => withJobs(s"${name}_$n")(train(n))._2)
      assert(jobs(1) - jobs(0) == 2 * 2, s"$name: jobs of 1 and 3 supersteps $jobs")
      assert(jobs(1) == 1 + 3 * 2 + 1, s"$name: ${jobs(1)} jobs in 3 supersteps")
    }
  }

  test("GSDMM is deterministic across partitionings") {
    val m1 = new GSDMM(2, seed = 7L).train(spark, bow(2), 12, numIters = 3)
    val m2 = new GSDMM(2, seed = 7L).train(spark, bow(9), 12, numIters = 3)
    assert(m1.assignments.as[(Long, Int)].collect().toMap
      == m2.assignments.as[(Long, Int)].collect().toMap)
  }

  test("GSDMM entropy matches a literal sequential port") {
    val k = 2; val alpha = 0.1; val beta = 0.01; val nw = 12
    val m = new GSDMM(k, alpha, beta, seed = 7L).train(spark, bow(4), nw, numIters = 3)
    val got = m.entropy(spark)
    // literal port of ComputeEntropy (:1888-1917) + probTopicOfDoc
    // (:1711-1743) over the trained counters
    val docsArr = m.docs.select("doc", "words", "nWords", "topic")
      .as[(Long, Seq[(Int, Int)], Int, Int)].collect()
    val nd = m.numDocs
    var entropy = 0.0
    docsArr.foreach { case (_, ws, nInDoc, kOld) =>
      val probs = (0 until k).map { idxK =>
        var dct = m.topicDocCount(idxK).toDouble
        if (idxK == kOld) dct -= 1
        val docPart = (dct + alpha) / (nd - 1.0 + alpha * k)
        var tws = m.topicWordSum(idxK).toDouble
        if (idxK == kOld) tws -= nInDoc
        var wordPart = 1.0
        var idxWordInDoc = 0
        ws.foreach { case (w, cnt) =>
          var wct = m.topicWordCount.getOrElse((idxK, w), 0L).toDouble
          if (idxK == kOld) wct -= cnt
          var j = 0
          while (j < cnt) {
            wordPart *= (wct + beta + j) / (tws + beta * nw + idxWordInDoc)
            idxWordInDoc += 1
            j += 1
          }
        }
        docPart * wordPart
      }
      val s = probs.sum
      var e = 0.0
      if (s > 0.0) probs.foreach { p0 =>
        val p = p0 / s
        if (p != 0.0) e -= p * math.log(p)
      }
      entropy += e / nd
    }
    assert(math.abs(got - entropy) < 1e-9, s"got=$got want=$entropy")
    // relative entropy normalizes by ln(k)
    assert(math.abs(m.relativeEntropy(spark) - entropy / math.log(k)) < 1e-9)
  }

  test("GSDMM above the counter ceiling fails before any Spark job") {
    val (e, jobs) = withJobs("gsdmm_ceiling")(intercept[IllegalArgumentException] {
      new GSDMM(1, seed = 7L).train(spark, bow(4), overCeiling, numIters = 1)
    })
    assert(jobs == 0)
    assert(e.getMessage.contains("reduce vocab or topics"), e.getMessage)
  }

  test("GSDMM entropy of an empty docs table is 0, not NPE") {
    val m = new GSDMM(2, seed = 7L).train(spark, bow(4), 12, numIters = 1)
    val empty = m.copy(docs = m.docs.where(lit(false)), numDocs = 0L)
    assert(empty.entropy(spark) == 0.0)
  }

  test("GSDMM clusters the planted topics (one topic per doc)") {
    val m = new GSDMM(2, alpha = 0.1, beta = 0.02, seed = 42L)
      .train(spark, bow(4), 12, numIters = 12)
    val topics = m.assignments.as[(Long, Int)].collect().toMap
    val even = topics.filter(_._1 % 2 == 0).values.groupBy(identity)
      .values.map(_.size).max
    val odd = topics.filter(_._1 % 2 == 1).values.groupBy(identity)
      .values.map(_.size).max
    assert(even >= 16 && odd >= 16, s"even=$even odd=$odd of 20")
    // infer on a pure topic-0 bag leans to the even-doc topic
    val p = m.infer(Seq((0, 2), (1, 2), (2, 1)))
    assert(math.abs(p.sum - 1.0) < 1e-9)
  }

  test("GSDMM checkpointed training resumes mid-run with identical trajectory") {
    import graft.io.TableIO
    val t = tmpDir("gsdmm_ckpt")
    // truth: 4 uninterrupted iterations
    val full = new GSDMM(2, seed = 7L).train(spark, bow(3), 12, numIters = 4)
    val want = full.docs.select("doc", "topic").as[(Long, Int)].collect().toMap
    // crashed run: 2 iterations committed, then a fresh train call against
    // the same table resumes at iteration 2 (absolute-iteration RNG)
    new GSDMM(2, seed = 7L).train(spark, bow(3), 12, numIters = 2,
      checkpointTable = t)
    assert(TableIO.currentSnapshot(t).map(_.step) == Some(1L))
    val resumed = new GSDMM(2, seed = 7L).train(spark, bow(3), 12, numIters = 4,
      checkpointTable = t)
    val got = resumed.docs.select("doc", "topic").as[(Long, Int)].collect().toMap
    assert(got == want)
    assert(TableIO.history(t).map(_.step) == Seq(0L, 1L, 2L, 3L))
    // cadence > 1: only every other iteration commits, final forced
    val t2 = tmpDir("gsdmm_ckpt_cad")
    new GSDMM(2, seed = 7L).train(spark, bow(3), 12, numIters = 4,
      checkpointTable = t2, checkpointEvery = 2)
    assert(TableIO.history(t2).map(_.step) == Seq(0L, 2L, 3L))
  }

  test("LDA checkpointed training resumes mid-run with identical trajectory") {
    import graft.io.TableIO
    val t = tmpDir("lda_ckpt")
    val full = new LDA(2, seed = 7L).train(spark, bow(3), 12, numIters = 4)
    val want = full.assignments.as[(Long, Int, Int, Int)].collect().toSet
    new LDA(2, seed = 7L).train(spark, bow(3), 12, numIters = 2,
      checkpointTable = t)
    val resumed = new LDA(2, seed = 7L).train(spark, bow(3), 12, numIters = 4,
      checkpointTable = t)
    val got = resumed.assignments.as[(Long, Int, Int, Int)].collect().toSet
    assert(got == want)
    assert(resumed.wordTopic == full.wordTopic)
    assert(TableIO.history(t).map(_.step) == Seq(0L, 1L, 2L, 3L))
  }
}

/** Spark jobs started per job group. */
final class GroupJobs extends SparkListener {
  private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val ended = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(jobs(_) += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
  }

  /** The group's job count, read once the end of a marker job run after
    * it was delivered: the bus delivers every earlier event before it. */
  def started(sc: SparkContext, group: String): Int = {
    val marker = sc.parallelize(Seq(1), 1).countAsync()
    Await.result(marker, Duration.Inf)
    val id = marker.jobIds.head
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!synchronized(ended(id)) && System.nanoTime() < deadline) Thread.sleep(20)
    synchronized {
      assert(ended(id), "the marker job's end was not delivered")
      jobs(group)
    }
  }
}
