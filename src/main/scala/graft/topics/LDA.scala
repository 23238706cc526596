package graft.topics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Pages.mix

/** Collapsed-Gibbs LDA as a superstep job (reference LDA,
  * CitationGraphs.go:1012-1347).
  *
  * Semantics ported exactly:
  *  - per word OCCURRENCE topic assignment (`DocWordToTopic`, :1018-1023)
  *  - resampling probability with self-subtraction
  *    (`probTopicOfDocWord`, :1164-1178)
  *  - counters updated once per iteration, stale within it
  *    (`ResampleTopics` step 1.5, :1253) — the property that makes the
  *    algorithm a superstep job and hence distributable (SURVEY.md §4)
  *  - entropy / relative entropy (:1312-1347)
  *
  * Distribution design (the Spark-first deviation from the shared-memory
  * loop): assignments are grouped per doc, so `DocTopicCount[doc]` is
  * computed locally inside `flatMapGroups` and never broadcast; only the
  * vocab×K `WordTopicCount` and the K-sized `TopicCountSum` summed from it
  * are broadcast per superstep. RNG is `hash(seed, doc, word, occ, iter)`-seeded —
  * partition-independent and reproducible by construction (the reference
  * uses a shared `rand` and Go map iteration order, so it is NOT even
  * self-reproducible; determinism here is an engine guarantee, SURVEY.md §7
  * hard part c).
  */
class LDA(
    val numTopics: Int,
    val alpha: Double = 0.1,
    val beta: Double = 0.01,
    val seed: Long = 42L) extends Serializable {

  /** uniform [0,1) from a counter-mode hash — no RNG state, no ordering */
  private def u01(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble

  private def rngHash(doc: Long, word: Int, occ: Int, iter: Int): Long =
    mix(mix(mix(mix(seed ^ doc) ^ word) ^ occ) ^ iter)

  /** probTopicOfDocWord sampling with self-subtraction (:1164-1178) for one
    * occurrence, against the broadcast WordTopicCount and TopicCountSum. */
  private def resampleOne(d: Long, w: Int, o: Int, kOld: Int, iter: Int, nw: Double,
      docTopic: Array[Long], wt: Map[(Int, Int), Long], ts: Map[Int, Long],
      prefix: Array[Double]): Int = {
    val k = numTopics; val a = alpha; val b = beta
    var idxK = 0
    while (idxK < k) {
      var dtc = docTopic(idxK).toDouble
      var wtc = wt.getOrElse((w, idxK), 0L).toDouble
      var tcs = ts.getOrElse(idxK, 0L).toDouble
      if (idxK == kOld) { dtc -= 1; wtc -= 1; tcs -= 1 }
      val prob = (a + dtc) * ((b + wtc) / (b * nw + tcs))
      prefix(idxK) = if (idxK == 0) prob else prefix(idxK - 1) + prob
      idxK += 1
    }
    val u = u01(rngHash(d, w, o, iter)) * prefix(k - 1)
    var kNew = kOld
    var i = 0
    var done = false
    while (i < k && !done) {
      if (u < prefix(i)) { kNew = i; done = true }
      i += 1
    }
    kNew
  }

  /** Train on a bag-of-words corpus `(doc LONG, word INT, cnt INT)`.
    * Returns assignments `(doc, word, occ, topic)` after `numIters`
    * supersteps plus the final counter tables.
    *
    * Each superstep collects the vocab×K WordTopicCount table in one job
    * and broadcasts it; TopicCountSum is summed from it on the driver.
    * A table over [[CounterCeiling]] cells fails before any job runs.
    *
    * @param checkpointTable [[graft.io.TableIO]] table for durable
    *                        per-iteration assignments `(doc, word, occ,
    *                        topic)`; resume, cadence (`checkpointEvery`)
    *                        and the final commit follow the
    *                        [[graft.graph.Supersteps]] contract. A resumed
    *                        run has an identical trajectory: the RNG is
    *                        counter-mode on the absolute iteration. */
  def train(spark: SparkSession, bow: DataFrame, numWords: Int, numIters: Int,
      checkpointTable: String = null, checkpointEvery: Int = 1)
      : LDAModel = {
    requireCounterCeiling("LDA", numWords, numTopics)
    import spark.implicits._
    val nw = numWords.toDouble
    val lda = this
    val k = numTopics

    def typed(state: DataFrame): Dataset[(Long, Int, Int, Int)] =
      state.select(col("doc").as("_1"), col("word").as("_2"),
          col("occ").as("_3"), col("topic").as("_4"))
        .as[(Long, Int, Int, Int)]

    // WordTopicCount in one job; TopicCountSum[k] = Σ_w WordTopicCount[w][k]
    def counters(assigns: Dataset[(Long, Int, Int, Int)])
        : (Map[(Int, Int), Long], Map[Int, Long]) = {
      val wordTopic = assigns.groupByKey(r => (r._2, r._4)).count().collect().toMap
      (wordTopic, wordTopic.groupMapReduce(_._1._2)(_._2)(_ + _))
    }

    // explode occurrences; init topic = seeded hash (reference: rand.Intn)
    def init: DataFrame = bow
      .select(col("doc").cast("long"), col("word").cast("int"), col("cnt").cast("int"))
      .as[(Long, Int, Int)]
      .flatMap { case (doc, word, cnt) =>
        (0 until cnt).map { occ =>
          (doc, word, occ, math.floorMod(rngHash(doc, word, occ, -1), numTopics).toInt)
        }
      }.toDF("doc", "word", "occ", "topic")

    // one Gibbs superstep; the driver's checkpoint after it is the barrier
    def resample(state: DataFrame, iter: Int): DataFrame = {
      val assigns = typed(state)
      val countersB = spark.sparkContext.broadcast(counters(assigns))
      assigns.groupByKey(_._1).flatMapGroups { (doc, it) =>
        val rows = it.toArray
        // DocTopicCount[doc] computed locally — never shuffled or broadcast
        val docTopic = new Array[Long](k)
        rows.foreach(r => docTopic(r._4) += 1)
        val (wt, ts) = countersB.value
        val prefix = new Array[Double](k)
        rows.map { case (d, w, o, kOld) =>
          (d, w, o, lda.resampleOne(d, w, o, kOld, iter, nw, docTopic, wt, ts, prefix))
        }.iterator
      }.toDF("doc", "word", "occ", "topic")
    }

    val state = graft.graph.Supersteps.iterate(spark, init, resample, numIters,
      checkpointTable, checkpointEvery).state
    val (wordTopic, topicSum) = counters(typed(state))
    LDAModel(this, state, wordTopic, topicSum, numWords)
  }
}

/** Trained model; the counter tables are the final state's, collected once
  * at the end of training for `infer` (per-doc, reference :1277-1307). */
final case class LDAModel(
    lda: LDA,
    assignments: DataFrame, // (doc, word, occ, topic)
    wordTopic: Map[(Int, Int), Long],
    topicSum: Map[Int, Long],
    numWords: Int) {

  /** Per-doc topic distribution by Infer semantics (:1277-1307). */
  def infer(spark: SparkSession, bow: DataFrame): DataFrame = {
    import spark.implicits._
    val k = lda.numTopics; val b = lda.beta; val nw = numWords.toDouble
    val countersB = spark.sparkContext.broadcast((wordTopic, topicSum))
    bow.select(col("doc").cast("long"), col("word").cast("int"), col("cnt").cast("int"))
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .mapGroups { (doc, it) =>
        val (wt, ts) = countersB.value
        val rows = it.toArray
        val probs = (0 until k).map { idxK =>
          rows.iterator.map { case (_, w, cnt) =>
            cnt * (b + wt.getOrElse((w, idxK), 0L).toDouble) /
              (b * nw + ts.getOrElse(idxK, 0L))
          }.sum
        }
        val s0 = probs.sum
        val s = if (s0 == 0.0) 1.0 else s0
        (doc, probs.map(_ / s): Seq[Double])
      }.toDF("doc", "membership")
  }

  /** ComputeEntropy (:1312-1333): corpus-weighted per-doc entropy. */
  def entropy(spark: SparkSession): Double = {
    import spark.implicits._
    val perDoc = assignments.groupBy("doc", "topic").count()
      .groupBy("doc")
      .agg(collect_list(col("count")).as("cs"))
      .select(col("doc"),
        aggregate(col("cs"), lit(0L), (a, x) => a + x).as("n"),
        col("cs"))
    perDoc.select(
        (col("n") * aggregate(col("cs"), lit(0.0),
          (acc, c) => acc - (c / col("n")) * log(c / col("n")))).as("we"),
        col("n"))
      .agg(sum("we") / sum("n")).as[Double].head()
  }

  def relativeEntropy(spark: SparkSession): Double =
    entropy(spark) / (-math.log(1.0 / lda.numTopics))
}
