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
  * vocab-sized `WordTopicCount` and K-sized `TopicCountSum` are broadcast
  * per superstep. RNG is `hash(seed, doc, word, occ, iter)`-seeded —
  * partition-independent and reproducible by construction (the reference
  * uses a shared `rand` and Go map iteration order, so it is NOT even
  * self-reproducible; determinism here is an engine guarantee, SURVEY.md §7
  * hard part c).
  */
class LDA(
    val numTopics: Int,
    val alpha: Double = 0.1,
    val beta: Double = 0.01,
    val seed: Long = 42L,
    val broadcastCeiling: Long = 8L * 1000 * 1000) extends Serializable {

  /** uniform [0,1) from a counter-mode hash — no RNG state, no ordering */
  private def u01(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble

  private def rngHash(doc: Long, word: Int, occ: Int, iter: Int): Long =
    mix(mix(mix(mix(seed ^ doc) ^ word) ^ occ) ^ iter)

  /** probTopicOfDocWord sampling with self-subtraction (:1164-1178) for one
    * occurrence; `wtcOf(k)` supplies WordTopicCount[word][k] however the
    * caller sourced it (broadcast map or joined-in per-row array). */
  private def resampleOne(d: Long, w: Int, o: Int, kOld: Int, iter: Int, nw: Double,
      docTopic: Array[Long], wtcOf: Int => Double, tsOf: Int => Double,
      prefix: Array[Double]): Int = {
    val k = numTopics; val a = alpha; val b = beta
    var idxK = 0
    while (idxK < k) {
      var dtc = docTopic(idxK).toDouble
      var wtc = wtcOf(idxK)
      var tcs = tsOf(idxK)
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
    * Counter strategy per superstep (the WordTopicCount table is vocab×K):
    *  - vocab×K ≤ `broadcastCeiling`: collect + broadcast (one tiny map,
    *    no extra shuffle) — the citation-scale fast path.
    *  - vocab×K > `broadcastCeiling`: NEVER collected to the driver.
    *    `(word, topic, cnt)` stays a Dataset, aggregated distributed and
    *    joined into the assignments on `word` (each occurrence carries its
    *    word's K-vector into the per-doc resample group). One extra shuffle
    *    per superstep buys an unbounded vocab — at 1e8 terms × 100 topics
    *    the broadcast variant would OOM the driver.
    * Only the K-sized TopicCountSum is always collected (K is tiny).
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
    import spark.implicits._
    val nw = numWords.toDouble
    val lda = this
    val useJoin = numWords.toLong * numTopics > broadcastCeiling
    val k = numTopics

    def typed(state: DataFrame): Dataset[(Long, Int, Int, Int)] =
      state.select(col("doc").as("_1"), col("word").as("_2"),
          col("occ").as("_3"), col("topic").as("_4"))
        .as[(Long, Int, Int, Int)]

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
      val topicSum = assigns.groupByKey(_._4).count().collect().toMap
      val tsB = spark.sparkContext.broadcast(topicSum)

      val next = if (!useJoin) {
        val wordTopic = assigns.groupByKey(r => (r._2, r._4)).count().collect().toMap
        val wtB = spark.sparkContext.broadcast(wordTopic)
        assigns.groupByKey(_._1).flatMapGroups { (doc, it) =>
          val rows = it.toArray
          // DocTopicCount[doc] computed locally — never shuffled or broadcast
          val docTopic = new Array[Long](k)
          rows.foreach(r => docTopic(r._4) += 1)
          val wt = wtB.value; val ts = tsB.value
          val prefix = new Array[Double](k)
          rows.map { case (d, w, o, kOld) =>
            val kNew = lda.resampleOne(d, w, o, kOld, iter, nw, docTopic,
              idxK => wt.getOrElse((w, idxK), 0L).toDouble,
              idxK => ts.getOrElse(idxK, 0L).toDouble, prefix)
            (d, w, o, kNew)
          }.iterator
        }
      } else {
        // distributed counter table joined on word: (word -> K-vector)
        val wt = state
          .groupBy("word", "topic").agg(count(lit(1)).as("c"))
          .groupBy("word")
          .agg(collect_list(struct(col("topic").as("_1"), col("c").as("_2")))
            .as("wts"))
        val joined = state
          .join(wt, "word")
          .select(col("doc").as("_1"), col("word").as("_2"),
            col("occ").as("_3"), col("topic").as("_4"), col("wts").as("_5"))
          .as[(Long, Int, Int, Int, Seq[(Int, Long)])]
        joined.groupByKey(_._1).flatMapGroups { (doc, it) =>
          val rows = it.toArray
          val docTopic = new Array[Long](k)
          rows.foreach(r => docTopic(r._4) += 1)
          val ts = tsB.value
          val prefix = new Array[Double](k)
          val wtArr = new Array[Double](k)
          rows.map { case (d, w, o, kOld, wts) =>
            java.util.Arrays.fill(wtArr, 0.0)
            wts.foreach { case (t, c) => wtArr(t) = c.toDouble }
            val kNew = lda.resampleOne(d, w, o, kOld, iter, nw, docTopic,
              idxK => wtArr(idxK),
              idxK => ts.getOrElse(idxK, 0L).toDouble, prefix)
            (d, w, o, kNew)
          }.iterator
        }
      }
      next.toDF("doc", "word", "occ", "topic")
    }

    val state = graft.graph.Supersteps.iterate(spark, init, resample, numIters,
      checkpointTable, checkpointEvery).state
    val assigns = typed(state)

    // final counters: K-sized topicSum always; the vocab×K table only on
    // the broadcast path — the useJoin path's whole point is that this
    // collect OOMs the driver at unbounded vocab, so the model keeps the
    // table distributed and `infer` re-derives it via the word-keyed join
    val topicSum = assigns.groupByKey(_._4).count().collect().toMap
    if (!useJoin) {
      val wordTopic = assigns.groupByKey(r => (r._2, r._4)).count().collect().toMap
      LDAModel(this, state, wordTopic, topicSum, numWords, countersCollected = true)
    } else
      LDAModel(this, state, Map.empty, topicSum, numWords, countersCollected = false)
  }
}

/** Trained model. On the broadcast path `wordTopic` is materialized ONCE at
  * the end of training for `infer` (which is per-doc, reference
  * :1277-1307). On the unbounded-vocab (`useJoin`) path it is NEVER
  * collected (`countersCollected = false`, map empty): `infer` re-derives
  * the vocab×K table distributed from `assignments` and joins the needed
  * K-vectors into the scored docs on `word`. */
final case class LDAModel(
    lda: LDA,
    assignments: DataFrame, // (doc, word, occ, topic)
    wordTopic: Map[(Int, Int), Long], // empty when !countersCollected
    topicSum: Map[Int, Long],
    numWords: Int,
    countersCollected: Boolean = true) {

  /** Per-doc topic distribution by Infer semantics (:1277-1307).
    * Broadcast path when counters are collected; word-keyed join otherwise. */
  def infer(spark: SparkSession, bow: DataFrame): DataFrame = {
    import spark.implicits._
    val k = lda.numTopics; val b = lda.beta; val nw = numWords.toDouble
    val tsB = spark.sparkContext.broadcast(topicSum)

    def membership(rows: Iterable[(Int, Int, Int => Double)],
        ts: Map[Int, Long]): Seq[Double] = {
      val probs = (0 until k).map { idxK =>
        rows.iterator.map { case (_, cnt, wtcOf) =>
          cnt * (b + wtcOf(idxK)) / (b * nw + ts.getOrElse(idxK, 0L))
        }.sum
      }
      val s0 = probs.sum
      val s = if (s0 == 0.0) 1.0 else s0
      probs.map(_ / s)
    }

    if (countersCollected) {
      val wtB = spark.sparkContext.broadcast(wordTopic)
      bow.select(col("doc").cast("long"), col("word").cast("int"), col("cnt").cast("int"))
        .as[(Long, Int, Int)]
        .groupByKey(_._1)
        .mapGroups { (doc, it) =>
          val wt = wtB.value
          val rows = it.toArray.map { case (_, w, cnt) =>
            (w, cnt, (idxK: Int) => wt.getOrElse((w, idxK), 0L).toDouble)
          }
          (doc, membership(rows, tsB.value))
        }.toDF("doc", "membership")
    } else {
      // vocab×K stays distributed: aggregate from assignments, join the
      // K-vectors onto the scored words (absent words keep wtc = 0 — they
      // still contribute the b/(b·nw + ts) smoothing term, hence left join)
      val wt = assignments.groupBy("word", "topic").agg(count(lit(1)).as("c"))
        .groupBy("word")
        .agg(collect_list(struct(col("topic").as("_1"), col("c").as("_2")))
          .as("wts"))
      bow.select(col("doc").cast("long"), col("word").cast("int"), col("cnt").cast("int"))
        .join(wt, Seq("word"), "left")
        .select(col("doc").as("_1"), col("word").as("_2"), col("cnt").as("_3"),
          col("wts").as("_4"))
        .as[(Long, Int, Int, Option[Seq[(Int, Long)]])]
        .groupByKey(_._1)
        .mapGroups { (doc, it) =>
          val rows = it.toArray.map { case (_, w, cnt, wts) =>
            val a = new Array[Double](k)
            wts.foreach(_.foreach { case (t, c) => a(t) = c.toDouble })
            (w, cnt, (idxK: Int) => a(idxK))
          }
          (doc, membership(rows, tsB.value))
        }.toDF("doc", "membership")
    }
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
