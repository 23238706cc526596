package graft.topics

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Pages.mix

/** GSDMM (one-topic-per-document Gibbs, reference CitationGraphs.go:
  * 1587-1930) as a superstep job.
  *
  * Ported semantics: `probTopicOfDoc` with self-subtraction and the
  * rising-factorial word part (:1711-1743), per-iteration counter refresh
  * (:1817), `Infer` (:1838-1884), resampling-distribution entropy
  * (:1889-1917). Superstep state is the K×V word-count table, K doc counts
  * and K word sums; docs are rows `(doc, words, topic)` and resampling is a
  * pure map with hash-seeded RNG.
  *
  * Each superstep collects all three counter tables in one job and
  * broadcasts them; a K×V table over [[CounterCeiling]] cells fails before
  * any job runs.
  */
object GSDMM {
  /** Infer core (:1838-1884). docPart denominator uses `dct - 1` exactly
    * as the reference. */
  private[topics] def inferDoc(words: Seq[(Int, Int)], numTopics: Int,
      alpha: Double, beta: Double, topicDocCount: Array[Long],
      topicWordCount: Map[(Int, Int), Long], topicWordSum: Array[Long],
      numDocs: Long, numWords: Int): Seq[Double] = {
    val probs = (0 until numTopics).map { idxK =>
      val dct = topicDocCount(idxK).toDouble
      val docPart = (dct + alpha) / (dct - 1.0 + alpha * numDocs)
      var wordPart = 1.0
      var idxWordInDoc = 0
      val tws = topicWordSum(idxK).toDouble
      words.foreach { case (w, cnt) =>
        val wct = topicWordCount.getOrElse((idxK, w), 0L).toDouble
        var j = 0
        while (j < cnt) {
          wordPart *= (wct + beta + j) / (tws + beta * numWords + idxWordInDoc)
          idxWordInDoc += 1
          j += 1
        }
      }
      docPart * wordPart
    }
    val s0 = probs.sum
    val s = if (s0 == 0.0) 1.0 else s0
    probs.map(_ / s)
  }
}

class GSDMM(
    val numTopics: Int,
    val alpha: Double = 0.1,
    val beta: Double = 0.01,
    val seed: Long = 42L) extends Serializable {

  private def u01(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble
  private def rngHash(doc: Long, iter: Int): Long =
    mix(mix(seed ^ doc) ^ (iter * 0x9e3779b9L))

  /** doc rows: (doc, words as (word,cnt) pairs, numWordsInDoc, topic) */
  type DocRow = (Long, Seq[(Int, Int)], Int, Int)

  /** Resampling probability with self-subtraction (:1711-1743). */
  private[topics] def probTopicOfDoc(
      words: Seq[(Int, Int)], nInDoc: Int, kOld: Int, idxK: Int,
      topicDocCount: Array[Long], topicWordCount: Map[(Int, Int), Long],
      topicWordSum: Array[Long], numDocs: Long, numWords: Double): Double = {
    var dct = topicDocCount(idxK).toDouble
    if (idxK == kOld) dct -= 1
    val docPart = (dct + alpha) / (numDocs - 1.0 + alpha * numTopics)
    var tws = topicWordSum(idxK).toDouble
    if (idxK == kOld) tws -= nInDoc
    var wordPart = 1.0
    var idxWordInDoc = 0
    words.foreach { case (w, cnt) =>
      var wct = topicWordCount.getOrElse((idxK, w), 0L).toDouble
      if (idxK == kOld) wct -= cnt
      var j = 0
      while (j < cnt) {
        wordPart *= (wct + beta + j) / (tws + beta * numWords + idxWordInDoc)
        idxWordInDoc += 1
        j += 1
      }
    }
    docPart * wordPart
  }

  /** Cumulative-prefix sample of the new topic (:1790-1812). */
  private def sampleTopic(
      words: Seq[(Int, Int)], nInDoc: Int, kOld: Int, doc: Long,
      iter: Int, tdc: Array[Long], twc: Map[(Int, Int), Long],
      tws: Array[Long], numDocs: Long, nw: Double): Int = {
    val k = numTopics
    val prefix = new Array[Double](k)
    var idxK = 0
    while (idxK < k) {
      val p = probTopicOfDoc(words, nInDoc, kOld, idxK, tdc, twc, tws, numDocs, nw)
      prefix(idxK) = if (idxK == 0) p else prefix(idxK - 1) + p
      idxK += 1
    }
    val u = u01(rngHash(doc, iter)) * prefix(k - 1)
    var kNew = kOld; var i = 0; var done = false
    while (i < k && !done) { if (u < prefix(i)) { kNew = i; done = true }; i += 1 }
    kNew
  }

  /** @param checkpointTable [[graft.io.TableIO]] table for durable
    *                        per-iteration Gibbs state `(doc, words, nWords,
    *                        topic)`; resume, cadence (`checkpointEvery`)
    *                        and the final commit follow the
    *                        [[graft.graph.Supersteps]] contract. A resumed
    *                        run has an identical trajectory: the RNG is
    *                        counter-mode on the absolute iteration. */
  def train(spark: SparkSession, bow: DataFrame, numWords: Int, numIters: Int,
      checkpointTable: String = null, checkpointEvery: Int = 1)
      : GSDMMModel = {
    requireCounterCeiling("GSDMM", numWords, numTopics)
    import spark.implicits._

    val g = this
    val nw = numWords.toDouble

    def typed(state: DataFrame): Dataset[DocRow] =
      state.select(col("doc").as("_1"), col("words").as("_2"),
          col("nWords").as("_3"), col("topic").as("_4"))
        .as[DocRow]

    def init: DataFrame = bow
      .select(col("doc").cast("long"), col("word").cast("int"), col("cnt").cast("int"))
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .mapGroups { (doc, it) =>
        val ws = it.map(r => (r._2, r._3)).toSeq.sortBy(_._1)
        (doc, ws, ws.map(_._2).sum,
          math.floorMod(rngHash(doc, -1), numTopics).toInt)
      }.toDF("doc", "words", "nWords", "topic")

    // every counter in ONE job: a ((topic, word), cnt) row per word of a
    // doc and a ((topic, -1), 1) row per doc. Word ids are non-negative, so
    // the -1 sums are the per-topic doc counts, and topicWordSum(k) is the
    // sum of topic k's word counts (a doc's nWords is the sum of its cnts).
    // Every doc has one topic, so the doc counts also sum to numDocs.
    def counters(ds: Dataset[DocRow])
        : (Array[Long], Map[(Int, Int), Long], Array[Long]) = {
      val tdc = new Array[Long](numTopics)
      val tws = new Array[Long](numTopics)
      val twc = Map.newBuilder[(Int, Int), Long]
      ds.flatMap { case (_, ws, _, kt) =>
          ((kt, -1), 1L) +: ws.map { case (w, c) => ((kt, w), c.toLong) } }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _).collect()
        .foreach {
          case ((kt, -1), n) => tdc(kt) = n
          case (key @ (kt, _), c) => tws(kt) += c; twc += key -> c
        }
      (tdc, twc.result(), tws)
    }

    // one Gibbs superstep; the driver's checkpoint after it is the barrier
    def resample(state: DataFrame, iter: Int): DataFrame = {
      val docs = typed(state)
      val countersB = spark.sparkContext.broadcast(counters(docs))
      val numDocs = countersB.value._1.sum
      docs.map { case (doc, ws, nInDoc, kOld) =>
        val (tdc, twc, tws) = countersB.value
        (doc, ws, nInDoc, g.sampleTopic(ws, nInDoc, kOld, doc, iter, tdc, twc, tws,
          numDocs, nw))
      }.toDF("doc", "words", "nWords", "topic")
    }

    val state = graft.graph.Supersteps.iterate(spark, init, resample, numIters,
      checkpointTable, checkpointEvery).state
    val (tdc, twc, tws) = graft.graph.Supersteps.withoutAqe(spark)(counters(typed(state)))
    GSDMMModel(this, state, tdc, twc, tws, tdc.sum, numWords)
  }
}

final case class GSDMMModel(
    gsdmm: GSDMM,
    docs: DataFrame, // (doc, words, nWords, topic)
    topicDocCount: Array[Long],
    topicWordCount: Map[(Int, Int), Long],
    topicWordSum: Array[Long],
    numDocs: Long,
    numWords: Int) {

  /** Infer (:1838-1884) — note the reference's docPart uses
    * `docCountOfTopic - 1` in the denominator; replicated verbatim. */
  def infer(words: Seq[(Int, Int)]): Seq[Double] =
    GSDMM.inferDoc(words, gsdmm.numTopics, gsdmm.alpha, gsdmm.beta,
      topicDocCount, topicWordCount, topicWordSum, numDocs, numWords)

  private def typedDocs(spark: SparkSession) = {
    import spark.implicits._
    docs.select(col("doc"), col("words"), col("nWords"), col("topic"))
      .as[(Long, Seq[(Int, Int)], Int, Int)]
  }

  private def countersB(spark: SparkSession) =
    spark.sparkContext.broadcast((topicDocCount, topicWordCount, topicWordSum))

  /** Distributed Infer over every trained doc: `(doc, membership)`. */
  def inferMemberships(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val g = gsdmm
    val k = g.numTopics; val a = g.alpha; val b = g.beta
    val nd = numDocs; val nw = numWords
    val stateB = countersB(spark)
    typedDocs(spark)
      .map { case (doc, ws, _, _) =>
        val (tdc, twc, tws) = stateB.value
        (doc, GSDMM.inferDoc(ws, k, a, b, tdc, twc, tws, nd, nw))
      }
      .toDF("doc", "membership")
  }

  /** Hard assignment per doc. */
  def assignments: DataFrame = docs.select(col("doc"), col("topic"))

  /** ComputeEntropy (:1888-1917): mean over docs of the entropy of each
    * doc's normalized resampling distribution `probTopicOfDoc(doc, kOld,
    * ·)` — self-subtraction against the doc's CURRENT topic included,
    * exactly like the reference. Distributed as a pure map over doc rows
    * against the broadcast counters. */
  def entropy(spark: SparkSession): Double = {
    import spark.implicits._
    if (numDocs == 0L) return 0.0
    val g = gsdmm
    val k = g.numTopics
    val nd = numDocs
    val nw = numWords.toDouble
    val stateB = countersB(spark)
    val perDoc = typedDocs(spark).map { case (_, ws, nInDoc, kOld) =>
      val (tdc, twc, tws) = stateB.value
      val probs = new Array[Double](k)
      var sum = 0.0
      var idxK = 0
      while (idxK < k) {
        probs(idxK) = g.probTopicOfDoc(ws, nInDoc, kOld, idxK, tdc, twc, tws, nd, nw)
        sum += probs(idxK)
        idxK += 1
      }
      var e = 0.0
      if (sum > 0.0) {
        idxK = 0
        while (idxK < k) {
          val p = probs(idxK) / sum
          if (p != 0.0) e -= p * math.log(p)
          idxK += 1
        }
      }
      e
    }
    // coalesce: an all-filtered/empty docs frame must yield 0.0, not NPE
    perDoc.toDF("e").agg(coalesce(sum(col("e")), lit(0.0)))
      .head().getDouble(0) / nd.toDouble
  }

  /** ComputeRelativeEntropy (:1921-1928). */
  def relativeEntropy(spark: SparkSession): Double =
    entropy(spark) / (-math.log(1.0 / gsdmm.numTopics))
}
