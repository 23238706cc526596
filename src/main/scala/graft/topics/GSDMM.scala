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
  * Counter strategy per superstep (mirrors [[LDA]]):
  *  - vocab×K ≤ `broadcastCeiling`: collect + broadcast the word-count
  *    table (one tiny map, no extra shuffle) — the citation-scale fast path.
  *  - vocab×K > `broadcastCeiling`: the K×V table is NEVER collected to the
  *    driver. `(word, topic, cnt)` stays a Dataset, aggregated distributed
  *    and joined into each doc's exploded words on `word` (every doc row
  *    re-gathers its words' K-vectors before the resample map). One extra
  *    shuffle per superstep buys an unbounded vocab — at 1e8 terms × 100
  *    topics the broadcast variant would OOM the driver.
  *  Only the K-sized doc-count and word-sum arrays are always collected.
  *  Both paths compute bit-identical resampling probabilities (same
  *  iteration order, same arithmetic), so the hash-seeded trajectory is
  *  path-independent — asserted by TopicsSpec.
  */
object GSDMM {
  /** Infer core (:1838-1884), shared by the driver-side and distributed
    * paths. docPart denominator uses `dct - 1` exactly as the reference.
    * `wctOf(pos, k)` supplies WordTopicCount[k][words(pos)._1] however the
    * caller sourced it (broadcast map or joined-in per-word vectors). */
  private[topics] def inferDocF(words: IndexedSeq[(Int, Int)], numTopics: Int,
      alpha: Double, beta: Double, topicDocCount: Array[Long],
      wctOf: (Int, Int) => Double, topicWordSum: Array[Long],
      numDocs: Long, numWords: Int): Seq[Double] = {
    val probs = (0 until numTopics).map { idxK =>
      val dct = topicDocCount(idxK).toDouble
      val docPart = (dct + alpha) / (dct - 1.0 + alpha * numDocs)
      var wordPart = 1.0
      var idxWordInDoc = 0
      val tws = topicWordSum(idxK).toDouble
      var pos = 0
      while (pos < words.length) {
        val cnt = words(pos)._2
        val wct = wctOf(pos, idxK)
        var j = 0
        while (j < cnt) {
          wordPart *= (wct + beta + j) / (tws + beta * numWords + idxWordInDoc)
          idxWordInDoc += 1
          j += 1
        }
        pos += 1
      }
      docPart * wordPart
    }
    val s0 = probs.sum
    val s = if (s0 == 0.0) 1.0 else s0
    probs.map(_ / s)
  }

  private[topics] def inferDoc(words: Seq[(Int, Int)], numTopics: Int,
      alpha: Double, beta: Double, topicDocCount: Array[Long],
      topicWordCount: Map[(Int, Int), Long], topicWordSum: Array[Long],
      numDocs: Long, numWords: Int): Seq[Double] = {
    val wi = words.toIndexedSeq
    inferDocF(wi, numTopics, alpha, beta, topicDocCount,
      (pos, k) => topicWordCount.getOrElse((k, wi(pos)._1), 0L).toDouble,
      topicWordSum, numDocs, numWords)
  }
}

class GSDMM(
    val numTopics: Int,
    val alpha: Double = 0.1,
    val beta: Double = 0.01,
    val seed: Long = 42L,
    val broadcastCeiling: Long = 8L * 1000 * 1000) extends Serializable {

  private def u01(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble
  private def rngHash(doc: Long, iter: Int): Long =
    mix(mix(seed ^ doc) ^ (iter * 0x9e3779b9L))

  /** doc rows: (doc, words as (word,cnt) pairs, numWordsInDoc, topic) */
  type DocRow = (Long, Seq[(Int, Int)], Int, Int)

  /** Resampling probability with self-subtraction (:1711-1743).
    * `wctOf(pos, idxK)` = WordTopicCount[idxK][words(pos)._1] BEFORE
    * self-subtraction (applied here). */
  private[topics] def probTopicOfDocF(
      words: IndexedSeq[(Int, Int)], nInDoc: Int, kOld: Int, idxK: Int,
      topicDocCount: Array[Long], wctOf: (Int, Int) => Double,
      topicWordSum: Array[Long], numDocs: Long, numWords: Double): Double = {
    var dct = topicDocCount(idxK).toDouble
    if (idxK == kOld) dct -= 1
    val docPart = (dct + alpha) / (numDocs - 1.0 + alpha * numTopics)
    var tws = topicWordSum(idxK).toDouble
    if (idxK == kOld) tws -= nInDoc
    var wordPart = 1.0
    var idxWordInDoc = 0
    var pos = 0
    while (pos < words.length) {
      val cnt = words(pos)._2
      var wct = wctOf(pos, idxK)
      if (idxK == kOld) wct -= cnt
      var j = 0
      while (j < cnt) {
        wordPart *= (wct + beta + j) / (tws + beta * numWords + idxWordInDoc)
        idxWordInDoc += 1
        j += 1
      }
      pos += 1
    }
    docPart * wordPart
  }

  private[topics] def probTopicOfDoc(
      words: Seq[(Int, Int)], nInDoc: Int, kOld: Int, idxK: Int,
      topicDocCount: Array[Long], topicWordCount: Map[(Int, Int), Long],
      topicWordSum: Array[Long], numDocs: Long, numWords: Double): Double = {
    val wi = words.toIndexedSeq
    probTopicOfDocF(wi, nInDoc, kOld, idxK, topicDocCount,
      (pos, k) => topicWordCount.getOrElse((k, wi(pos)._1), 0L).toDouble,
      topicWordSum, numDocs, numWords)
  }

  /** Cumulative-prefix sample of the new topic (:1790-1812), shared core. */
  private[topics] def sampleTopic(
      wsIdx: IndexedSeq[(Int, Int)], nInDoc: Int, kOld: Int, doc: Long,
      iter: Int, tdc: Array[Long], wctOf: (Int, Int) => Double,
      tws: Array[Long], numDocs: Long, nw: Double): Int = {
    val k = numTopics
    val prefix = new Array[Double](k)
    var idxK = 0
    while (idxK < k) {
      val p = probTopicOfDocF(wsIdx, nInDoc, kOld, idxK, tdc, wctOf, tws,
        numDocs, nw)
      prefix(idxK) = if (idxK == 0) p else prefix(idxK - 1) + p
      idxK += 1
    }
    val u = u01(rngHash(doc, iter)) * prefix(k - 1)
    var kNew = kOld; var i = 0; var done = false
    while (i < k && !done) { if (u < prefix(i)) { kNew = i; done = true }; i += 1 }
    kNew
  }

  /** Per-doc word K-vectors via a word-keyed counter join (the unbounded-
    * vocab path): each doc row regains `ws` plus pos-aligned K-vectors of
    * WordTopicCount — the K×V table never leaves the executors. */
  private[topics] def withWordVectors(spark: SparkSession, ds: Dataset[DocRow])
      : Dataset[(Long, Seq[(Int, Int)], Int, Int, Seq[Seq[Double]])] = {
    import spark.implicits._
    val k = numTopics
    val twcDF = ds
      .flatMap { case (_, ws, _, kt) => ws.map { case (w, c) => (w, kt, c.toLong) } }
      .toDF("word", "topic", "c")
      .groupBy("word", "topic").agg(sum("c").as("c"))
    val wvec = twcDF.groupBy("word")
      .agg(collect_list(struct(col("topic").as("_1"), col("c").as("_2"))).as("wts"))
    val exploded = ds.flatMap { case (doc, ws, n, kt) =>
      ws.iterator.zipWithIndex.map { case ((w, c), pos) => (doc, n, kt, pos, w, c) }
    }.toDF("doc", "n", "kOld", "pos", "word", "cnt")
    exploded.join(wvec, Seq("word"))
      .select(col("doc").as("_1"), col("n").as("_2"), col("kOld").as("_3"),
        col("pos").as("_4"), col("word").as("_5"), col("cnt").as("_6"),
        col("wts").as("_7"))
      .as[(Long, Int, Int, Int, Int, Int, Seq[(Int, Long)])]
      .groupByKey(_._1)
      .mapGroups { (doc, it) =>
        val rows = it.toArray.sortBy(_._4)
        val ws: Seq[(Int, Int)] = rows.map(r => (r._5, r._6)).toSeq
        val wct: Seq[Seq[Double]] = rows.map { r =>
          val a = new Array[Double](k)
          r._7.foreach { case (t, c) => a(t) = c.toDouble }
          a.toSeq
        }.toSeq
        (doc, ws, rows.head._2, rows.head._3, wct)
      }
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
    import spark.implicits._

    val useJoin = numWords.toLong * numTopics > broadcastCeiling
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

    // K-sized counters (tiny, always collectible): per-topic doc count and
    // word sum — topicWordSum(k) = Σ nWords over docs assigned to k, so the
    // K×V table is not needed to derive it. Every doc has one topic, so the
    // doc counts also sum to numDocs.
    def smallCounters(ds: Dataset[DocRow]): (Array[Long], Array[Long]) = {
      val tdc = new Array[Long](numTopics)
      val tws = new Array[Long](numTopics)
      ds.map(r => (r._4, r._3.toLong)).groupByKey(_._1)
        .mapValues { case (_, n) => (1L, n) }
        .reduceGroups((a, b) => (a._1 + b._1, a._2 + b._2))
        .collect()
        .foreach { case (kt, (c, s)) => tdc(kt) = c; tws(kt) = s }
      (tdc, tws)
    }

    // the K×V word table (broadcast path only)
    def wordCounts(ds: Dataset[DocRow]): Map[(Int, Int), Long] =
      ds.flatMap { case (_, ws, _, kt) => ws.map { case (w, c) => ((kt, w), c.toLong) } }
        .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _).collect().toMap

    // one Gibbs superstep; the driver's checkpoint after it is the barrier
    def resample(state: DataFrame, iter: Int): DataFrame = {
      val docs = typed(state)
      val (tdc, tws) = smallCounters(docs)
      val numDocs = tdc.sum
      val tdcB = spark.sparkContext.broadcast(tdc)
      val twsB = spark.sparkContext.broadcast(tws)
      val next =
        if (!useJoin) {
          val twcB = spark.sparkContext.broadcast(wordCounts(docs))
          docs.map { case (doc, ws, nInDoc, kOld) =>
            val wi = ws.toIndexedSeq
            val twc0 = twcB.value
            val kNew = g.sampleTopic(wi, nInDoc, kOld, doc, iter, tdcB.value,
              (pos, t) => twc0.getOrElse((t, wi(pos)._1), 0L).toDouble,
              twsB.value, numDocs, nw)
            (doc, ws, nInDoc, kNew)
          }
        } else
          withWordVectors(spark, docs).map { case (doc, ws, nInDoc, kOld, wct) =>
            val wi = ws.toIndexedSeq
            val kNew = g.sampleTopic(wi, nInDoc, kOld, doc, iter, tdcB.value,
              (pos, t) => wct(pos)(t), twsB.value, numDocs, nw)
            (doc, ws, nInDoc, kNew)
          }
      next.toDF("doc", "words", "nWords", "topic")
    }

    val state = graft.graph.Supersteps.iterate(spark, init, resample, numIters,
      checkpointTable, checkpointEvery).state
    val docs = typed(state)

    // final counters: the K×V table is materialized ONCE for driver-side
    // `infer` only on the broadcast path; the unbounded-vocab path keeps it
    // distributed (inferMemberships/entropy re-derive vectors via the join)
    val (tdc, tws) = smallCounters(docs)
    val twc = if (useJoin) Map.empty[(Int, Int), Long] else wordCounts(docs)
    GSDMMModel(this, state, tdc, twc, tws, tdc.sum, numWords,
      countersCollected = !useJoin)
  }
}

final case class GSDMMModel(
    gsdmm: GSDMM,
    docs: DataFrame, // (doc, words, nWords, topic)
    topicDocCount: Array[Long],
    topicWordCount: Map[(Int, Int), Long], // empty when !countersCollected
    topicWordSum: Array[Long],
    numDocs: Long,
    numWords: Int,
    countersCollected: Boolean = true) {

  /** Infer (:1838-1884) — note the reference's docPart uses
    * `docCountOfTopic - 1` in the denominator; replicated verbatim.
    * Driver-side single-doc path: needs the collected K×V table. */
  def infer(words: Seq[(Int, Int)]): Seq[Double] = {
    require(countersCollected,
      "driver-side infer needs collected counters (vocab over the " +
        "broadcast ceiling): use inferMemberships for trained docs")
    GSDMM.inferDoc(words, gsdmm.numTopics, gsdmm.alpha, gsdmm.beta,
      topicDocCount, topicWordCount, topicWordSum, numDocs, numWords)
  }

  private def typedDocs(spark: SparkSession) = {
    import spark.implicits._
    docs.select(col("doc"), col("words"), col("nWords"), col("topic"))
      .as[(Long, Seq[(Int, Int)], Int, Int)]
  }

  /** Distributed Infer over every trained doc: `(doc, membership)`.
    * Broadcast path when the counters are collected; word-keyed join path
    * otherwise (the K×V table never reaches the driver). */
  def inferMemberships(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val g = gsdmm
    val k = g.numTopics; val a = g.alpha; val b = g.beta
    val nd = numDocs; val nw = numWords
    if (countersCollected) {
      val stateB = spark.sparkContext.broadcast(
        (topicDocCount, topicWordCount, topicWordSum))
      typedDocs(spark)
        .map { case (doc, ws, _, _) =>
          val (tdc, twc, tws) = stateB.value
          (doc, GSDMM.inferDoc(ws, k, a, b, tdc, twc, tws, nd, nw))
        }
        .toDF("doc", "membership")
    } else {
      val tdcB = spark.sparkContext.broadcast(topicDocCount)
      val twsB = spark.sparkContext.broadcast(topicWordSum)
      g.withWordVectors(spark, typedDocs(spark))
        .map { case (doc, ws, _, _, wct) =>
          (doc, GSDMM.inferDocF(ws.toIndexedSeq, k, a, b, tdcB.value,
            (pos, t) => wct(pos)(t), twsB.value, nd, nw))
        }
        .toDF("doc", "membership")
    }
  }

  /** Hard assignment per doc. */
  def assignments: DataFrame = docs.select(col("doc"), col("topic"))

  /** ComputeEntropy (:1888-1917): mean over docs of the entropy of each
    * doc's normalized resampling distribution `probTopicOfDoc(doc, kOld,
    * ·)` — self-subtraction against the doc's CURRENT topic included,
    * exactly like the reference. Distributed as a pure map over doc rows;
    * counter vectors ride a broadcast (collected path) or the word-keyed
    * join (unbounded-vocab path). */
  def entropy(spark: SparkSession): Double = {
    import spark.implicits._
    if (numDocs == 0L) return 0.0
    val g = gsdmm
    val k = g.numTopics
    val nd = numDocs
    val nw = numWords.toDouble
    val tdcB = spark.sparkContext.broadcast(topicDocCount)
    val twsB = spark.sparkContext.broadcast(topicWordSum)

    def docEntropy(wi: IndexedSeq[(Int, Int)], nInDoc: Int, kOld: Int,
        wctOf: (Int, Int) => Double,
        tdc: Array[Long], tws: Array[Long]): Double = {
      val probs = new Array[Double](k)
      var sum = 0.0
      var idxK = 0
      while (idxK < k) {
        probs(idxK) = g.probTopicOfDocF(wi, nInDoc, kOld, idxK, tdc, wctOf,
          tws, nd, nw)
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

    val perDoc =
      if (countersCollected) {
        val twcB = spark.sparkContext.broadcast(topicWordCount)
        typedDocs(spark).map { case (_, ws, nInDoc, kOld) =>
          val wi = ws.toIndexedSeq
          val twc = twcB.value
          docEntropy(wi, nInDoc, kOld,
            (pos, t) => twc.getOrElse((t, wi(pos)._1), 0L).toDouble,
            tdcB.value, twsB.value)
        }
      } else {
        g.withWordVectors(spark, typedDocs(spark))
          .map { case (_, ws, nInDoc, kOld, wct) =>
            docEntropy(ws.toIndexedSeq, nInDoc, kOld,
              (pos, t) => wct(pos)(t), tdcB.value, twsB.value)
          }
      }
    // coalesce: an all-filtered/empty docs frame must yield 0.0, not NPE
    perDoc.toDF("e").agg(coalesce(sum(col("e")), lit(0.0)))
      .head().getDouble(0) / nd.toDouble
  }

  /** ComputeRelativeEntropy (:1921-1928). */
  def relativeEntropy(spark: SparkSession): Double =
    entropy(spark) / (-math.log(1.0 / gsdmm.numTopics))
}
