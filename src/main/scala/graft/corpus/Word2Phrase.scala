package graft.corpus

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Word2Phrase (reference CitationGraphs.go:298-419 v1, :423-563 v2/Ex):
  * per pass, count unigrams and adjacent bigrams, score candidate bigrams,
  * then greedily re-tokenize each document left-to-right, merging scored
  * pairs into `w1_w2` phrases. `numIters` passes build up longer phrases.
  *
  * Distributed shape:
  *  - unigram counts: `groupBy(term).count` (A5)
  *  - bigram counts: lag window within doc (W3) + `groupBy(t1,t2).count`
  *  - scores: pure column arithmetic (F8 v1, F9 v2)
  *  - greedy merge: order-dependent sequential scan per doc -> flatMapGroups
  *    over `(doc)` groups with a sorted iterator (SURVEY.md W2 pattern);
  *    this is per-document work, embarrassingly parallel across docs.
  */
object Word2Phrase {

  /** One pass: docs `(doc, toks ARRAY<STRING>)` -> same shape with merged
    * bigram phrases, and the broadcast the lazy output reads. The
    * accepted-pair dictionary is collected and broadcast — it is a
    * vocabulary-sized dim table (bounded by distinct scored bigrams, not by
    * corpus size), the standard broadcast-dim pattern; the per-doc merge
    * itself stays fully distributed. The caller destroys the broadcast once
    * the output is materialized. */
  private[corpus] def pass(spark: SparkSession, toks: DataFrame, minFreq: Int,
      minScore: Double, useV2: Boolean,
      broadcastPairCeiling: Long = 10L * 1000 * 1000)
      : (DataFrame, Broadcast[Set[String]]) = {
    import spark.implicits._

    val flat = toks.select(col("doc"), posexplode(col("toks")).as(Seq("pos", "term")))
    val uni = flat.groupBy("term").agg(count(lit(1)).as("f")).cache()

    val w = Window.partitionBy("doc").orderBy("pos")
    val bi = flat
      .withColumn("prev", lag("term", 1).over(w))
      .where(col("prev").isNotNull)
      .groupBy(col("prev").as("t1"), col("term").as("t2"))
      .agg(count(lit(1)).as("freq"))

    // v2 (Ex, CitationGraphs.go:486-524) additionally weights by fan-out
    // degrees: cond1*cond2/(avg1*avg2) with cond=freq/f_i, avg=1/outdeg_i
    val fan1 = bi.groupBy("t1").agg(count(lit(1)).as("outdeg"))
    val fan2 = bi.groupBy("t2").agg(count(lit(1)).as("indeg"))

    val scored = bi
      .join(uni.select(col("term").as("t1"), col("f").as("f1")), "t1")
      .join(uni.select(col("term").as("t2"), col("f").as("f2")), "t2")
      .join(fan1, "t1").join(fan2, "t2")
      .where(col("freq") > minFreq)
      .withColumn("score",
        if (!useV2) (col("freq") - minFreq).cast("double") / (col("f1") * col("f2"))
        else (col("freq") * col("freq")).cast("double")
          * col("outdeg") * col("indeg") / (col("f1") * col("f2")))
      .where(col("score") >= minScore)
      .select("t1", "t2", "score")
      .cache() // two actions below: guardrail count, then collect

    // broadcast the accepted pair set; greedy left-to-right merge per doc.
    // Guardrail: the set is bounded by distinct scored bigrams, which at
    // corpus scale with a low minFreq is unbounded driver memory — fail
    // loudly with the fix (raise minFreq/minScore) instead of OOMing.
    val numPairs = scored.count()
    require(numPairs <= broadcastPairCeiling,
      s"word2phrase: $numPairs accepted bigrams exceed the broadcast ceiling " +
        s"$broadcastPairCeiling; raise minFreq/minScore (or the ceiling) — " +
        "the accepted-pair dictionary is collected to the driver")
    val pairs = scored.select(concat_ws("\u0000", col("t1"), col("t2")).as("k"))
      .as[String].collect().toSet
    scored.unpersist(false)
    uni.unpersist(false)
    val pairsB = spark.sparkContext.broadcast(pairs)

    val merged = toks.as[(Long, Seq[String])].map { case (doc, ts) =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < ts.length) {
        if (i + 1 < ts.length && pairsB.value.contains(ts(i) + "\u0000" + ts(i + 1))) {
          out += ts(i) + "_" + ts(i + 1) // space->_ as at CitationGraphs.go:3859
          i += 2
        } else { out += ts(i); i += 1 }
      }
      (doc, out.result())
    }.toDF("doc", "toks")
    (merged, pairsB)
  }

  /** Full recursive word2phrase: `numIters` passes (CitationGraphs.go:298),
    * one superstep each on the [[graft.graph.Supersteps]] driver, which
    * checkpoints every pass's output and releases the pass it replaces. */
  def run(spark: SparkSession, docs: DataFrame, numIters: Int = 2,
      minFreq: Int = 2, minScore: Double = 1e-8, useV2: Boolean = false): DataFrame =
    runPasses(spark, docs, numIters, minFreq, minScore, useV2)._1

  /** [[run]], plus the (destroyed) pair broadcast of every pass. */
  private[corpus] def runPasses(spark: SparkSession, docs: DataFrame,
      numIters: Int, minFreq: Int, minScore: Double, useV2: Boolean)
      : (DataFrame, Seq[Broadcast[Set[String]]]) = {
    val made = mutable.ArrayBuffer.empty[Broadcast[Set[String]]]
    val out = graft.graph.Supersteps.iterate(spark,
      init = docs.select(col("doc"),
        graft.text.TextAnalysis.tokens(lower(col("text"))).as("toks")),
      step = { (toks, _) =>
        val (merged, pairs) = pass(spark, toks, minFreq, minScore, useV2)
        made += pairs
        merged
      },
      maxIters = numIters,
      checkpointTable = null,
      checkpointEvery = 1).state
    // with no convergence action the driver checkpoints every pass eagerly,
    // so no block reads a pair set after iterate returns
    made.foreach(_.destroy())
    (out, made.toSeq)
  }
}
