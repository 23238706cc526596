package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The five co-occurrence similarity kernels consumed by the reference via
  * ConcurrenceBasedClustering (`InduceSimilarities` simType 0-4, call sites
  * CitationGraphs.go:2286-2297, :2348-2360), re-derived as row-normalized
  * join-aggregations over the long-form co-occurrence table `(w1, w2, cooc)`,
  * plus the pair filter (`SetPairFilter(0.1, 3.0)`, :2861) and the
  * neighbor-ranking window (`computeSimRanks`, :4207-4230).
  */
object Similarity {

  /** Row sums (degree mass) of the symmetric co-occurrence matrix. */
  def rowSums(cooc: DataFrame): DataFrame = {
    val sym = cooc.select(col("w1").as("w"), col("cooc"))
      .union(cooc.select(col("w2").as("w"), col("cooc")))
    sym.groupBy("w").agg(sum("cooc").as("rowSum"))
  }

  /** simType semantics:
    *  0 raw:                sim = cooc
    *  1 normalized:         sim = cooc / sqrt(rowSum1 * rowSum2)
    *  2 jaccard:            sim = cooc / (rowSum1 + rowSum2 - cooc)
    *  3 weighted jaccard:   sim = cooc / max(rowSum1, rowSum2)
    *  4 normalized jaccard: jaccard of the normalized rows
    */
  def induce(cooc: DataFrame, simType: Int): DataFrame = {
    val rs = rowSums(cooc)
    val joined = cooc
      .join(rs.select(col("w").as("w1"), col("rowSum").as("s1")), "w1")
      .join(rs.select(col("w").as("w2"), col("rowSum").as("s2")), "w2")
    val sim: Column = simType match {
      case 0 => col("cooc").cast("double")
      case 1 => col("cooc") / sqrt(col("s1") * col("s2"))
      case 2 => col("cooc") / (col("s1") + col("s2") - col("cooc"))
      case 3 => col("cooc") / greatest(col("s1"), col("s2"))
      case 4 =>
        val n = col("cooc") / sqrt(col("s1") * col("s2"))
        n / (lit(2.0) - n)
      case other => throw new IllegalArgumentException(s"simType $other")
    }
    joined.select(col("w1"), col("w2"), sim.as("sim"))
  }

  /** SetPairFilter(minSim, ratioToMax): keep pairs with `sim >= minSim` and
    * `sim * ratioToMax >= max sim of either endpoint` — sparsification
    * BEFORE any O(n²) work (SURVEY.md §4: keep as early filter). */
  def pairFilter(sims: DataFrame, minSim: Double, ratioToMax: Double): DataFrame = {
    val sym = sims.select(col("w1").as("w"), col("sim"))
      .union(sims.select(col("w2").as("w"), col("sim")))
    val maxes = sym.groupBy("w").agg(max("sim").as("maxSim"))
    sims
      .join(maxes.select(col("w").as("w1"), col("maxSim").as("m1")), "w1")
      .join(maxes.select(col("w").as("w2"), col("maxSim").as("m2")), "w2")
      .where(col("sim") >= minSim &&
        col("sim") * ratioToMax >= greatest(col("m1"), col("m2")))
      .select("w1", "w2", "sim")
  }

  /** W1 — computeSimRanks (CitationGraphs.go:4207-4230): per phrase, rank
    * neighbors by similarity desc, 0-based; ties by neighbor id for
    * determinism (the reference's sort.Slice is not stable — we pin it). */
  def simRanks(sims: DataFrame): DataFrame = {
    val sym = sims.select(col("w1").as("p"), col("w2").as("nbr"), col("sim"))
      .union(sims.select(col("w2").as("p"), col("w1").as("nbr"), col("sim")))
    val w = Window.partitionBy("p").orderBy(desc("sim"), asc("nbr"))
    sym.withColumn("rank", row_number().over(w) - 1)
  }

  /** J10 — year-over-year rank jumps (Leap2Trend, CitationGraphs.go:
    * 4307-4315): equi-join each year's ranks with the previous year's on
    * `(p, nbr)`, jump = rank - prevRank (the reference's orientation at
    * :4311 — positive when the pair moved APART in the ranking), keep
    * `jump >= minJump`. Pairs absent from the current year default to
    * rank 0 in the reference (nil-map zero value), making their jump
    * negative — equivalent to this inner join whenever minJump >= 1. */
  def rankJumps(ranksByYear: DataFrame, minJump: Int): DataFrame = {
    val cur = ranksByYear.select(col("p"), col("nbr"), col("year"), col("rank"))
    val prev = ranksByYear.select(col("p"), col("nbr"),
      (col("year") + 1).as("year"), col("rank").as("prevRank"))
    cur.join(prev, Seq("p", "nbr", "year"))
      .withColumn("jump", col("rank") - col("prevRank"))
      .where(col("jump") >= minJump)
      .orderBy(desc("jump"), asc("p"), asc("nbr"))
  }

  /** F5/F11 — cosine over dense double-array columns:
    * dot(a,b) / (||a||·||b||), on the native sequential-fold dot
    * ([[graft.functions.HashKernels.dot]]). */
  def cosine(a: Column, b: Column): Column = {
    val dot = graft.functions.GraftExpressions.dot _
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }
}
