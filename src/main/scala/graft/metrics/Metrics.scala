package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Community-comparison metrics (reference CitationGraphs.go:3135-3608):
  * modularity, CPM, RI, ARI, entropies, MI/NMI/AMI/EMI, plus the membership
  * argmax (A21) and exact `numCombs` hypergeometric term (F6).
  *
  * Long-form inputs:
  *  - memberships: `(nodeId LONG, membership ARRAY<DOUBLE>)`
  *  - communities: `(cid, member)` (member = nodeId)
  *
  * Scale note — modularity/CPM: the reference computes all-pairs membCos
  * (O(n²), CitationGraphs.go:3146-3176). With rows normalized to unit
  * vectors, `Σ_{i,j∈c} cos(i,j) = ||Σ_{i∈c} u_i||²` and
  * `sumSims_i = u_i · S` with `S = Σ_j u_j`, so the whole computation is
  * O(n·d): one vector sum + one dot per node. Same value (up to float
  * associativity), no pairwise join anywhere — this is the Spark-first
  * re-derivation, not a port of the nested loop.
  */
object Metrics {

  /** A21 — GetCommunitiesFromMemberships (CitationGraphs.go:3236-3259):
    * hard community = first argmax of the membership vector. */
  def communitiesFromMemberships(memberships: DataFrame): DataFrame =
    memberships.select(
      (array_position(col("membership"), array_max(col("membership"))) - 1)
        .cast("int").as("cid"),
      col("nodeId").as("member"))

  /** Normalize membership rows to unit vectors (cos = dot thereafter).
    * Same ascending sum-of-squares fold + per-element divide as the
    * bind-once higher-order form this replaced — the native kernel
    * ([[graft.functions.HashKernels.normalizeVec]], bit-identical,
    * FunctionsSpec-pinned; the `array<double>` cast is a no-op here).
    * Pinned end-to-end by the m_modularity / m_cpm oracles. */
  def normalized(memberships: DataFrame): DataFrame =
    memberships.select(col("nodeId"),
      graft.functions.GraftExpressions.normalize(col("membership")).as("u"))

  private def vecSum(df: DataFrame, vecCol: String, dims: Int): Seq[Double] = {
    val sums = (0 until dims).map(k => sum(element_at(col(vecCol), k + 1)).as(s"s$k"))
    val r = df.agg(sums.head, sums.tail: _*).head()
    (0 until dims).map(r.getDouble)
  }

  /** CompareByModularity (CitationGraphs.go:3135-3202). */
  def modularity(memberships: DataFrame, communities: DataFrame): Double = {
    val dims = memberships.select(size(col("membership"))).head().getInt(0)
    val u = normalized(memberships).cache()
    val s = vecSum(u, "u", dims) // S = Σ_j u_j
    val total = s.map(x => x * x).sum // totalSumSims = S·S
    val sLit = array(s.map(lit): _*)
    val withSumSims = u.withColumn("sumSim",
      graft.functions.GraftExpressions.dot(col("u"), sLit))
    // v_c = Σ_{i∈c} u_i, per component; s_c = Σ sumSims_i
    val aggs = (0 until dims).map(k => sum(element_at(col("u"), k + 1)).as(s"v$k")) :+
      sum(col("sumSim")).as("sc")
    val byCommunity = communities
      .join(withSumSims.withColumnRenamed("nodeId", "member"), "member")
      .groupBy("cid")
      .agg(aggs.head, aggs.tail: _*)
    val vNormSq = (0 until dims).map(k => col(s"v$k") * col(s"v$k"))
      .reduce(_ + _)
    val contrib = byCommunity
      .agg(sum(vNormSq - col("sc") * col("sc") / total)).head().getDouble(0)
    contrib / total
  }

  /** CompareByCPM (CitationGraphs.go:3206-3232): Σ_c Σ_{i,j∈c} (sim − γ)
    * = Σ_c (||v_c||² − γ·|c|²). */
  def cpm(memberships: DataFrame, communities: DataFrame, gamma: Double): Double = {
    val dims = memberships.select(size(col("membership"))).head().getInt(0)
    val u = normalized(memberships)
    val aggs = (0 until dims).map(k => sum(element_at(col("u"), k + 1)).as(s"v$k")) :+
      count(lit(1)).as("nc")
    val byCommunity = communities
      .join(u.withColumnRenamed("nodeId", "member"), "member")
      .groupBy("cid")
      .agg(aggs.head, aggs.tail: _*)
    val vNormSq = (0 until dims).map(k => col(s"v$k") * col(s"v$k")).reduce(_ + _)
    byCommunity.agg(sum(vNormSq - lit(gamma) * col("nc") * col("nc")))
      .head().getDouble(0)
  }

  /** J5 — contingency table between two hard clusterings `(cid, member)`:
    * long-form equi-join + count, never an O(k²) nested loop. */
  def contingency(c1: DataFrame, c2: DataFrame): DataFrame =
    c1.select(col("cid").as("cid1"), col("member"))
      .join(c2.select(col("cid").as("cid2"), col("member")), "member")
      .groupBy("cid1", "cid2").agg(count(lit(1)).as("nij"))

  private def sizes(c: DataFrame): DataFrame =
    c.groupBy("cid").agg(count(lit(1)).as("sz"))

  private def pairs(n: Column): Column = (n * (n - 1) / 2).cast("double")

  /** CompareByRI (CitationGraphs.go:3275-3334). */
  def randIndex(c1: DataFrame, c2: DataFrame): Double = {
    val n = c1.count().toDouble
    val sameBoth = contingency(c1, c2).agg(sum(pairs(col("nij"))))
      .head().getDouble(0)
    val same1 = sizes(c1).agg(sum(pairs(col("sz")))).head().getDouble(0)
    val same2 = sizes(c2).agg(sum(pairs(col("sz")))).head().getDouble(0)
    val t = n * (n - 1) / 2
    val cross = t - same1 - same2 + sameBoth
    (sameBoth + cross) / t
  }

  /** CompareByARI (CitationGraphs.go:3338-3400). */
  def adjustedRandIndex(c1: DataFrame, c2: DataFrame): Double = {
    val n = c1.count().toDouble
    val index = contingency(c1, c2).agg(sum(pairs(col("nij"))))
      .head().getDouble(0)
    val partI = sizes(c1).agg(sum(pairs(col("sz")))).head().getDouble(0)
    val partJ = sizes(c2).agg(sum(pairs(col("sz")))).head().getDouble(0)
    val partN = n * (n - 1) / 2
    val cross = partI * partJ / partN
    (index - cross) / (0.5 * (partI + partJ) - cross)
  }

  /** ComputeEntropies (CitationGraphs.go:3404-3468):
    * (crossEntropy, entropy1, entropy2). */
  def entropies(c1: DataFrame, c2: DataFrame): (Double, Double, Double) = {
    val n = c1.count().toDouble
    def h(szs: DataFrame): Double =
      szs.agg(sum(when(col("sz") > 0,
        -(col("sz") / n) * log(col("sz") / n)).otherwise(0.0)))
        .head().getDouble(0)
    val cross = contingency(c1, c2)
      .agg(sum(-(col("nij") / n) * log(col("nij") / n))).head().getDouble(0)
    (cross, h(sizes(c1)), h(sizes(c2)))
  }

  def mi(c1: DataFrame, c2: DataFrame): Double = {
    val (cross, e1, e2) = entropies(c1, c2); e1 + e2 - cross
  }

  def nmi(c1: DataFrame, c2: DataFrame): Double = {
    val (cross, e1, e2) = entropies(c1, c2)
    2.0 * (e1 + e2 - cross) / (e1 + e2)
  }

  /** F6 — numCombs (CitationGraphs.go:3496-3546): exact ratio of factorial
    * products via interleaved max-division; the pairing order is replicated
    * verbatim for float-identical results. */
  def numCombs(a: Int*): Double = {
    val m = a.length
    val m1 = a.indexWhere(_ < 0)
    require(m1 >= 0, "numCombs: no separator")
    val b = a.toArray
    val n1 = (0 until m1).map(a).sum
    val n2 = (m1 + 1 until m).map(a).sum
    require(n1 == n2, s"numCombs: n1=$n1 != n2=$n2")
    var result = 1.0
    (0 until n1).foreach { _ =>
      var i1Max = 0
      (1 until m1).foreach(i => if (b(i) > b(i1Max)) i1Max = i)
      var i2Max = m1 + 1
      (m1 + 2 until m).foreach(i => if (b(i) > b(i2Max)) i2Max = i)
      result *= b(i1Max).toDouble / b(i2Max).toDouble
      b(i1Max) -= 1
      b(i2Max) -= 1
    }
    result
  }

  /** ComputeEMI (CitationGraphs.go:3550-3589): expected MI under the
    * hypergeometric null. The double loop over community pairs becomes a
    * crossJoin of the (small) size tables; the inner k-sum runs in a UDF. */
  def emi(c1: DataFrame, c2: DataFrame): Double = {
    val n = c1.count().toInt
    val emiTerm = udf { (ni: Long, nj: Long) =>
      val k0 = math.max(1L, ni + nj - n)
      val k1 = math.min(ni, nj)
      var acc = 0.0
      var k = k0
      while (k <= k1) {
        acc += numCombs(ni.toInt, nj.toInt, n - ni.toInt, n - nj.toInt, -1,
          n, k.toInt, (ni - k).toInt, (nj - k).toInt, (n - ni - nj + k).toInt) *
          k.toDouble / n * math.log(k.toDouble * n / (ni.toDouble * nj.toDouble))
        k += 1
      }
      acc
    }
    sizes(c1).select(col("sz").as("ni")).where(col("ni") > 0)
      .crossJoin(sizes(c2).select(col("sz").as("nj")).where(col("nj") > 0))
      .agg(sum(emiTerm(col("ni"), col("nj")))).head().getDouble(0)
  }

  /** CompareByAMI (CitationGraphs.go:3593-3608). */
  def ami(c1: DataFrame, c2: DataFrame): Double = {
    val (cross, e1, e2) = entropies(c1, c2)
    val m = e1 + e2 - cross
    val e = emi(c1, c2)
    (m - e) / (math.max(e1, e2) - e)
  }
}
