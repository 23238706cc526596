package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path (candidates only within matching
  * buckets — the join key is a small int, embeddings never cross the
  * shuffle more than once).
  */
object Ann {

  /** Cosine over array columns via higher-order functions (declarative
    * form; fine off the hot path). The hot path pre-normalizes instead —
    * see [[bruteForceTopK]]. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Sequential ascending-index dot-product fold (the fixed accumulation
    * order every bit-exact oracle replays with a prepend-0 list_reduce).
    * Native kernel ([[graft.functions.HashKernels.dot]]), evaluated per
    * CANDIDATE PAIR in [[lshTopK]] / [[cosineNearDups]], where
    * pairs >> rows (bit-identical fold, spec-asserted). */
  def dot(x: Column, y: Column): Column =
    graft.functions.GraftExpressions.dot(x, y)

  /** Normalize a float-vec column to a unit double array ONCE, so cosine
    * of any pair downstream is a single dot product (the reference-style
    * per-pair norm recomputation is O(3d) per pair and was the dominant
    * cost of the brute-force scorer). Native kernel
    * ([[graft.functions.HashKernels.normalizeVec]]); [[normalizeHof]] is the
    * reference higher-order form it is spec-asserted bit-identical to. */
  def normalize(vec: Column): Column =
    graft.functions.GraftExpressions.normalize(vec)

  /** Reference form of [[normalize]], kept for the FunctionsSpec
    * cross-check. */
  private[graft] def normalizeHof(vec: Column): Column = {
    val d = aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    // bind the norm ONCE per row as a lambda variable: capturing `d` inside
    // the scaling lambda would re-run the O(d) aggregate per element (O(d²))
    element_at(transform(array(sqrt(d)),
      nrm => transform(vec, x => x.cast("double") / nrm)), 1)
  }

  /** Exact top-k neighbors per query vector against the corpus; both inputs
    * `(id, vec)`. The exact-baseline contract is "corpus fits on one node"
    * (it was always the broadcast side); given that, the fastest correct
    * plan is: normalize + collect the corpus once, broadcast the primitive
    * `Array[Array[Double]]`, and scan it per query row in a tight
    * while-loop inside `mapPartitions`. The previous crossJoin + scalar-UDF
    * plan paid Seq[Double] boxing on every one of the |q|·|c| pairs (34s at
    * 2000×2000×64d); this pays one conversion per ROW and pure primitive
    * arithmetic per pair. Top-k selection happens inline per query — no
    * window shuffle. Ties break by ascending cid, matching the oracle. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      collectCeiling: Long = 2L * 1000 * 1000): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = queries.sparkSession
    val q = queries.select(col("id").as("qid"), normalize(col("vec")).as("qv"))
    val c = corpus.select(col("id").as("cid"), normalize(col("vec")).as("cv"))
    // Guardrail: the exact-baseline contract is "corpus fits on one node" —
    // enforce it instead of OOMing the driver on a misrouted big frame.
    // Large corpora belong on [[lshTopK]] (the scale path).
    val corpusRows = c.count()
    require(corpusRows <= collectCeiling,
      s"bruteForceTopK: corpus has $corpusRows rows, over the driver-collect " +
        s"ceiling $collectCeiling; use lshTopK for large corpora (or raise " +
        "the ceiling if the driver really has the memory)")
    val corpusArr = c.collect().map(r => (r.get(0), r.getSeq[Double](1).toArray))
    val bc = spark.sparkContext.broadcast(corpusArr)
    val idType = q.schema("qid").dataType
    val outSchema = StructType(Seq(
      StructField("qid", idType), StructField("cid", idType),
      StructField("sim", DoubleType), StructField("rank", IntegerType)))
    def cmpIds(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    val rows = q.rdd.mapPartitions { it =>
      val corp = bc.value
      it.flatMap { r =>
        val qid = r.get(0)
        val qv = r.getSeq[Double](1).toArray
        val scored = new Array[(Any, Double)](corp.length)
        var m = 0
        corp.foreach { case (cid, cv) =>
          if (cid != qid) {
            var s = 0.0; var i = 0
            val n = math.min(qv.length, cv.length)
            while (i < n) { s += qv(i) * cv(i); i += 1 }
            scored(m) = (cid, s); m += 1
          }
        }
        java.util.Arrays.sort(scored, 0, m,
          new java.util.Comparator[(Any, Double)] {
            def compare(x: (Any, Double), y: (Any, Double)): Int = {
              val bySim = java.lang.Double.compare(y._2, x._2)
              if (bySim != 0) bySim else cmpIds(x._1, y._1)
            }
          })
        (0 until math.min(k, m)).iterator
          .map(i => Row(qid, scored(i)._1, scored(i)._2, i + 1))
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Deterministic pseudo-random unit hyperplane component in [-1, 1):
    * `mix(mix(plane) ^ (dim * C)) / 2^63` with `mix` = splitmix64
    * (graft.ingest.Pages.mix). Chosen over xxhash64 because the mix chain
    * replays exactly in DuckDB integer SQL — the e_lsh_top1 oracle rebuilds
    * these components the same way the d_minhash_pairs / d_simhash oracles
    * replay their hash families. */
  private[pipeline] def planeComponent(planePremix: Long, dim: Int): Double =
    graft.ingest.Pages.mix(planePremix ^ (dim.toLong * 0xC2B2AE3D27D4EB4FL))
      .toDouble / Long.MaxValue.toDouble

  /** Random-hyperplane LSH signature: `numPlanes` sign bits packed into a
    * LONG. Vectors with equal signatures are near-neighbor candidates.
    * `planeOffset` selects an independent plane family per hash table.
    * Native kernel ([[graft.functions.HashKernels.hyperplaneSig]]): one
    * pass computes every projection (primitive arithmetic, one traversal
    * of the vector per plane — the minhashSignature shape) over ArrayData
    * in place; [[hyperplaneSignatureUdf]] is the scalar-UDF reference form
    * it is spec-asserted bit-identical to. Projection order is ascending
    * dim, a fixed left fold, so the oracle's sequential list_reduce
    * reproduces the doubles bit-exactly. */
  def hyperplaneSignature(vec: Column, numPlanes: Int, planeOffset: Int = 0): Column =
    graft.functions.GraftExpressions.hyperplaneSignature(vec, numPlanes, planeOffset)

  /** Reference form of [[hyperplaneSignature]], kept for the FunctionsSpec
    * bit-identity cross-check. */
  private[graft] def hyperplaneSignatureUdf(
      vec: Column, numPlanes: Int, planeOffset: Int = 0): Column = {
    val premixes = Array.tabulate(numPlanes)(p =>
      graft.ingest.Pages.mix((planeOffset + p).toLong))
    val sigUdf = udf { (v: Seq[Double]) =>
      var bits = 0L
      if (v != null) {
        val n = v.length
        var p = 0
        while (p < premixes.length) {
          val pm = premixes(p)
          var acc = 0.0
          var j = 0
          while (j < n) { acc += v(j) * planeComponent(pm, j); j += 1 }
          if (acc >= 0) bits |= (1L << p)
          p += 1
        }
      }
      bits
    }
    sigUdf(vec)
  }

  /** LSH-bucketed ANN: equi-join on the signature bucket, exact cosine +
    * top-k inside buckets. `numTables` independent hash tables raise
    * recall; bucket id is the only shuffle key.
    *
    * Shuffle discipline (the 768-d-vector rule): the bucket self-join and
    * the cross-table pair dedup run over bare `(id, table, bucket)` /
    * `(qid, cid)` rows — embeddings never enter a shuffle key and cross
    * the wire exactly once, re-attached per side AFTER the candidate set
    * is deduped. */
  def lshTopK(data: DataFrame, k: Int, numPlanes: Int = 8,
      numTables: Int = 2, maxBucketSize: Long = 0L): DataFrame = {
    // ONE id-keyed exchange of (id, vec) feeds every consumer: each
    // table's signature branch and both vector re-attach joins below (the
    // joins are already partitioned on their key through the qid/cid
    // aliases, so re-attaching adds no further vector shuffle). The
    // embeddings are read from storage once and cross the wire once —
    // without this the plan scans the corpus numTables+2 times and
    // shuffles the full vectors once per join side (plan-audited; see
    // PlanAudit and the exchange-reuse notes in Dedup.ngramJaccard).
    val base = data.select(col("id"), col("vec")).repartition(col("id"))
    val sigs0 = (0 until numTables).map { t =>
      base.select(col("id"),
        lit(t).as("table"),
        hyperplaneSignature(col("vec"), numPlanes, planeOffset = t * numPlanes)
          .as("bucket"))
    }.reduce(_ union _)
    // hot-bucket cap (off by default): a degenerate bucket — near-dup-heavy
    // corpora where many vectors share a signature — makes the self-join
    // quadratic in that bucket. Dropping oversized buckets bounds every
    // bucket's pair count by maxBucketSize² at a recall cost confined to
    // the dropped buckets (the other tables still cover their members);
    // mirrors Dedup.ngramJaccard's maxGramDf semantics. Document the cap
    // when reporting recall.
    val sigs = capBuckets(sigs0, Seq("table", "bucket"), maxBucketSize)
    // candidate PAIRS, deduped across tables/buckets — ids only
    val pairs = sigs.as("a").join(sigs.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket")
          && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("qid"), col("b.id").as("cid"))
      .distinct()
    // vectors join back once per side; each pair is unique so the scored
    // frame needs no further dedup. Normalizing HERE — once per row per
    // side, above the shared exchange, below the join — makes every
    // per-pair score a single dot-product fold; the per-pair cosine form
    // (dot / sqrt(dot·dot)) costs three O(d) folds and three zipped-array
    // allocations per CANDIDATE PAIR, which dominates when pairs >> rows.
    // (The join boundary pins the evaluation: normalize is a projection
    // over the exchange output, so it cannot be collapsed into the
    // per-pair expression.)
    val v = base
    val scored = pairs
      .join(v.select(col("id").as("qid"), normalize(col("vec")).as("qv")), "qid")
      .join(v.select(col("id").as("cid"), normalize(col("vec")).as("cv")), "cid")
      .select(col("qid"), col("cid"), dot(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path alongside
    * [[lshTopK]]: partition the corpus into `nlist` Voronoi cells around a
    * centroid set, search only the `nprobe` nearest cells per query.
    *
    * Centroid selection is deterministic — the `nlist` corpus vectors with
    * the smallest ids, normalized with the engine's sequential fold — so
    * the whole operator (assignment argmax, probe set, in-cell top-k)
    * replays bit-for-bit in DuckDB SQL (oracle `e_ivf_top1`), the same
    * verification contract as the splitmix hash families. A trained
    * k-means quantizer would shift WHICH cells exist, not the operator
    * shape; FAISS-style training on a sample is an orthogonal upgrade and
    * deliberately out of scope for the oracled kernel.
    *
    * Shuffle discipline (identical to [[lshTopK]]): one id-keyed exchange
    * of `(id, vec)` feeds the assignment branch and both vector re-attach
    * joins; candidates are generated over bare `(id, list)` rows with the
    * small centroid id as the only join key, so embeddings never enter a
    * shuffle key and cross the wire exactly once. Each corpus vector lives
    * in exactly one cell and probe lists are distinct, so a (qid, cid)
    * pair arises at most once — no dedup pass. At 100 TB: `nlist` scales
    * ~√N (centroids stay a driver-broadcast table), the cell join is an
    * equi-join on an int, and `maxListSize` bounds a degenerate hot cell's
    * quadratic blow-up exactly as `maxBucketSize` does for LSH buckets.
    *
    * Recall contract: a query's true neighbor is found iff it lives in one
    * of the query's `nprobe` nearest cells — raise `nprobe` toward `nlist`
    * to trade throughput for recall (nprobe = nlist is exhaustive and
    * matches [[bruteForceTopK]]).
    */
  def ivfTopK(data: DataFrame, k: Int, nlist: Int = 16, nprobe: Int = 2,
      maxListSize: Long = 0L, centroidCeiling: Long = 65536): DataFrame = {
    require(nlist > 0 && nprobe > 0 && nprobe <= nlist,
      s"ivfTopK: need 0 < nprobe <= nlist, got nlist=$nlist nprobe=$nprobe")
    require(nlist <= centroidCeiling,
      s"ivfTopK: nlist=$nlist exceeds the driver-broadcast ceiling " +
        s"$centroidCeiling; a centroid table that large belongs in a join, " +
        "not a broadcast (raise the ceiling only if the driver has the memory)")
    val spark = data.sparkSession
    // explicit isnotnull(id): semantically a no-op (every output path inner-
    // joins on the id), but load-bearing for exchange reuse — the vector
    // re-attach joins infer it and push it below THEIR exchange while the
    // probe branches (blocked by the nondeterministic UDF boundary) do not,
    // leaving the subtrees canonically different. Stating it once makes all
    // four consumers' exchange subtrees identical (the ngramJaccard lesson,
    // Dedup.scala).
    val base = data.select(col("id"), col("vec"))
      .where(col("id").isNotNull).repartition(col("id"))
    // deterministic coarse quantizer: nlist smallest-id vectors, normalized
    // driver-side with the exact ascending fold Ann.normalize uses, so the
    // oracle's list_reduce replay agrees on every double bit.
    // Read from `data` directly, NOT `base`: the centroid pick is its own
    // job (collect), so routing it through `base` would pay a full
    // id-keyed shuffle of the corpus just to TakeOrdered nlist rows —
    // the exchange is only shareable within one query, never across the
    // collect boundary (guide §2.4: remove shuffles outright).
    val centRows = data.select(col("id"), col("vec"))
      .orderBy(col("id")).limit(nlist).collect()
    val centroids: Array[(Any, Array[Double])] = centRows.map { r =>
      val raw = r.getSeq[Any](1).map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue
        case n: Number => n.doubleValue
      }.toArray
      var acc = 0.0; var j = 0
      while (j < raw.length) { acc += raw(j) * raw(j); j += 1 }
      val nrm = math.sqrt(acc)
      val vn = new Array[Double](raw.length)
      j = 0
      while (j < raw.length) { vn(j) = raw(j) / nrm; j += 1 }
      (r.get(0), vn)
    }
    val bc = spark.sparkContext.broadcast(centroids)
    val np = nprobe
    def cmpIds(a: Any, b: Any): Int = a.asInstanceOf[Comparable[Any]].compareTo(b)
    // one pass per row: normalize, dot against every centroid (ascending
    // dim — the oracle's fold order), rank by (sim desc, centroid id asc),
    // emit the nprobe nearest cell ids; element 0 is the row's own cell
    val probeUdf = udf { (v: Seq[Double]) =>
      val cents = bc.value
      if (v == null || cents.isEmpty) Seq.empty[Long]
      else {
        val n = v.length
        var acc = 0.0; var j = 0
        while (j < n) { acc += v(j) * v(j); j += 1 }
        val nrm = math.sqrt(acc)
        val scored = new Array[(Any, Double)](cents.length)
        var ci = 0
        while (ci < cents.length) {
          val cv = cents(ci)._2
          var s = 0.0; var d = 0
          val m = math.min(n, cv.length)
          while (d < m) { s += (v(d) / nrm) * cv(d); d += 1 }
          scored(ci) = (cents(ci)._1, s)
          ci += 1
        }
        java.util.Arrays.sort(scored,
          new java.util.Comparator[(Any, Double)] {
            def compare(x: (Any, Double), y: (Any, Double)): Int = {
              val bySim = java.lang.Double.compare(y._2, x._2)
              if (bySim != 0) bySim else cmpIds(x._1, y._1)
            }
          })
        (0 until math.min(np, scored.length))
          .map(i => scored(i)._1.asInstanceOf[Number].longValue)
      }
    }
    // asNondeterministic (guide §4.4): the optimizer otherwise pushes the
    // explode's inferred predicates (`size(probes) > 0`, `isnotnull`) and
    // the corpus side's join-key constraint BELOW the shared id-keyed
    // exchange as filters that re-evaluate this UDF — plan-audited: the
    // full centroid-assignment pass ran once in the filter and again in
    // the projection on BOTH branches, and the four consumer subtrees
    // (query explode, corpus cell, two vector re-attaches) stopped being
    // canonically identical, so every one re-scanned and re-shuffled the
    // corpus (4 scans instead of 1 + 3 ReusedExchange). The UDF is
    // genuinely deterministic — the marker only stops the optimizer from
    // duplicating/relocating it; results are unchanged (oracle-pinned).
    val probed = base.select(col("id"),
      probeUdf.asNondeterministic()(col("vec")).as("probes"))
    // corpus membership: exactly one cell per vector (probes[0]); query
    // side explodes its probe list. Bare ids + a small long key only.
    val corpusSide0 = probed.select(col("id").as("cid"),
      element_at(col("probes"), 1).as("list"))
    val corpusSide = capBuckets(corpusSide0, Seq("list"), maxListSize)
    val querySide = probed.select(col("id").as("qid"),
      explode(col("probes")).as("list"))
    val pairs = querySide.join(corpusSide, "list")
      .where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    // vectors re-attach once per side off the shared id-keyed exchange;
    // normalize above the join so each pair costs one dot fold (lshTopK)
    val v = base
    val scored = pairs
      .join(v.select(col("id").as("qid"), normalize(col("vec")).as("qv")), "qid")
      .join(v.select(col("id").as("cid"), normalize(col("vec")).as("cv")), "cid")
      .select(col("qid"), col("cid"), dot(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(desc("sim"), asc("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Drop buckets larger than `maxBucketSize` via a left-anti against the
    * oversized key set (no-op when the cap is 0/negative — the exact path).
    * Declarative (no driver action), so the cap costs one aggregation. */
  private def capBuckets(sigs: DataFrame, keys: Seq[String],
      maxBucketSize: Long): DataFrame =
    if (maxBucketSize <= 0L) sigs
    else {
      val hot = sigs.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("bsz"))
        .where(col("bsz") > maxBucketSize)
        .select(keys.map(col): _*)
      sigs.join(hot, keys, "left_anti")
    }

  /** Embedding-cosine near-duplicate pairs above a threshold (the fifth
    * dedup mode): LSH candidates -> exact cosine filter.
    *
    * Shuffle discipline (same as [[lshTopK]]): the bucket self-join runs
    * over bare `(id, bucket)` rows — each id has exactly one bucket, so the
    * pair set needs no dedup — and the embeddings are scanned once per side
    * and attached only to surviving pairs. At 768-d the previous
    * vectors-through-the-self-join shape dominated shuffle bytes.
    * `maxBucketSize` bounds a degenerate bucket's quadratic blow-up
    * (off by default — see [[lshTopK]]). */
  def cosineNearDups(data: DataFrame, threshold: Double,
      numPlanes: Int = 8, maxBucketSize: Long = 0L): DataFrame = {
    // one id-keyed exchange feeds the signature branch and both vector
    // re-attach joins — one corpus scan, one vector shuffle (see lshTopK)
    val base = data.select(col("id"), col("vec")).repartition(col("id"))
    val sig0 = base.select(col("id"),
      hyperplaneSignature(col("vec"), numPlanes).as("bucket"))
    val sig = capBuckets(sig0, Seq("bucket"), maxBucketSize)
    val pairs = sig.as("a").join(sig.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
    // per-row normalize + single per-pair dot, as in lshTopK
    val v = base
    pairs
      .join(v.select(col("id").as("id1"), normalize(col("vec")).as("v1")), "id1")
      .join(v.select(col("id").as("id2"), normalize(col("vec")).as("v2")), "id2")
      .select(col("id1"), col("id2"), dot(col("v1"), col("v2")).as("sim"))
      .where(col("sim") >= threshold)
  }
}
