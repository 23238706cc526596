package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for a 100 TB training-data pipeline. Each one is
  * declarative (Catalyst-optimizable), shuffles on the narrowest possible
  * key, and never moves full document text through a shuffle when a hash
  * will do.
  *
  *  - exact:       group by content fingerprint (64-bit hash), keep min id
  *  - minhash LSH: shingle -> k minhashes -> banded buckets -> bucket join
  *  - simhash:     64-bit weighted bit-vote fingerprint, hamming candidates
  *  - ngramJaccard: exact Jaccard over word n-gram sets via pair counting
  *  - embedding:   cosine near-dup over a vector column (see Ann.scala)
  */
object Dedup {

  /** Exact dedup: shuffle keyed on the 8-byte fingerprint, but the survivor
    * choice groups on `(fp, text)` — full-text equality confirms each drop,
    * so a 64-bit birthday collision (expected ~1e4 at 1e12 docs) can never
    * silently delete a non-duplicate document. The text comparison happens
    * only within fingerprint groups, which are tiny, and costs no extra
    * shuffle: hash partitioning on `fp` already co-locates every `(fp,
    * text)` group. Returns survivors `(id, text)` — min id per content
    * group wins. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(col("fp"), col(textCol)).orderBy(col(idCol))
    docs.withColumn("fp", fp)
      .repartition(col("fp"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .drop("fp", "rn")
  }

  /** Groups of exact duplicates `(fp, ids ARRAY, n)` with n > 1. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(sort_array(collect_list(col("id"))).as("ids"), count(lit(1)).as("n"))
      .where(col("n") > 1)

  // ---- MinHash + LSH --------------------------------------------------------

  /** Deterministic k-minhash signature in ONE pass over the raw text.
    *
    * Bit-identical to hashing `TextAnalysis.shingles(text, shingleK)`
    * (spec-asserted, incl. non-BMP text), but never materializes the
    * shingle strings or the distinct-array: each k-codepoint window is
    * poly-hashed in place over the text's UTF-16 units (the same units
    * `substring`-built shingle strings expose via `charAt`), then
    * splitmix-finalized and remixed per hash index. Windows advance by CODE
    * POINT to match SQL `substring`/`length` semantics — a surrogate-free
    * fast path covers ordinary text, and a start-offset table handles
    * supplementary characters. Duplicate windows are skipped via an
    * open-address set keyed on the finalized window hash: a repeated
    * shingle can't move any minimum (and even a 64-bit collision between
    * distinct shingles is harmless — the k remixes depend only on the
    * window hash). This removes the dominant allocation cost of
    * `minhashCandidates` (one String + one array entry per window) and the
    * k remixes for every repeated window. Deterministic,
    * partition-independent.
    *
    * This is the REFERENCE form (FunctionsSpec cross-checks it); the
    * operator path ([[minhashSignature]]) runs the native codegen'd
    * expression, which skips the ScalaUDF's converters and boxed
    * `Seq[Long]` return — same kernel, static-dispatched from generated
    * code ([[graft.functions.HashKernels.minhashSignature]]). */
  def minhashSignatureUdf(textCol: Column, shingleK: Int, numHashes: Int): Column = {
    val k = numHashes
    val kk = shingleK
    val sigUdf = udf { (text: String) =>
      val mins = Array.fill(k)(Long.MaxValue)
      if (text != null && text.length >= kk) {
        val n = text.length
        var surrogate = false
        var p = 0
        while (p < n) {
          val c = text.charAt(p)
          if (c >= 0xD800 && c <= 0xDFFF) { surrogate = true; p = n }
          p += 1
        }
        // code-point start offsets; null for the surrogate-free fast path
        val starts: Array[Int] =
          if (!surrogate) null
          else {
            val b = scala.collection.mutable.ArrayBuffer.empty[Int]
            var i = 0
            while (i < n) {
              b += i
              i += (if (Character.isHighSurrogate(text.charAt(i)) && i + 1 < n &&
                        Character.isLowSurrogate(text.charAt(i + 1))) 2 else 1)
            }
            b.toArray
          }
        val windows = (if (starts == null) n else starts.length) - kk + 1
        if (windows > 0) {
          // dedup table capped at 2^22 slots (32 MB/task): `windows*2-1`
          // would overflow Int past ~2^30 windows (gigabyte-scale single
          // docs), and an unbounded table is an allocation hazard anyway.
          // Past maxFill the set stops absorbing entries and later repeats
          // are simply re-minimized — harmless for correctness (re-mixing
          // an already-seen window hash cannot move any minimum) — while
          // the probe loop stays terminating because the table never
          // fills completely.
          val cap =
            if (windows >= (1 << 21)) 1 << 22
            else java.lang.Integer.highestOneBit(math.max(windows * 2 - 1, 4)) << 1
          val mask = (cap - 1).toLong
          val seen = new Array[Long](cap)
          val maxFill = cap - (cap >>> 2)
          var filled = 0
          var hasZero = false
          var w = 0
          while (w < windows) {
            var h = 1125899906842597L
            val from = if (starts == null) w else starts(w)
            val until =
              if (starts == null) w + kk
              else if (w + kk < starts.length) starts(w + kk) else n
            var j = from
            while (j < until) { h = h * 1000003L + text.charAt(j).toLong; j += 1 }
            h = graft.ingest.Pages.mix(h)
            var fresh = true
            if (h == 0L) { fresh = !hasZero; hasZero = true }
            else {
              var idx = (h & mask).toInt
              while (seen(idx) != 0L && seen(idx) != h) idx = (idx + 1) & mask.toInt
              if (seen(idx) == h) fresh = false
              else if (filled < maxFill) { seen(idx) = h; filled += 1 }
            }
            if (fresh) {
              var i = 0
              while (i < k) {
                val hi = graft.ingest.Pages.mix(h ^ (i.toLong * 0x9E3779B97F4A7C15L))
                if (hi < mins(i)) mins(i) = hi
                i += 1
              }
            }
            w += 1
          }
        }
      }
      mins.toSeq
    }
    sigUdf(textCol)
  }

  /** Operator-path minhash signature: the native codegen'd expression form
    * of [[minhashSignatureUdf]] — bit-identical (spec-asserted over
    * adversarial inputs incl. non-BMP and the capped-dedup-table giant-doc
    * case, and pinned end-to-end by the bit-exact `d_minhash_pairs`
    * oracle), with no per-row converter/boxing overhead. */
  def minhashSignature(textCol: Column, shingleK: Int, numHashes: Int): Column =
    graft.functions.GraftExpressions.minhashSignature(textCol, shingleK, numHashes)

  /** Candidate near-dup pairs via banded LSH: docs sharing any band bucket.
    * `(id1, id2)` with id1 < id2, distinct. The shuffle key is the (band,
    * bucket-hash) pair — tiny rows; text never shuffles.
    *
    * Docs with an EMPTY shingle set (text shorter than `shingleK` chars,
    * incl. null/empty) are excluded up front: a shingle-less doc has no
    * content to be "near" anything, but its signature would be the
    * all-`Long.MaxValue` vector, identical across every such doc — without
    * the filter they'd all pair with each other (spurious quadratic
    * all-pairs among short docs at scale). */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 5, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = docs
      .where(length(coalesce(col(textCol), lit(""))) >= shingleK)
      .select(col(idCol).as("id"),
        minhashSignature(col(textCol), shingleK, numHashes).as("sig"))
    val banded = sig.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
            .as("bucket")))
    ).as(Seq("i", "bb")))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
      // shuffle ONCE on the join key: both sides of the self-join below are
      // then the same canonical exchange, so Spark serves one side as a
      // ReusedExchange — the parquet scan, shingling and signature UDF run
      // once, not twice. (Without this, the planner broadcasts one side at
      // small scale — or sort-merge-joins at web scale — and either way
      // re-executes the whole signature subplan per side: 2× the dominant
      // cost of the operator on a 100 TB corpus.)
      .repartition(col("band"), col("bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Near-duplicate CLUSTERS with survivor selection — the last stage of a
    * real dedup pipeline: candidate pairs (from [[minhashCandidates]],
    * [[simhashCandidates]] or [[ngramJaccard]]) are transitively closed
    * into clusters via distributed connected components
    * ([[graft.graph.ConnectedComponents.hashMin]] — min-label propagation,
    * O(diameter) supersteps), and the minimum doc id of each cluster is
    * marked the survivor. Near-duplication is not transitive, so pairwise
    * candidates alone under-delete (A≈B, B≈C but A̸≈C still means keeping
    * one of {A,B,C}); clustering is the standard fix (MinHash dedup as in
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL'22).
    *
    * Returns one row PER INPUT DOC `(id, cluster, survivor 0/1)` — docs in
    * no candidate pair (including shingle-less short docs that
    * [[minhashCandidates]] filters out) are their own singleton cluster
    * with survivor = 1, so `where(survivor = 1)` is exactly the kept
    * corpus. The survivor of a cluster is the minimum id among the
    * cluster's members THAT APPEAR IN `docs` — for the normal case (every
    * pair endpoint is a doc id) that is exactly the cluster label, and
    * when a pair references an id absent from `docs`, the cluster still
    * keeps one real document instead of silently losing them all (the
    * min-label survivor would name the absent id). Scale shape: the CC
    * runs over the candidate-pair table (≪ the corpus — only near-dup
    * docs appear), and the per-doc join back is one shuffle keyed on the
    * 8-byte id; document text never moves.
    *
    * NOTE this call EXECUTES Spark jobs eagerly (it is not a purely lazy
    * DataFrame builder): the CC supersteps run here, and with
    * `verifyClosure = true` (default) one extra job re-joins the pair
    * table against the final labels to fail loudly if min-label
    * propagation hit `maxIters` before convergence — hashMin would
    * otherwise return part-propagated labels silently and several docs of
    * one cluster would be marked survivors. The check reads the PERSISTED
    * pair table and the localCheckpoint'd labels (no recompute of the
    * candidate-generation plan); disable it only for latency-critical
    * callers that bound cluster diameter some other way. */
  def dupClusters(spark: SparkSession, docs: DataFrame, idCol: String,
      pairs: DataFrame, maxIters: Int = 100,
      verifyClosure: Boolean = true): DataFrame = {
    // candidate generation (e.g. the whole minhash signing pipeline) is the
    // expensive subtree here, and it feeds two consumers: the CC layout
    // and the closure check. Persist
    // it once — without this each consumer re-executes the generation plan
    // (ADVICE r5: 3 re-executions measured), and at 100 TB that is 3 corpus
    // scans instead of 1. Unpersisted before return: downstream consumers
    // only read the localCheckpoint'd labels.
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val comp = try {
      val edges = p.select(col("id1").as("src"), col("id2").as("dst"))
      val comp = graft.graph.ConnectedComponents.hashMin(spark, edges, maxIters)
        .withColumnRenamed("vid", "id")
      if (verifyClosure) {
        // fail-loud closure check (see scaladoc): a pair whose endpoints
        // landed in different clusters is exactly a maxIters truncation; two
        // id-keyed joins over the (small, persisted) pair table catch it.
        val crossing = p
          .join(comp.select(col("id").as("id1"), col("component").as("c1")), Seq("id1"))
          .join(comp.select(col("id").as("id2"), col("component").as("c2")), Seq("id2"))
          .where(col("c1") =!= col("c2")).count()
        require(crossing == 0L,
          s"dupClusters: $crossing candidate pairs cross cluster boundaries — " +
            s"min-label propagation hit maxIters=$maxIters before convergence " +
            "(cluster diameter exceeds it); raise maxIters")
      }
      comp
    } finally p.unpersist()
    val docIds = docs.select(col(idCol).as("id"))
    // survivor = min id among the cluster's members PRESENT IN docs: the
    // label itself for well-formed inputs (hashMin labels with the min
    // member), computed over the small label table (pair endpoints only),
    // never over the corpus — singletons coalesce to themselves below
    val surv = comp.join(docIds, Seq("id"), "left_semi")
      .groupBy(col("component"))
      .agg(min(col("id")).as("survivorId"))
    docIds
      .join(comp, Seq("id"), "left")
      .join(surv, Seq("component"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("cluster"),
        when(col("id") === coalesce(col("survivorId"), col("id")), 1L)
          .otherwise(0L).as("survivor"))
  }

  /** Exact word-n-gram Jaccard similarity. Pair counting: |A∩B| from a
    * shingle equi-join, |A|,|B| from per-doc counts — never materializes a
    * cross join.
    *
    * Scale controls (both off by default so the exact-oracle path is
    * unchanged):
    *
    *  - `candidates`: optional `(id1, id2)` pair frame (e.g. from
    *    [[minhashCandidates]]). When given, the gram join runs only over
    *    docs appearing in some candidate pair (semi-join prune) and the
    *    result is restricted to exactly those pairs. This is the LSH-verify
    *    shape: candidates bound the quadratic term.
    *  - `maxGramDf`: drop grams whose document frequency exceeds this cap
    *    before the pair join. Without it one hot gram in 1e6 docs creates
    *    1e12 join pairs. A capped gram contributes to neither |A∩B| nor the
    *    sizes (both sides consistently), so Jaccard is computed exactly on
    *    the capped gram sets — standard verify practice; document the cap
    *    when reporting similarity semantics.
    *
    * When `minJaccard > 0` and no candidate frame is given, candidate pairs
    * come from LOSSLESS prefix filtering (AllPairs, Bayardo et al. WWW'07):
    * grams get a global canonical order (document frequency asc, then gram),
    * each doc keeps only its first `|d| - ceil(t*|d|) + 1` grams in that
    * order, and only prefixes are pair-joined — any pair with Jaccard ≥ t
    * must share a gram inside both prefixes, so no qualifying pair is lost,
    * while the hot-gram quadratic blow-up (common grams sort LAST and fall
    * outside most prefixes) never reaches the join. A size filter
    * (`t·|A| ≤ |B| ≤ |A|/t`) prunes inside the join, and the final Jaccard
    * is verified exactly on the full gram sets, so the output is identical
    * to the brute-force pair counting (spec-asserted). This is the 100 TB
    * default: the only quadratic step runs over rarest-first prefixes.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.0,
      candidates: Option[DataFrame] = None, maxGramDf: Long = 0L): DataFrame = {
    val grams0 = docs.select(col(idCol).as("id"),
        explode(TextAnalysis.distinctWordNgrams(col(textCol), n)).as("g"))
    val grams1 = candidates match {
      case Some(c) =>
        val ids = c.select(col("id1").as("id"))
          .union(c.select(col("id2").as("id"))).distinct()
        grams0.join(ids, Seq("id"), "left_semi")
      case None => grams0
    }
    // Materialize the scan + ngram explode ONCE: every downstream consumer
    // (per-doc counts, gram document frequencies, the prefix join, the two
    // exact-verify joins — and the hot-gram filter when maxGramDf is set)
    // references this same exchange subtree, so the physical plan serves
    // them all from one ReusedExchange instead of re-running the document
    // scan and gram explosion per consumer (5 rescans of a 100 TB corpus
    // otherwise; same shape as minhashCandidates' single-shuffle self-join).
    // Keyed by gram because the AllPairs core (df counts + prefix join) is
    // the g-clustered hot path; id-keyed consumers re-shuffle the exchange
    // OUTPUT, never the scan. The explicit not-null filter is a semantic
    // no-op (explode yields no null grams, ids come from the scan) but
    // load-bearing for the reuse: join consumers infer isnotnull(g)/
    // isnotnull(id) and push them BELOW the exchange, while aggregate-only
    // consumers (per-doc counts, gram dfs) don't — leaving the subtrees
    // canonically different, which defeats the exchange dedup. Stating the
    // filters once here makes every consumer's exchange subtree identical.
    val gramsR = grams1
      .where(col("g").isNotNull && col("id").isNotNull)
      .repartition(col("g"))
    val grams =
      if (maxGramDf <= 0L) gramsR
      else {
        // count("id"), not count(1): id is non-null so they're equal, but
        // count(1) lets column pruning drop id below the shared exchange,
        // leaving this branch's subtree canonically different from the
        // join consumers' — which defeats the exchange reuse (same for
        // gdf below).
        val hot = gramsR.groupBy("g").agg(count(col("id")).as("gdf"))
          .where(col("gdf") > maxGramDf).select("g")
        gramsR.join(hot, Seq("g"), "left_anti")
      }
    val counts = grams.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter0 =
      if (minJaccard > 0.0 && candidates.isEmpty) {
        // AllPairs prefix filtering (lossless — see scaladoc). ceil args get
        // a -1e-9 nudge so an FP wobble can only LENGTHEN a prefix / WEAKEN
        // the size filter, never lose a qualifying pair.
        val t = lit(minJaccard)
        val gdf = grams.groupBy("g").agg(count(col("id")).as("gdf"))
        val prefix = grams.join(gdf, "g")
          .withColumn("pos", row_number().over(
            Window.partitionBy("id").orderBy(col("gdf"), col("g"))))
          .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
          .where(col("pos") <= col("sz") - ceil(t * col("sz") - lit(1e-9)) + 1)
          .select(col("id"), col("g"), col("sz"))
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
              col("b.sz") >= ceil(t * col("a.sz") - lit(1e-9)) &&
              col("a.sz") >= ceil(t * col("b.sz") - lit(1e-9)))
          .select(col("a.id").as("id1"), col("b.id").as("id2"))
          .distinct()
        // exact verify over the FULL gram sets, restricted to candidates
        cand.join(grams.select(col("id").as("id1"), col("g")), Seq("id1"))
          .join(grams.select(col("id").as("id2"), col("g")), Seq("id2", "g"))
          .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      } else grams.as("a").join(grams.as("b"),
          col("a.g") === col("b.g") && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
        .agg(count(lit(1)).as("inter"))
    val inter = candidates match {
      case Some(c) => inter0.join(
        c.select(least(col("id1"), col("id2")).as("id1"),
          greatest(col("id1"), col("id2")).as("id2")).distinct(),
        Seq("id1", "id2"), "left_semi")
      case None => inter0
    }
    inter
      .join(counts.select(col("id").as("id1"), col("sz").as("sz1")), "id1")
      .join(counts.select(col("id").as("id2"), col("sz").as("sz2")), "id2")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select("id1", "id2", "jaccard")
  }

  // ---- SimHash --------------------------------------------------------------

  /** 64-bit SimHash over tokens: per bit, vote +1/-1 by token-hash bit,
    * fingerprint bit = sign of the vote sum. Reference UDF form (one pass
    * over the token array, 64-int accumulator — no 64-column plan); the
    * operator path ([[simhash]]) runs the native codegen'd expression. */
  val simhashUdf = udf { (toks: Seq[String]) =>
    val votes = new Array[Int](64)
    if (toks != null) toks.foreach { t =>
      // splitmix64 of the token's polynomial hash — deterministic
      var h = 1125899906842597L
      var i = 0
      while (i < t.length) { h = h * 1000003L + t.charAt(i).toLong; i += 1 }
      h = graft.ingest.Pages.mix(h)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) > 0) fp |= (1L << bit); bit += 1 }
    fp
  }

  /** [[simhashUdf]] is the reference form (FunctionsSpec cross-checks it);
    * the operator path runs the native codegen'd expression, which reads
    * token ArrayData in place — no Seq[String] materialization per row. */
  def simhash(textCol: Column): Column =
    graft.functions.GraftExpressions.simhash64(TextAnalysis.tokens(textCol))

  /** SimHash near-dup pairs within `maxHamming` bits over `(id, text)`
    * docs — fingerprints computed here, then [[simhashCandidatesFp]]. */
  def simhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, numBlocks: Int = 0): DataFrame =
    simhashCandidatesFp(
      docs.select(col(idCol).as("id"), simhash(col(textCol)).as("fp")),
      maxHamming, numBlocks)

  /** All pairs within `maxHamming` bits of 64-bit fingerprints `(id, fp)`,
    * via pigeonhole blocking: the fingerprint splits into `numBlocks`
    * contiguous bit blocks, and a pair differing in at most `numBlocks - 1`
    * bits must agree on at least one whole block — so candidates come from
    * an equi-join on (block index, block value), never all-pairs, and the
    * exact hamming filter runs only on candidates.
    *
    * `numBlocks = 0` (default) derives `maxHamming + 1` blocks, which makes
    * recall COMPLETE for the requested radius: the result is exactly the
    * set of pairs within `maxHamming` bits. Passing a smaller explicit
    * `numBlocks` trades recall for candidate volume (guarantee then holds
    * only to `numBlocks - 1` bits; beyond that recall is heuristic).
    *
    * Scale note (the 100-TB lens): block width is `64 / numBlocks`, so the
    * value space per block is `2^(64/numBlocks)`. At `maxHamming = 3` the
    * four 16-bit blocks give 65k buckets per block index — comfortably
    * selective. At `maxHamming = 8` the nine 7-bit blocks have only 128
    * values each, so on a billion-doc corpus every bucket holds ~10^7 docs
    * and the equi-join is degenerate; for large radii at web scale use the
    * permuted-table scheme (sort by rotated fingerprint, Manku et al.) or
    * cap radius. The complete-recall default is the correct *semantics*
    * anchor — the oracle checks the contract, not the blocking. */
  def simhashCandidatesFp(withFp: DataFrame, maxHamming: Int,
      numBlocks: Int = 0): DataFrame = {
    // 64 one-bit blocks can only guarantee recall to 63 differing bits, so
    // the complete-recall contract silently breaks at maxHamming >= 64
    // (two complementary fingerprints agree on no block). Radius >= 64 is
    // also meaningless for 64-bit fingerprints — every pair qualifies;
    // fail loudly rather than return a silently incomplete candidate set.
    require(maxHamming >= 0 && maxHamming <= 63,
      s"simhash radius must be 0..63 for 64-bit fingerprints, got " +
        s"$maxHamming (>= 64 would mean 'all pairs' — no blocking scheme " +
        "can serve that; use a cross join deliberately if you mean it)")
    val nb = if (numBlocks > 0) numBlocks else maxHamming + 1
    require(nb >= 1 && nb <= 64, s"simhash blocking needs 1..64 blocks, got $nb")
    val base = 64 / nb
    val rem = 64 % nb
    val widths = Array.tabulate(nb)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val blockCols = (0 until nb).map { q =>
      val mask = if (widths(q) == 64) -1L else (1L << widths(q)) - 1L
      shiftright(col("fp"), offsets(q)).bitwiseAND(lit(mask))
    }
    val blocks = withFp.select(col("id"), col("fp"),
      posexplode(array(blockCols: _*)).as(Seq("q", "qv")))
      // same single-shuffle self-join shape as minhashCandidates: one
      // exchange on the join key, the other side a ReusedExchange — the
      // fingerprint subplan (simhash UDF over every token at web scale)
      // executes once, not once per join side
      .repartition(col("q"), col("qv"))
    val ham = (a: Column, b: Column) => bit_count(a.bitwiseXOR(b))
    blocks.as("a").join(blocks.as("b"),
        col("a.q") === col("b.q") && col("a.qv") === col("b.qv")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        ham(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
