package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's hottest scalar kernels —
  * document fingerprinting, SimHash, and the per-pair dot product.
  *
  * Why expressions and not UDFs (the 100-TB lens): a `ScalaUDF` in a
  * whole-stage-codegen'd operator pays, per row, a catalyst-to-Scala
  * converter on every argument, a `java.lang.String` materialization of each
  * UTF8String, boxed returns, and a megamorphic `function.apply` dispatch.
  * These nodes generate a direct static call into [[HashKernels]] inside the
  * produced Java (`doGenCode`), read UTF8String/ArrayData storage in place,
  * and return primitives — nothing is allocated on the per-row path for
  * fingerprint/simhash, and the per-PAIR dot product drops the zipped
  * intermediate array the `aggregate(zip_with(...))` higher-order form (which
  * never codegens — HigherOrderFunction is interpreted-only) built per
  * candidate pair.
  *
  * Bit-identity with the UDF/HOF forms they replace is the contract:
  * spec-asserted in FunctionsSpec over adversarial inputs (non-BMP,
  * surrogates, empty, null), and pinned end-to-end by the driver's bit-exact
  * DuckDB oracles (t_fingerprint, d_exact_dedup, d_simhash, e_lsh_top1).
  */
object GraftExpressions {

  /** `Column` wrapper: 64-bit polynomial fingerprint of a string (null → 0,
    * matching the UDF form's null contract). */
  def fingerprint64(text: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    coalesce(
      GraftSqlBridge.column(Fingerprint64(GraftSqlBridge.expression(text))),
      lit(0L))
  }

  /** `Column` wrapper: 64-bit SimHash of a token array (null array → 0,
    * matching the UDF form, whose zero-vote path yields 0). */
  def simhash64(toks: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    coalesce(
      GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(toks))),
      lit(0L))
  }

  /** `Column` wrapper: whitespace tokens of a string (null → null, matching
    * the regex/HOF form's propagation). */
  def whitespaceTokens(text: Column): Column =
    GraftSqlBridge.column(WhitespaceTokens(GraftSqlBridge.expression(text)))

  /** `Column` wrapper: deterministic k-minhash signature over every distinct
    * `shingleK`-code-point window of the text (see
    * [[HashKernels.minhashSignature]]). Null text coalesces to `""` first —
    * both yield the all-`Long.MaxValue` signature (no window reaches any
    * minimum), matching the reference UDF's explicit null branch; the
    * `shingleK >= 1` guard is what makes that equivalence hold. */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column = {
    require(shingleK >= 1, s"minhash shingleK must be >= 1, got $shingleK")
    require(numHashes >= 1, s"minhash numHashes must be >= 1, got $numHashes")
    import org.apache.spark.sql.functions.{coalesce, lit}
    GraftSqlBridge.column(MinHashSig(
      GraftSqlBridge.expression(coalesce(text, lit(""))), shingleK, numHashes))
  }

  /** `Column` wrapper: word n-grams of a token array. Null token array →
    * EMPTY gram array (not null): in the higher-order reference form
    * `size(null)` is null, the `when(m >= 1, ...)` predicate is therefore
    * not true, and evaluation falls into the `otherwise` empty-array
    * branch — so null-in never propagated null-out; the coalesce preserves
    * that contract bit-for-bit. */
  def wordNgrams(toks: Column, n: Int, distinct: Boolean = false): Column = {
    require(n >= 1, s"wordNgrams n must be >= 1, got $n")
    import org.apache.spark.sql.functions.{array, coalesce}
    GraftSqlBridge.column(WordNgrams(
      GraftSqlBridge.expression(coalesce(toks, array().cast("array<string>"))),
      n, distinct))
  }

  /** `Column` wrapper: count of tokens that are stopwords of `lang`
    * (occurrences, duplicates included). Null token array → null,
    * matching the HOF chain's propagation. */
  def stopHits(toks: Column, lang: String): Column =
    GraftSqlBridge.column(StopHits(GraftSqlBridge.expression(toks), lang))

  /** `Column` wrapper: heuristic language ID over a token array. Null
    * token array → `"und"`, matching the reference UDF's null branch. */
  def langId(toks: Column): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    coalesce(
      GraftSqlBridge.column(LangId(GraftSqlBridge.expression(toks))),
      lit("und"))
  }

  /** `Column` wrapper: unit-normalize a numeric array to a double array
    * (see [[HashKernels.normalizeVec]]); same float-widening cast
    * convention as [[dot]]. */
  def normalize(vec: Column): Column =
    GraftSqlBridge.column(NormalizeVec(
      GraftSqlBridge.expression(vec.cast("array<double>"))))

  /** `Column` wrapper: sequential dot product over two double arrays. The
    * cast to `array<double>` is a no-op for already-double inputs (removed
    * by SimplifyCasts) and the same per-element widening `zip_with`'s
    * `cast("double")` applied for float inputs. */
  def dot(x: Column, y: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(x.cast("array<double>")),
      GraftSqlBridge.expression(y.cast("array<double>"))))

  /** `Column` wrapper: random-hyperplane LSH signature of a numeric vector
    * (see [[HashKernels.hyperplaneSig]]); the `array<double>` cast is the
    * same float-widening the scalar UDF's `Seq[Double]` parameter forced.
    * Null vector coalesces to 0L, matching the UDF's explicit null branch
    * (zero sign bits). */
  def hyperplaneSignature(vec: Column, numPlanes: Int, planeOffset: Int): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    coalesce(
      GraftSqlBridge.column(HyperplaneSig(
        GraftSqlBridge.expression(vec.cast("array<double>")),
        numPlanes, planeOffset)),
      lit(0L))
  }

  /** `Column` wrapper: max frequency of any element of a string array =
    * longest equal run of its sorted order (see
    * [[HashKernels.maxSortedRun]]). Null array in → null out (the caller's
    * `when(size(b) > 0, ...)` guard handles the empty/null contract). */
  def maxSortedRun(arr: Column): Column =
    GraftSqlBridge.column(MaxSortedRun(GraftSqlBridge.expression(arr)))
}

/** Whitespace tokenizer (see [[HashKernels.whitespaceTokens]]) — maximal
  * runs of non-`\s` characters, bit-identical to the
  * `filter(split(trim(text), "\\s+"), length > 0)` form every oracle
  * replays. Null in → null out (same as the regex form's null propagation).
  * Codegen'd, so tokenize → count/hash pipelines stay in one whole-stage
  * loop instead of falling back to the interpreted higher-order `filter`. */
case class WhitespaceTokens(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.whitespaceTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.whitespaceTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
    copy(child = newChild)
}

/** 64-bit polynomial rolling hash of a string's UTF-16 code units
  * (see [[HashKernels.polyHash]]). Null in → null out (wrap in coalesce for
  * the UDF's null → 0 contract). */
case class Fingerprint64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fingerprint64"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.polyHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): Fingerprint64 =
    copy(child = newChild)
}

/** 64-bit SimHash of an `array<string>` token column
  * (see [[HashKernels.simhash]]). Null array in → null out. */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Word n-grams of an `array<string>` token column — gram `i` joins tokens
  * `i..i+n-1` with a single space; `distinct = true` fuses `array_distinct`
  * (first-occurrence order) so duplicate gram strings are never built (see
  * [[HashKernels.wordNgrams]]). Replaces an interpreted `transform`/
  * `sequence`/`slice`/`concat_ws` higher-order chain on the hottest dedup
  * path (n-gram Jaccard gram explosion). Null array in → null out at the
  * expression level; the Column wrapper coalesces null to an empty array
  * for parity with the HOF form's `size(null) = -1` empty branch. */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.wordNgrams(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.wordNgrams($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Deterministic k-minhash signature of a string — `numHashes` longs, the
  * minima over every distinct `shingleK`-code-point window's remixed hash
  * (see [[HashKernels.minhashSignature]]). The window loop runs per ROW over
  * potentially megabytes of text, which is exactly where the ScalaUDF tax
  * (converter + boxed `Seq[Long]` + megamorphic dispatch) compounds at
  * 100 TB. Null in → null out; the Column wrapper coalesces null text to ""
  * for the reference UDF's null contract. `shingleK`/`numHashes` are plan
  * constants baked into the generated call site. */
case class MinHashSig(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.minhashSignature(input.asInstanceOf[UTF8String], shingleK, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.minhashSignature($c, $shingleK, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Stopword-hit count of an `array<string>` token column for one language
  * (see [[HashKernels.stopHits]]) — replaces the interpreted
  * `size(filter(transform(toks, lower), isin(...)))` higher-order chain on
  * the per-document quality-scoring path: one pass, one static set probe
  * per token, no lambda frames, no lowered-copy array. `lang` is a plan
  * constant resolved to a set index at construction (unknown languages
  * fail loudly here, not per row). Null array in → null out. */
case class StopHits(child: Expression, lang: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(HashKernels.hasStops(lang),
    s"no embedded stopword list for language '$lang'")
  private val langIdx = HashKernels.langIndex(lang)
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_stophits"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.stopHits(input.asInstanceOf[ArrayData], langIdx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.stopHits($c, $langIdx)")

  override protected def withNewChildInternal(newChild: Expression): StopHits =
    copy(child = newChild)
}

/** Heuristic language ID of an `array<string>` token column (see
  * [[HashKernels.langId]]) — the native form of the reference scalar UDF:
  * sorted-language strict argmax of stopword hits, `und` when nothing
  * hits. Null array in → null out; the Column wrapper coalesces to
  * `"und"` for the UDF's null contract. */
case class LangId(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_langid"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.langId(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.langId($c)")

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** Unit-normalization of an `array<double>` column — ascending-index
  * sum-of-squares fold, `sqrt`, per-element divide (see
  * [[HashKernels.normalizeVec]]; bit-identical to the bind-once
  * higher-order form, incl. its null-element edge, and fail-loud on a
  * non-empty zero vector exactly as the HOF form's ANSI division is).
  * Runs once per ROW on every ANN path (brute-force, LSH, IVF, cosine
  * near-dup), where the interpreted `transform(array(sqrt(agg)), ...)`
  * chain was the last per-row higher-order evaluation in the engine.
  * Null array in → null out (same as the HOF form). */
case class NormalizeVec(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_normalize"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.normalizeVec(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.normalizeVec($c)")

  override protected def withNewChildInternal(newChild: Expression): NormalizeVec =
    copy(child = newChild)
}

/** Sequential ascending-index dot product of two `array<double>` columns —
  * the same left fold (same FP rounding order) as
  * `aggregate(zip_with(x, y, (p,q) => p*q), 0.0, (acc,v) => acc+v)`, with the
  * same null semantics: null whenever either array is null, the lengths
  * differ, or any element is null (zip_with pads the shorter side with nulls
  * and one null product nulls the whole fold). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (HashKernels.dotDefined(x, y)) HashKernels.dot(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |if (graft.functions.HashKernels.dotDefined($a, $b)) {
         |  ${ev.value} = graft.functions.HashKernels.dot($a, $b);
         |} else {
         |  ${ev.isNull} = true;
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature of an `array<double>` column — the
  * native form of the scalar signature UDF in [[graft.pipeline.Ann]]
  * (see [[HashKernels.hyperplaneSig]]: identical splitmix plane family,
  * identical ascending-dim fold, bit-identical sign bits — pinned by the
  * e_lsh_top1 oracle). Runs `numPlanes` O(d) projections per ROW on every
  * LSH path, which is exactly where the ScalaUDF tax (converter + boxed
  * Seq + megamorphic dispatch) compounds at 100 TB. Null in → null out;
  * the Column wrapper coalesces to 0L for the UDF's null contract.
  * `numPlanes`/`planeOffset` are plan constants baked into the generated
  * call site. */
case class HyperplaneSig(child: Expression, numPlanes: Int, planeOffset: Int)
    extends UnaryExpression with ExpectsInputTypes {
  // the sign bits pack into one long: `1L << p` wraps past plane 63
  require(numPlanes >= 1 && numPlanes <= 64,
    s"hyperplane numPlanes must be in 1..64, got $numPlanes")
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hyperplane_sig"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.hyperplaneSig(input.asInstanceOf[ArrayData], numPlanes, planeOffset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashKernels.hyperplaneSig($c, $numPlanes, $planeOffset)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Max element frequency of an `array<string>` column, computed as the
  * longest equal run of the sorted array (see [[HashKernels.maxSortedRun]];
  * integer-valued, order-of-sort invariant). The native form of the
  * interpreted `aggregate(sort_array(b), struct(prev, run, best), ...)`
  * higher-order fold on the repetition-signals path — HigherOrderFunction
  * never codegens, and that fold allocated a struct per ELEMENT per row.
  * Null array in → null out. */
case class MaxSortedRun(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_max_sorted_run"

  protected override def nullSafeEval(input: Any): Any =
    HashKernels.maxSortedRun(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.maxSortedRun($c)")

  override protected def withNewChildInternal(newChild: Expression): MaxSortedRun =
    copy(child = newChild)
}
