package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, Expression, If, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's native scalar functions, each defined once in [[table]]:
  * its SQL name, usage string and the builder that turns argument
  * expressions into a Spark `StaticInvoke` of a [[HashKernels]] method.
  * Both surfaces take the builder from the table — the Column API below
  * applies it directly to its arguments' expressions (no registry lookup,
  * so sessions built without the extension work too), and
  * [[GraftExtensions]] injects the same table into the session registry.
  *
  * Why static calls and not UDFs: a `ScalaUDF` in a whole-stage-codegen'd
  * operator pays, per row, a catalyst-to-Scala converter on every argument,
  * a `java.lang.String` materialization of each UTF8String, boxed returns,
  * and a megamorphic `function.apply` dispatch; the higher-order forms
  * (`transform`, `aggregate`, `filter`) never codegen at all.
  * `StaticInvoke` generates a direct `graft.functions.HashKernels.<method>`
  * call in the produced Java, reads UTF8String/ArrayData storage in place
  * and returns primitives; literal arguments are inlined at the call site.
  * A null argument yields null; each builder adds its function's null
  * contract on top.
  *
  * Bit-identity with the UDF/HOF reference forms is the contract:
  * spec-asserted in FunctionsSpec over adversarial inputs (non-BMP,
  * surrogates, empty, null), and pinned end-to-end by the bit-exact DuckDB
  * oracles of `SparkEntry.oracleSql` (t_fingerprint, d_exact_dedup,
  * d_simhash, d_minhash_pairs, e_lsh_top1).
  */
object GraftExpressions {

  /** One native function: SQL name, registry usage string, and the builder
    * both surfaces apply to the argument expressions. */
  final case class NativeFunction(
      name: String, usage: String, build: Seq[Expression] => Expression)

  private val strings = ArrayType(StringType)
  private val tokensType = ArrayType(StringType, containsNull = false)
  private val doubles = ArrayType(DoubleType)

  /** `HashKernels.<method>(args)`; each argument carries its input type. */
  private def kernel(method: String, dataType: DataType,
      args: (Expression, DataType)*): Expression =
    StaticInvoke(HashKernels.getClass, dataType, method,
      args.map(_._1), args.map(_._2), returnNullable = false)

  private def orElse(e: Expression, default: Any): Expression =
    Coalesce(Seq(e, Literal(default)))

  /** The `array<double>` widening the reference forms' `Seq[Double]`
    * parameters and `cast("double")` elements applied; a no-op for double
    * arrays (removed by SimplifyCasts). */
  private def widen(e: Expression): Expression = Cast(e, doubles)

  private def fn(name: String, usage: String, params: String*)(
      build: PartialFunction[Seq[Expression], Expression]): NativeFunction =
    NativeFunction(name, usage, { args =>
      require(args.length == params.length,
        s"$name expects ${params.length} arguments (${params.mkString(", ")}), got ${args.length}")
      build(args)
    })

  /** A plan constant: the kernels take it as an inlined call-site value. */
  private def literal[T](name: String, param: String, kind: String, e: Expression)(
      value: PartialFunction[Any, T]): T = e match {
    case Literal(v, _) if value.isDefinedAt(v) => value(v)
    case _ => throw new IllegalArgumentException(
      s"$name: $param must be $kind literal, got $e")
  }
  private def intArg(name: String, param: String, e: Expression): Int =
    literal(name, param, "an integer", e) { case v: Int => v }

  val table: Seq[NativeFunction] = Seq(
    // null → 0, as the fingerprint UDF's explicit null branch
    fn("graft_fingerprint64",
      "_FUNC_(text) - 64-bit polynomial rolling hash of the string's UTF-16 code units; null -> 0",
      "text") { case Seq(text) =>
      orElse(kernel("polyHash", LongType, text -> StringType), 0L)
    },
    // null → 0, as the simhash UDF, whose zero-vote path yields 0
    fn("graft_simhash64",
      "_FUNC_(tokens) - 64-bit SimHash of an array<string>; null -> 0",
      "tokens") { case Seq(toks) =>
      orElse(kernel("simhash", LongType, toks -> strings), 0L)
    },
    // null → null, as the regex/HOF tokenizer; codegen'd, so tokenize →
    // count/hash pipelines stay in one whole-stage loop
    fn("graft_tokens",
      "_FUNC_(text) - whitespace tokens (maximal runs of non-\\s characters); null -> null",
      "text") { case Seq(text) =>
      kernel("whitespaceTokens", tokensType, text -> StringType)
    },
    // null text → "": both give the all-Long.MaxValue signature (no window
    // reaches any minimum), the reference UDF's null branch; `shingleK >= 1`
    // is what makes that equivalence hold. The window loop runs per row
    // over potentially megabytes of text, where the UDF tax compounds.
    fn("graft_minhash",
      "_FUNC_(text, shingleK, numHashes) - k-minhash signature (array<bigint>) over distinct shingleK-codepoint windows; integer literals >= 1",
      "text", "shingleK", "numHashes") { case Seq(text, k, n) =>
      val (kk, nn) = (intArg("graft_minhash", "shingleK", k), intArg("graft_minhash", "numHashes", n))
      require(kk >= 1 && nn >= 1, s"graft_minhash: shingleK/numHashes must be >= 1, got $kk/$nn")
      kernel("minhashSignature", ArrayType(LongType, containsNull = false),
        orElse(text, "") -> StringType,
        Literal(kk) -> IntegerType, Literal(nn) -> IntegerType)
    },
    // null → empty array: in the HOF reference `size(null)` is null, so its
    // `when(m >= 1, ...)` falls into the empty `otherwise` branch.
    // `distinct` fuses `array_distinct` (first-occurrence order), so
    // duplicate grams are never built.
    fn("graft_word_ngrams",
      "_FUNC_(tokens, n, distinct) - word n-grams of an array<string> (space-joined windows of n tokens); n an integer literal >= 1, distinct a boolean literal",
      "tokens", "n", "distinct") { case Seq(toks, n, distinct) =>
      val nn = intArg("graft_word_ngrams", "n", n)
      require(nn >= 1, s"graft_word_ngrams: n must be >= 1, got $nn")
      val d = literal("graft_word_ngrams", "distinct", "a boolean", distinct) { case v: Boolean => v }
      kernel("wordNgrams", tokensType,
        Coalesce(Seq(toks, Literal.create(Array.empty[String], tokensType))) -> strings,
        Literal(nn) -> IntegerType, Literal(d) -> BooleanType)
    },
    // null → null, as the HOF chain; one pass, one set probe per token.
    // Unknown languages fail when the call is built, not per row.
    fn("graft_stophits",
      "_FUNC_(tokens, lang) - count of tokens that are stopwords of lang (a string literal with an embedded list); null -> null",
      "tokens", "lang") { case Seq(toks, lang) =>
      val l = literal("graft_stophits", "lang", "a string", lang) { case v: UTF8String => v.toString }
      require(HashKernels.hasStops(l), s"no embedded stopword list for language '$l'")
      kernel("stopHits", IntegerType, toks -> strings,
        Literal(HashKernels.langIndex(l)) -> IntegerType)
    },
    // null → "und", as the reference UDF's null branch
    fn("graft_langid",
      "_FUNC_(tokens) - heuristic language ID over an array<string> (stopword-hit argmax); 'und' when nothing hits or tokens is null",
      "tokens") { case Seq(toks) =>
      orElse(kernel("langId", StringType, toks -> strings), "und")
    },
    // null → null, as the HOF form; was the last per-row higher-order
    // evaluation on every ANN path
    fn("graft_normalize",
      "_FUNC_(vec) - unit-normalize a numeric array to array<double>; fails on a non-empty zero vector; null -> null",
      "vec") { case Seq(vec) =>
      kernel("normalizeVec", doubles, widen(vec) -> doubles)
    },
    // null whenever `aggregate(zip_with(x, y, _ * _), 0.0, _ + _)` is: either
    // array null, lengths differ, or any element null. Per candidate pair,
    // without the zipped intermediate array the HOF form built.
    fn("graft_dot",
      "_FUNC_(x, y) - sequential ascending-index dot product of two numeric arrays; null unless both are non-null, equal-length and null-free",
      "x", "y") { case Seq(x, y) =>
      val args = Seq(widen(x) -> doubles, widen(y) -> doubles)
      If(kernel("dotDefined", BooleanType, args: _*), kernel("dot", DoubleType, args: _*),
        Literal(null, DoubleType))
    },
    // null → 0 (zero sign bits), as the scalar UDF's null branch; the sign
    // bits pack into one long, where `1L << p` wraps past plane 63
    fn("graft_hyperplane_sig",
      "_FUNC_(vec, numPlanes, planeOffset) - random-hyperplane LSH signature (bigint) of a numeric array; numPlanes an integer literal in 1..64; null -> 0",
      "vec", "numPlanes", "planeOffset") { case Seq(vec, planes, offset) =>
      val p = intArg("graft_hyperplane_sig", "numPlanes", planes)
      require(p >= 1 && p <= 64, s"hyperplane numPlanes must be in 1..64, got $p")
      orElse(kernel("hyperplaneSig", LongType, widen(vec) -> doubles, Literal(p) -> IntegerType,
        Literal(intArg("graft_hyperplane_sig", "planeOffset", offset)) -> IntegerType), 0L)
    },
    // null → null; replaces the interpreted
    // `aggregate(sort_array(b), struct(prev, run, best), ...)` fold, which
    // allocated a struct per element per row
    fn("graft_max_sorted_run",
      "_FUNC_(arr) - max element frequency of an array<string> (longest equal run of its sorted order); null -> null",
      "arr") { case Seq(arr) =>
      kernel("maxSortedRun", IntegerType, arr -> strings)
    })

  private val byName: Map[String, NativeFunction] = table.map(f => f.name -> f).toMap

  private def call(name: String, args: Expression*): Column =
    GraftSqlBridge.column(byName(name).build(args))

  private def e(c: Column): Expression = GraftSqlBridge.expression(c)

  // Column API: each method applies its `table` row's builder directly

  def fingerprint64(text: Column): Column = call("graft_fingerprint64", e(text))
  def simhash64(toks: Column): Column = call("graft_simhash64", e(toks))
  def whitespaceTokens(text: Column): Column = call("graft_tokens", e(text))
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    call("graft_minhash", e(text), Literal(shingleK), Literal(numHashes))
  def wordNgrams(toks: Column, n: Int, distinct: Boolean = false): Column =
    call("graft_word_ngrams", e(toks), Literal(n), Literal(distinct))
  def stopHits(toks: Column, lang: String): Column =
    call("graft_stophits", e(toks), Literal(lang))
  def langId(toks: Column): Column = call("graft_langid", e(toks))
  def normalize(vec: Column): Column = call("graft_normalize", e(vec))
  def dot(x: Column, y: Column): Column = call("graft_dot", e(x), e(y))
  def hyperplaneSignature(vec: Column, numPlanes: Int, planeOffset: Int): Column =
    call("graft_hyperplane_sig", e(vec), Literal(numPlanes), Literal(planeOffset))
  def maxSortedRun(arr: Column): Column = call("graft_max_sorted_run", e(arr))
}
