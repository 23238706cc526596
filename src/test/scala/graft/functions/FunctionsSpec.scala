package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.Dedup
import graft.text.TextAnalysis

/** Bit-identity of the native functions against the scalar-UDF /
  * higher-order forms they replace, over adversarial inputs; agreement of
  * their SQL and Column surfaces; and the codegen assertion (the whole
  * point of the native functions is staying inside whole-stage codegen with
  * zero per-row allocation).
  */
class FunctionsSpec extends SparkSpec {

  // Adversarial corpus: ASCII, BMP unicode, non-BMP (surrogate pairs in the
  // Java string), lone surrogates (Java encodes them to '?' on the way into
  // UTF8String — both paths must hash the round-tripped form), empties, long
  // repetitive text, every power-of-two length boundary near the decoder's
  // branch points.
  private def adversarial: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val basic = Seq(
      "", " ", "a", "hello world", "the quick brown fox",
      "héllo wörld ünïcode", "日本語のテキスト", "русский текст",
      "emoji \ud83d\ude00\ud83e\udd16 mixed", "\ud83d\ude00",
      "math 𝕊𝕡𝕒𝕣𝕜 letters", "tab\tnewline\nmixed",
      "lone high \ud800 surrogate", "lone low \udc00 surrogate",
      "\udc00\ud800 reversed pair", "ascii with ß and ñ",
      "\u0000 nul char", "\u007f\u0080\u07ff\u0800\uffff boundaries")
    val fuzz = (0 until 200).map { _ =>
      val len = rnd.nextInt(50)
      new String((0 until len).map { _ =>
        rnd.nextInt(3) match {
          case 0 => (rnd.nextInt(95) + 32).toChar // ASCII
          case 1 => (rnd.nextInt(0x700) + 0x80).toChar // 2-byte UTF-8
          case _ => (rnd.nextInt(0xF000) + 0x800).toChar // 3-byte (may hit surrogates)
        }
      }.toArray)
    }
    val pairs = (0 until 50).map { i =>
      val cp = 0x10000 + rnd.nextInt(0xFFFF)
      s"pre${new String(Character.toChars(cp))}post$i"
    }
    basic ++ fuzz ++ pairs
  }

  private def messages(t: Throwable): List[String] =
    if (t == null) Nil else Option(t.getMessage).toList ++ messages(t.getCause)

  /** Asserts that the Column call and the SQL query both fail, each with a
    * message naming `what`. */
  private def bothReject(what: String)(column: => Any, sql: String): Unit = {
    val c = intercept[IllegalArgumentException](column)
    assert(c.getMessage.contains(what), c.getMessage)
    val q = intercept[Exception](spark.sql(sql).collect())
    assert(messages(q).exists(_.contains(what)), q.toString)
  }

  test("Fingerprint64 expression is bit-identical to the fingerprint UDF") {
    val s = spark
    import s.implicits._
    // the UDF handles null explicitly (null -> 0L) and the native wrapper
    // coalesces to 0L, so plain equality covers the null row too
    val df = (adversarial :+ null).toDF("text")
    val both = df.select(
      TextAnalysis.fingerprintUdf(col("text")).as("udf"),
      GraftExpressions.fingerprint64(col("text")).as("native"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"fingerprint mismatch on row $r")
    }
  }

  test("SimHash64 expression is bit-identical to the simhash UDF") {
    val s = spark
    import s.implicits._
    val df = (adversarial.filter(_ != null) :+ "").toDF("text")
    val toks = TextAnalysis.tokens(col("text"))
    val both = df.select(
      Dedup.simhashUdf(toks).as("udf"),
      GraftExpressions.simhash64(toks).as("native"))
    both.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"simhash mismatch on $r")
    }
  }

  test("MinHashSig expression is bit-identical to the windowed signature UDF") {
    val s = spark
    import s.implicits._
    // adversarial already covers non-BMP pairs, lone surrogates and fuzz; a
    // small-alphabet tail forces duplicate windows through the dedup table
    val rnd = new scala.util.Random(13)
    val dups = (0 until 30).map { _ =>
      (0 until rnd.nextInt(80)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }
    val df = (adversarial ++ dups :+ null).toDF("text")
    for (kk <- Seq(3, 5); k <- Seq(4, 12)) {
      val both = df.select(
        Dedup.minhashSignatureUdf(col("text"), kk, k).as("udf"),
        GraftExpressions.minhashSignature(col("text"), kk, k).as("native"))
      both.collect().foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          s"minhash mismatch at kk=$kk k=$k on $r")
      }
    }
  }

  test("WhitespaceTokens expression is bit-identical to the regex/HOF tokenizer") {
    val s = spark
    import s.implicits._
    val ws = Seq(
      "a b", "  leading", "trailing   ", "\ttab\tsep\t", "line\nbreak",
      "verttab", "formfeed", "car\rreturn", "mixed \t\r\n all",
      "nbsp stays", "ideographic　stays", "em space-stays",
      "", "   ", "\t\n\r", "one", "a  b   c    d")
    val df = (adversarial ++ ws :+ null).toDF("text")
    val both = df.select(
      TextAnalysis.tokensHof(col("text")).as("hof"),
      TextAnalysis.tokens(col("text")).as("native"))
    both.collect().foreach { r =>
      val a = if (r.isNullAt(0)) null else r.getSeq[String](0)
      val b = if (r.isNullAt(1)) null else r.getSeq[String](1)
      assert(a == b, s"tokenizer mismatch: hof=$a native=$b")
    }
    // composes with lower() upstream and wordNgrams downstream unchanged
    val ng = ws.toDF("text").select(
      TextAnalysis.wordNgrams(col("text"), 2).as("native"))
    assert(ng.count() == ws.length)
  }

  test("WordNgrams expression is bit-identical to the HOF chain, fused distinct to array_distinct") {
    val s = spark
    import s.implicits._
    val ws = Seq(
      "a b c d", "one", "", "   ", "a a a a a", "x y x y x y",
      "tab\tand\nnewline seps", "trailing spaces   ", null.asInstanceOf[String])
    val df = (adversarial ++ ws).toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val both = df.select(
        TextAnalysis.wordNgramsHof(col("text"), n).as("hof"),
        TextAnalysis.wordNgrams(col("text"), n).as("native"),
        array_distinct(TextAnalysis.wordNgramsHof(col("text"), n)).as("hofd"),
        TextAnalysis.distinctWordNgrams(col("text"), n).as("natived"))
      both.collect().foreach { r =>
        def g(i: Int) = if (r.isNullAt(i)) null else r.getSeq[String](i)
        assert(g(0) == g(1), s"ngram mismatch at n=$n: hof=${g(0)} native=${g(1)}")
        assert(g(2) == g(3), s"distinct ngram mismatch at n=$n: ${g(2)} vs ${g(3)}")
      }
    }
  }

  test("StopHits and LangId expressions match their HOF/UDF reference forms") {
    val s = spark
    import s.implicits._
    // language-shaped rows on top of the adversarial corpus: stopword-rich
    // text per language, mixed case (lowercasing is part of the contract),
    // unicode lookalikes, duplicates (occurrence counting, not distinct)
    val langish = Seq(
      "The cat and THE dog of it", "der Hund und die Katze ist",
      "le chat et la vie est", "el perro y la casa es",
      "THE THE the tHe", "und und und", "no stopwords here xyzzy",
      "", "one", "Ünïcode ÏS weird", "İ THE İstanbul case")
    val df = (adversarial ++ langish :+ null).toDF("text")
    val toks = TextAnalysis.tokens(col("text"))
    val rows = df.select(
      TextAnalysis.stopHitsHof(toks).as("hofHits"),
      GraftExpressions.stopHits(toks, "en").as("natHits"),
      TextAnalysis.langIdUdf(toks).as("udfLang"),
      GraftExpressions.langId(toks).as("natLang")).collect()
    rows.foreach { r =>
      val (a, b) = (if (r.isNullAt(0)) null else Int.box(r.getInt(0)),
        if (r.isNullAt(1)) null else Int.box(r.getInt(1)))
      assert(a == b, s"stopHits mismatch: $a vs $b in $r")
      assert(r.getString(2) == r.getString(3),
        s"langId mismatch: ${r.getString(2)} vs ${r.getString(3)} in $r")
    }
    // an unknown language fails when the call is built, not per row
    bothReject("tlh")(
      GraftExpressions.stopHits(col("text"), "tlh"),
      "SELECT graft_stophits(array('a'), 'tlh')")
  }

  test("NormalizeVec expression matches the bind-once HOF normalization bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(19)
    val vecs: Seq[Seq[java.lang.Float]] = (0 until 80).map { _ =>
      Seq.fill(1 + rnd.nextInt(96))(java.lang.Float.valueOf(rnd.nextGaussian().toFloat))
    } ++ Seq(
      Seq[java.lang.Float](1.0f, null, 3.0f),                // null element -> null slots
      Seq[java.lang.Float](),                                // empty
      null.asInstanceOf[Seq[java.lang.Float]])               // null vec -> null
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true))))
    val rowList = new java.util.ArrayList[org.apache.spark.sql.Row]()
    vecs.foreach(v => rowList.add(org.apache.spark.sql.Row(v)))
    val df = spark.createDataFrame(rowList, schema)
    val rows = df.select(
      graft.pipeline.Ann.normalizeHof(col("vec")).as("hof"),
      graft.pipeline.Ann.normalize(col("vec")).as("native")).collect()
    rows.foreach { r =>
      def g(i: Int): Seq[Any] = if (r.isNullAt(i)) null else r.getSeq[Any](i)
      val (a, b) = (g(0), g(1))
      if (a == null || b == null) assert(a == null && b == null, s"null-shape mismatch $r")
      else {
        assert(a.length == b.length, s"length mismatch $r")
        a.zip(b).foreach {
          case (null, y) => assert(y == null, s"null slot mismatch $r")
          case (x: Double, y: Double) =>
            assert(java.lang.Double.doubleToRawLongBits(x) ==
              java.lang.Double.doubleToRawLongBits(y), s"value mismatch $x vs $y in $r")
          case other => fail(s"unexpected slot shape $other in $r")
        }
      }
    }
    // the zero-vector edge: BOTH forms fail loudly (HOF via ANSI
    // DIVIDE_BY_ZERO, native via its own guard). Fail-loud matters: a
    // silent NaN result would out-rank every real neighbor downstream
    // (Spark's SQL ordering puts NaN above every double).
    val zeroRows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    zeroRows.add(org.apache.spark.sql.Row(Seq.fill(8)(java.lang.Float.valueOf(0.0f))))
    val zdf = spark.createDataFrame(zeroRows, schema)
    val natErr = intercept[Exception] {
      zdf.select(graft.pipeline.Ann.normalize(col("vec")).as("v")).collect()
    }
    assert(messages(natErr).exists(_.contains("zero vector")), natErr.toString)
    intercept[Exception] {
      zdf.select(graft.pipeline.Ann.normalizeHof(col("vec")).as("v")).collect()
    }
    // the empty vector is NOT the zero-vector edge: no element divides, so
    // both forms agree on an empty array (covered by the parity rows above)
  }

  test("DotProduct expression matches the aggregate(zip_with) fold bit-for-bit") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 100).map { _ =>
      val d = 1 + rnd.nextInt(96)
      (Array.fill(d)(rnd.nextGaussian()), Array.fill(d)(rnd.nextGaussian()))
    }
    val df = vecs.toDF("x", "y")
    val hof = aggregate(
      zip_with(col("x"), col("y"), (p, q) => p * q), lit(0.0), (a, v) => a + v)
    val rows = df.select(hof.as("hof"), GraftExpressions.dot(col("x"), col("y")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        s"dot mismatch on $r")
    }
    // float inputs take the same element-widening path as zip_with's cast
    val fdf = vecs.map { case (x, y) => (x.map(_.toFloat), y.map(_.toFloat)) }
      .toDF("x", "y")
    val fhof = aggregate(
      zip_with(col("x"), col("y"),
        (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (a, v) => a + v)
    fdf.select(fhof.as("hof"), GraftExpressions.dot(col("x"), col("y")).as("native"))
      .collect().foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      }
    // null semantics: length mismatch and null arrays -> null (as zip_with)
    val edge = Seq(
      (Array(1.0, 2.0), Array(1.0)), // length mismatch
      (null, Array(1.0)), (Array(1.0), null), (null, null))
      .toDF("x", "y")
    val e = edge.select(fhofLike(col("x"), col("y")).as("hof"),
      GraftExpressions.dot(col("x"), col("y")).as("native")).collect()
    e.foreach { r => assert(r.isNullAt(0) == r.isNullAt(1), s"null-shape mismatch $r") }
    e.foreach { r => assert(r.isNullAt(1), s"expected null dot for $r") }
  }

  private def fhofLike(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (a, v) => a + v)

  test("HyperplaneSig expression is bit-identical to the scalar signature UDF") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // gaussian vectors of varied dims, near-zero projections (sign-boundary
    // stress), empty vector, plus a null row (UDF null branch -> 0L)
    val vecs: Seq[Seq[Double]] = (0 until 120).map { _ =>
      Seq.fill(1 + rnd.nextInt(96))(rnd.nextGaussian())
    } ++ (0 until 20).map { _ =>
      Seq.fill(64)(rnd.nextGaussian() * 1e-12)
    } :+ Seq.empty[Double]
    val df = (vecs :+ null.asInstanceOf[Seq[Double]]).toDF("vec")
    for (planes <- Seq(1, 8, 16, 64); off <- Seq(0, 8, 37)) {
      val both = df.select(
        graft.pipeline.Ann.hyperplaneSignatureUdf(col("vec"), planes, off).as("udf"),
        graft.pipeline.Ann.hyperplaneSignature(col("vec"), planes, off).as("native"))
      both.collect().foreach { r =>
        assert(r.getLong(0) == r.getLong(1),
          s"hyperplane mismatch at planes=$planes off=$off on $r")
      }
    }
    // float inputs widen identically (the UDF's Seq[Double] cast vs the
    // wrapper's array<double> cast)
    val fdf = vecs.map(v => v.map(_.toFloat)).toDF("vec")
    val fboth = fdf.select(
      graft.pipeline.Ann.hyperplaneSignatureUdf(col("vec"), 8, 0).as("udf"),
      graft.pipeline.Ann.hyperplaneSignature(col("vec"), 8, 0).as("native"))
    fboth.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"float hyperplane mismatch on $r")
    }
    // stays out of ScalaUDF in the plan
    val plan = df.select(graft.pipeline.Ann.hyperplaneSignature(col("vec"), 8, 0))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashKernels.hyperplaneSig") && !plan.contains("ScalaUDF"), plan)
  }

  test("hyperplaneSig follows its documented plane formula") {
    // plane p's component at dim j is
    // mix(mix(planeOffset+p) ^ (j * 0xC2B2AE3D27D4EB4F)) / 2^63
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val mix = graft.ingest.Pages.mix _
    val rnd = new scala.util.Random(41)
    for (_ <- 0 until 50; planes <- Seq(1, 13, 64); off <- Seq(0, 9)) {
      val v = Array.fill(1 + rnd.nextInt(40))(rnd.nextGaussian())
      val want = (0 until planes).foldLeft(0L) { (bits, p) =>
        val pm = mix((off + p).toLong)
        val acc = v.indices.foldLeft(0.0) { (a, j) =>
          a + v(j) * (mix(pm ^ (j.toLong * 0xC2B2AE3D27D4EB4FL)).toDouble /
            Long.MaxValue.toDouble)
        }
        if (acc >= 0) bits | (1L << p) else bits
      }
      val got = HashKernels.hyperplaneSig(
        new GenericArrayData(v.map(Double.box).toArray[Any]), planes, off)
      assert(got == want, s"planes=$planes off=$off")
    }
  }

  test("HyperplaneSig rejects numPlanes outside 1..64 however it is built") {
    Seq(0, 65, -1).foreach { planes =>
      bothReject("numPlanes")(
        GraftExpressions.hyperplaneSignature(col("vec"), planes, 0),
        s"SELECT graft_hyperplane_sig(array(1.0d, -1.0d), $planes, 0)")
    }
    val s = spark
    import s.implicits._
    val col64 = Seq(Seq(1.0, -1.0)).toDF("vec")
      .select(GraftExpressions.hyperplaneSignature(col("vec"), 64, 0)).head().getLong(0)
    val sql64 = spark.sql("SELECT graft_hyperplane_sig(array(1.0d, -1.0d), 64, 0)")
      .head().getLong(0)
    assert(col64 == sql64)
  }

  test("MaxSortedRun expression equals the aggregate(sort_array) reference fold") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    // small-alphabet token arrays force heavy duplication; include empty,
    // single, all-equal, null-element and adversarial unicode grams
    val arrays: Seq[Seq[String]] = (0 until 150).map { _ =>
      Seq.fill(rnd.nextInt(60))(s"tok${rnd.nextInt(6)} g${rnd.nextInt(4)}")
    } ++ Seq(Seq.empty[String], Seq("only"), Seq.fill(17)("same gram")) ++
      adversarial.grouped(7).map(_.toSeq).toSeq ++
      Seq(Seq(null), Seq(null, null), Seq(null, "a", null, "a", "b"))
    val df = (arrays :+ null.asInstanceOf[Seq[String]]).toDF("b")
    val both = df.select(
      TextAnalysis.topRunHof(col("b")).as("hof"),
      GraftExpressions.maxSortedRun(col("b")).as("native"))
    both.collect().foreach { r =>
      val a = if (r.isNullAt(0)) null else Int.box(r.getInt(0))
      val b = if (r.isNullAt(1)) null else Int.box(r.getInt(1))
      assert(a == b, s"maxSortedRun mismatch: hof=$a native=$b in $r")
    }
    val plan = df.select(GraftExpressions.maxSortedRun(col("b")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashKernels.maxSortedRun") && !plan.contains("ScalaUDF"), plan)
  }

  test("repetitionSignals: dup/top n-gram fractions on crafted documents") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a a a"),          // dup_word 2/3; bigrams [a a, a a]: dup 1/2, top 2/2
      (2L, "x y z"),          // no repeats; 2 distinct bigrams, top 1/2
      (3L, "w"),              // no bigrams at all
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "b a b a b")       // bigrams [b a, a b, b a, a b]: the top run of
                              // the SORTED array (a b, a b, b a, b a) is 2/4
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "text")
      .select($"doc_id", $"dup_word_frac", $"dup_bigram_frac", $"top_bigram_frac")
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2.0 / 3, 0.5, 1.0)))
    assert(out(2L) == ((0.0, 0.0, 0.5)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0, 0.0)))
    assert(out(5L) == ((0.0, 0.0, 0.0)))
    assert(out(6L) == ((0.6, 0.5, 0.5)))
  }

  test("SQL surface: graft_* functions resolve via the extensions registry") {
    // SharedSpark is built by GraftSession, which wires GraftExtensions in
    val r = spark.sql(
      """SELECT graft_fingerprint64('hello world') AS fp,
        |       graft_simhash64(graft_tokens('hello world again')) AS sh,
        |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       size(graft_tokens('  a  b  ')) AS n,
        |       graft_minhash('hello world', 5, 4) AS mh""".stripMargin).head()
    // cross-check against the Column API (same expressions, same kernels)
    val s = spark
    import s.implicits._
    val viaCols = Seq(("hello world", "hello world again")).toDF("t1", "t2")
      .select(GraftExpressions.fingerprint64(col("t1")).as("fp"),
        GraftExpressions.simhash64(TextAnalysis.tokens(col("t2"))).as("sh"))
      .head()
    assert(r.getLong(0) == viaCols.getLong(0))
    assert(r.getLong(1) == viaCols.getLong(1))
    assert(r.getDouble(2) == 11.0)
    assert(r.getInt(3) == 2)
    val mhCols = Seq("hello world").toDF("t")
      .select(GraftExpressions.minhashSignature(col("t"), 5, 4).as("mh")).head()
    assert(r.getSeq[Long](4) == mhCols.getSeq[Long](0))
    // non-literal shingleK must fail loudly at resolution, not mis-plan
    val err = intercept[Exception] {
      spark.sql("SELECT graft_minhash('x', length('abcde'), 4)").collect()
    }
    assert(err.getMessage.contains("integer literal"), err.getMessage)
    // the SQL surface applies the same table builders as the Column API,
    // so its edge contracts hold for SQL users too: null text -> the
    // all-Long.MaxValue signature (not null), null token array -> empty
    // gram array (not null), float vectors widen like the Column API
    val edge = spark.sql(
      """SELECT graft_minhash(CAST(NULL AS STRING), 5, 4) AS mh,
        |       graft_word_ngrams(CAST(NULL AS ARRAY<STRING>), 2, true) AS ng,
        |       graft_normalize(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS nv,
        |       graft_langid(CAST(NULL AS ARRAY<STRING>)) AS lidnull,
        |       graft_langid(graft_tokens('the cat and the dog of it')) AS lid,
        |       graft_stophits(CAST(NULL AS ARRAY<STRING>), 'en') AS shnull,
        |       graft_stophits(graft_tokens('THE cat and the dog'), 'en') AS sh
        |""".stripMargin).head()
    assert(edge.getSeq[Long](0) == Seq.fill(4)(Long.MaxValue), edge.toString)
    assert(edge.getSeq[String](1) == Seq.empty, edge.toString)
    assert(edge.getSeq[Double](2) == Seq(0.6, 0.8), edge.toString)
    assert(edge.getString(3) == "und", edge.toString)   // null -> 'und', as the Column API
    assert(edge.getString(4) == "en", edge.toString)
    assert(edge.isNullAt(5), edge.toString)             // null -> null, as the Column API
    assert(edge.getInt(6) == 3, edge.toString)          // THE + and + the (occurrences)
  }

  test("SQL and Column surfaces agree on every native function") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("text", StringType),
      StructField("toks", ArrayType(StringType)),
      StructField("fvec", ArrayType(FloatType)), StructField("dvec", ArrayType(DoubleType))))
    // null string/array/vector row, empty row, and a populated row with a
    // float vector (the `array<double>` widening) and a null token
    val rows = Seq(
      Row(0, null, null, null, null),
      Row(1, "", Seq.empty[String], Seq.empty[Float], Seq.empty[Double]),
      Row(2, "The cat and the dog 😀", Seq("the", "cat", "and", "the", null),
        Seq(1.5f, -2.0f, 0.25f), Seq(3.0, 4.0, -1.0)))
    // an RDD source, so projections run as generated code instead of being
    // folded into a LocalRelation by the optimizer
    val in = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    in.createOrReplaceTempView("parity_in")
    val calls: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "graft_fingerprint64(text)" -> GraftExpressions.fingerprint64(col("text")),
      "graft_simhash64(toks)" -> GraftExpressions.simhash64(col("toks")),
      "graft_tokens(text)" -> GraftExpressions.whitespaceTokens(col("text")),
      "graft_minhash(text, 3, 4)" -> GraftExpressions.minhashSignature(col("text"), 3, 4),
      "graft_word_ngrams(toks, 2, true)" ->
        GraftExpressions.wordNgrams(col("toks"), 2, distinct = true),
      "graft_word_ngrams(toks, 1, false)" -> GraftExpressions.wordNgrams(col("toks"), 1),
      "graft_stophits(toks, 'en')" -> GraftExpressions.stopHits(col("toks"), "en"),
      "graft_langid(toks)" -> GraftExpressions.langId(col("toks")),
      "graft_normalize(fvec)" -> GraftExpressions.normalize(col("fvec")),
      "graft_normalize(dvec)" -> GraftExpressions.normalize(col("dvec")),
      "graft_dot(fvec, fvec)" -> GraftExpressions.dot(col("fvec"), col("fvec")),
      "graft_dot(dvec, fvec)" -> GraftExpressions.dot(col("dvec"), col("fvec")),
      "graft_hyperplane_sig(fvec, 8, 3)" ->
        GraftExpressions.hyperplaneSignature(col("fvec"), 8, 3),
      "graft_max_sorted_run(toks)" -> GraftExpressions.maxSortedRun(col("toks")))
    assert(calls.map(_._1.takeWhile(_ != '(')).toSet ==
      GraftExpressions.table.map(_.name).toSet)
    def collect(): (Seq[Row], Seq[Row]) = {
      val viaSql = spark.sql(calls.map(_._1).zipWithIndex
        .map { case (c, i) => s"$c AS c$i" }.mkString("SELECT id, ", ", ", " FROM parity_in"))
      val viaCols = in.select(col("id") +: calls.map(_._2).zipWithIndex
        .map { case (c, i) => c.as(s"c$i") }: _*)
      assert(viaSql.schema.map(_.dataType) == viaCols.schema.map(_.dataType))
      (viaSql.orderBy("id").collect().toSeq, viaCols.orderBy("id").collect().toSeq)
    }
    val (sqlGen, colsGen) = collect()
    assert(sqlGen == colsGen)
    // the interpreted path (no generated code at all) gives the same values
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val was = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val (sqlInt, colsInt) = collect()
      assert(sqlInt == colsInt)
      assert(sqlInt == sqlGen)
    } finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // the edge contracts themselves: null text/tokens/vector hash to 0,
    // float vectors widen instead of failing analysis
    val nulls = sqlGen.head
    assert(nulls.getLong(1) == 0L && nulls.getLong(2) == 0L && nulls.getLong(13) == 0L, nulls)
    assert(sqlGen(2).getDouble(11) == 1.5 * 1.5 + 2.0 * 2.0 + 0.25 * 0.25, sqlGen(2))
  }

  test("native expressions run inside WholeStageCodegen (no ScalaUDF, no interpreted fallback)") {
    // spark.range is a real codegen leaf — a literal local Dataset would be
    // constant-folded into a LocalTableScan before any codegen happens
    val base = spark.range(100)
      .select(concat(lit("document text "), col("id")).as("text"))
    val fp = base.select(col("text"),
      GraftExpressions.fingerprint64(col("text")).as("fp"))
    val fpPlan = fp.queryExecution.executedPlan.toString
    assert(fpPlan.contains("HashKernels.polyHash"), fpPlan)
    assert(!fpPlan.contains("ScalaUDF"), s"expected no UDF in plan:\n$fpPlan")
    // "*(n)" marks operators fused into a WholeStageCodegen stage; the
    // project evaluating the expression must carry it
    val projLine = fpPlan.linesIterator.find(_.contains("HashKernels.polyHash")).get
    assert(projLine.trim.startsWith("*("),
      s"expression project not whole-stage-codegen'd:\n$fpPlan")
    // simhash's INPUT is the tokenizer — a higher-order `filter`, which is
    // CodegenFallback and keeps its project interpreted. The expression
    // itself still evaluates natively over ArrayData (no UDF, no String
    // materialization); assert the plan shape it actually gets.
    val sh = base.select(
      GraftExpressions.simhash64(TextAnalysis.tokens(col("text"))).as("sh"))
    val shPlan = sh.queryExecution.executedPlan.toString
    assert(shPlan.contains("HashKernels.simhash"), shPlan)
    assert(!shPlan.contains("ScalaUDF"), s"expected no UDF in plan:\n$shPlan")
    // minhash: string child, no HOF input — must fuse like fingerprint
    val mh = base.select(
      GraftExpressions.minhashSignature(col("text"), 5, 12).as("mh"))
    val mhPlan = mh.queryExecution.executedPlan.toString
    assert(mhPlan.contains("HashKernels.minhashSignature"), mhPlan)
    assert(!mhPlan.contains("ScalaUDF"), s"expected no UDF in plan:\n$mhPlan")
    val mhLine = mhPlan.linesIterator.find(_.contains("HashKernels.minhashSignature")).get
    assert(mhLine.trim.startsWith("*("),
      s"minhash project not whole-stage-codegen'd:\n$mhPlan")
    // force execution so a Janino compile error in the generated call would surface
    assert(fp.count() > 0 && sh.count() > 0 && mh.count() > 0)
  }
}
