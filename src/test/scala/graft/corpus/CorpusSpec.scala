package graft.corpus

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (0L, "the cat sat on the mat"),
    (1L, "the dog sat on the log"),
    (2L, "new york city new york"),
    (3L, "the cat and the dog")
  ).toDF("doc", "text")

  test("vocab ids are first-seen order and partitioning-invariant") {
    val (_, v1) = Corpus.build(docs.repartition(1))
    val (_, v7) = Corpus.build(docs.repartition(7))
    val m1 = v1.as[(String, Int)].collect().toMap
    val m7 = v7.as[(String, Int)].collect().toMap
    assert(m1 == m7)
    // sequential first-seen order over doc 0: the=0 cat=1 sat=2 on=3 mat=4
    assert(m1("the") == 0 && m1("cat") == 1 && m1("sat") == 2
      && m1("on") == 3 && m1("mat") == 4)
    assert(m1("dog") == 5 && m1("log") == 6) // doc 1 continues
  }

  test("bag-of-words counts") {
    val (bow, v) = Corpus.build(docs)
    val vm = v.as[(String, Int)].collect().toMap
    val counts = bow.as[(Long, Int, Int)].collect()
      .map { case (d, w, c) => (d, w) -> c }.toMap
    assert(counts((0L, vm("the"))) == 2)
    assert(counts((2L, vm("new"))) == 2)
    assert(counts((2L, vm("york"))) == 2)
    assert(counts((0L, vm("cat"))) == 1)
  }

  test("concurrences match brute force (w1<w2, sum c1*c2)") {
    val (bow, _) = Corpus.build(docs)
    val rows = bow.as[(Long, Int, Int)].collect().toSeq
    val pairRows: Seq[((Int, Int), Long)] = rows.groupBy(_._1).values.toSeq.flatMap { dws =>
      for {
        (_, w1, c1) <- dws; (_, w2, c2) <- dws if w1 < w2
      } yield (w1, w2) -> c1.toLong * c2
    }
    val brute = pairRows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val got = Corpus.concurrences(bow).as[(Int, Int, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(got == brute)
  }

  test("maxDf cap drops hot words from pair enumeration") {
    val (bow, v) = Corpus.build(docs)
    val vm = v.as[(String, Int)].collect().toMap
    // "the" appears in 3 docs; cap at 2 removes every pair touching it
    val capped = Corpus.concurrences(bow, maxDf = 2)
      .as[(Int, Int, Long)].collect()
    assert(capped.nonEmpty)
    assert(!capped.exists { case (a, b, _) => a == vm("the") || b == vm("the") })
    // uncapped result (default) still contains "the" pairs
    val full = Corpus.concurrences(bow).as[(Int, Int, Long)].collect()
    assert(full.exists { case (a, b, _) => a == vm("the") || b == vm("the") })
    // non-hot pairs are identical between the two
    val cappedMap = capped.map { case (a, b, c) => (a, b) -> c }.toMap
    full.filter { case (a, b, _) => a != vm("the") && b != vm("the") }
      .foreach { case (a, b, c) => assert(cappedMap((a, b)) == c) }
  }

  test("docConcurrences counts distinct docs per pair") {
    val (bow, v) = Corpus.build(docs)
    val vm = v.as[(String, Int)].collect().toMap
    val got = Corpus.docConcurrences(bow).as[(Int, Int, Long)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    val theW = vm("the"); val catW = vm("cat")
    val k = (math.min(theW, catW), math.max(theW, catW))
    assert(got(k) == 2L) // docs 0 and 3
  }

  test("tfidf filters below doc-mean ratio") {
    val (bow, _) = Corpus.build(docs)
    val out = Corpus.tfidf(bow, docs.count(), minRatio = 0.5)
    assert(out.count() > 0)
    // "the" appears in 3/4 docs -> low idf -> often filtered
    val weights = out.as[(Long, Int, Double)].collect()
    assert(weights.forall(_._3 >= 0.0))
  }

  test("word2phrase merges the planted bigram") {
    val planted = (0 until 20).map(i => (i.toLong, s"new york item$i"))
      .toDF("doc", "text")
    val out = Word2Phrase.run(spark, planted, numIters = 1,
      minFreq = 2, minScore = 0.0)
    val toks = out.as[(Long, Seq[String])].collect().toMap
    assert(toks(0L).contains("new_york"), s"got ${toks(0L)}")
    assert(!toks(0L).contains("new"))
  }

  test("word2phrase destroys every pass's pair broadcast, output unchanged") {
    val planted = (0 until 20).map(i => (i.toLong, s"new york city item$i"))
      .toDF("doc", "text")
    val (out, pairs) = Word2Phrase.runPasses(spark, planted, numIters = 2,
      minFreq = 2, minScore = 0.0, useV2 = false)
    assert(pairs.size == 2)
    pairs.foreach { b =>
      val e = intercept[org.apache.spark.SparkException](b.value)
      assert(e.getMessage.contains("destroyed"), e.getMessage)
    }
    // the checkpointed output no longer reads the pair sets
    val toks = out.as[(Long, Seq[String])].collect().toMap
    assert(toks == (0 until 20).map(i => i.toLong -> Seq("new_york_city", s"item$i")).toMap)
    assert(Word2Phrase.run(spark, planted, numIters = 2, minFreq = 2, minScore = 0.0)
      .as[(Long, Seq[String])].collect().toMap == toks)
  }

  test("similarity kernels: jaccard bounded, simRanks dense per phrase") {
    val (bow, _) = Corpus.build(docs)
    val cooc = Corpus.concurrences(bow)
      .withColumnRenamed("cooc", "cooc")
    val jac = Similarity.induce(cooc, 2).as[(Int, Int, Double)].collect()
    assert(jac.forall { case (_, _, s) => s >= 0.0 && s <= 1.0 })
    val ranks = Similarity.simRanks(
      Similarity.induce(cooc, 1))
    val perP = ranks.groupBy("p").agg(collect_list("rank").as("rs"))
      .as[(Int, Seq[Int])].collect()
    perP.foreach { case (_, rs) =>
      assert(rs.sorted == (0 until rs.size)) // dense 0..k-1
    }
  }

  test("translate maps across vocabs; missing terms surface") {
    val (bow, v) = Corpus.build(docs)
    val docs2 = docs.where($"doc" < 2)
    val (_, v2) = Corpus.build(docs2)
    val (out, missing) = Corpus.translate(bow, v, v2)
    assert(missing.count() > 0) // "york" etc. absent from docs2 vocab
    val validWords = v2.select("word").as[Int].collect().toSet
    assert(out.select("word").as[Int].collect().forall(validWords.contains))
  }
}
