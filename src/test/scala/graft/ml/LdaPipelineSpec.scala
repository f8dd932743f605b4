package graft.ml

import graft.TestSpark
import org.apache.spark.ml.feature.{CountVectorizerModel, IDF}
import org.apache.spark.ml.linalg.SparseVector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end coverage of the reference pipeline semantics on a tiny
  * in-memory corpus exercising the quirks from SURVEY.md §7 (risk 1):
  * stopwords pre-stem + case-sensitive, TF-IDF zero-floor, EM on TF·IDF
  * weights, argmax last-wins, pinned-seed determinism. */
class LdaPipelineSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the cat sat on the mat the cat purred softly tonight"),
    (1L, "dogs barked loudly dogs chased cats across yards yesterday"),
    (2L, "the spark engine shuffles partitions across executors quickly"),
    (3L, "spark executors aggregate partitions while shuffling data blocks"),
    (4L, "cats and dogs played together near the garden wall"))
    .toDF("doc_id", "text")

  private def tokens =
    corpus.select(col("doc_id"),
      TextPrep.tokenizeFilterStem(
        TextPrep.filterSpecialCharacters(col("text")),
        Seq("the", "on", "and")).as("tokens"))

  test("P4: stopwords filtered case-sensitively before stemming") {
    val toks = corpus
      .select(TextPrep.tokenizeFilterStem(col("text"), Seq("dogs")).as("t"))
      .select(explode(col("t")).as("tok")).collect().map(_.getString(0))
    assert(!toks.contains("dogs"))
    // "dog" appears only if some token stems to it — "dogs" was removed
    // BEFORE stemming, so no "dog" can originate from it
    assert(!toks.contains("dog"))
  }

  test("A5: TF-IDF zero-floor substitutes 0.0001 for idf==0 terms") {
    val tok = tokens
    val fit = Vectorize.fit(tok, 1000)
    val idf = fit.idf
    // minDocFreq=2 zeroes single-doc terms in mllib's idf vector
    assert(idf.contains(0.0), "expected some idf==0 terms on this corpus")
    val scaled = Vectorize.flooredTfIdf(tok, fit.vocab, idf)
    val vecs = scaled.select("features").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector](0))
    val zeroIdx = idf.indexWhere(_ == 0.0)
    val floored = vecs.flatMap { v =>
      val sv = v.toSparse
      sv.indices.zip(sv.values).filter(_._1 == zeroIdx).map(_._2)
    }
    assert(floored.nonEmpty && floored.forall(x => x > 0 && x <= 0.0001 * 10),
      "idf==0 terms must carry count*0.0001, not 0")
    // idf formula for EVERY term: ln((m+1)/(df+1)) when df >= 2, else 0,
    // with m and df counted here from the token lists
    val docs = tok.select("tokens").collect().map(_.getSeq[String](0).toSet)
    val m = docs.length.toLong
    assert(m == 5L && fit.numDocs == m)
    assert(fit.vocab.length == docs.flatten.toSet.size, "vocab must hold every term")
    fit.vocab.zip(idf).foreach { case (term, w) =>
      val df = docs.count(_.contains(term)).toLong
      val want = if (df >= 2) math.log((m + 1.0) / (df + 1.0)) else 0.0
      assert(w == want, s"idf of '$term' (df=$df): got $w, want $want")
    }
  }

  /** The vectorization as mllib computes it — CountVectorizerModel over
    * a (cnt DESC, term ASC) vocabulary, IDF(minDocFreq=2), then the
    * 0.0001 floor — kept as the reference the one-pass fit must match. */
  private def referenceTfIdf(tok: DataFrame, vocabSize: Int)
      : (Array[String], Array[Double], Map[Long, SparseVector]) = {
    val vocab = tok.select(explode(col("tokens")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .collect().map(_.getString(0))
    val tf = new CountVectorizerModel(vocab)
      .setInputCol("tokens").setOutputCol("tf").transform(tok)
    val idf = new IDF().setMinDocFreq(2).setInputCol("tf").setOutputCol("idf_out")
      .fit(tf).idf.toArray
    val feats = tf.select("doc_id", "tf").collect().map { r =>
      val v = r.getAs[org.apache.spark.ml.linalg.Vector](1).toSparse
      val w = v.indices.indices.map { k =>
        val f = idf(v.indices(k))
        v.values(k) * (if (f == 0.0) 0.0001 else f)
      }.toArray
      r.getLong(0) -> new SparseVector(v.size, v.indices, w)
    }.toMap
    (vocab, idf, feats)
  }

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def assertMatchesReference(tok: DataFrame, vocabSize: Int): Unit = {
    val (refVocab, refIdf, refFeats) = referenceTfIdf(tok, vocabSize)
    val fit = Vectorize.fit(tok, vocabSize)
    assert(fit.vocab.toSeq == refVocab.toSeq, "vocab order")
    assert(bits(fit.idf) == bits(refIdf), "idf array")
    val feats = Vectorize.flooredTfIdf(tok, fit.vocab, fit.idf)
      .select("doc_id", "features").collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.ml.linalg.Vector](1).toSparse)
      .toMap
    assert(feats.keySet == refFeats.keySet)
    refFeats.foreach { case (id, ref) =>
      val got = feats(id)
      assert(got.size == ref.size && got.indices.toSeq == ref.indices.toSeq &&
        bits(got.values) == bits(ref.values), s"features of doc $id: $got vs $ref")
    }
  }

  test("A4/A5: one-pass fit is bit-identical to CountVectorizer + mllib IDF + floor") {
    assertMatchesReference(tokens, 1000)
  }

  test("A4/A5: one-pass fit matches the reference under tied term counts") {
    // every term occurs exactly twice or exactly three times, so the
    // vocabulary order is decided by the term tiebreak alone; the cut
    // at vocabSize 5 falls inside a tie group and leaves docs with
    // out-of-vocab tokens
    val tied = Seq(
      (0L, Seq("pear", "fig", "kiwi", "lime")),
      (1L, Seq("pear", "fig", "date", "plum", "lime")),
      (2L, Seq("kiwi", "date", "plum", "lime", "yuzu")),
      (3L, Seq("yuzu", "apple", "apple", "fig", "pear")),
      (4L, Seq("kiwi", "date", "plum", "yuzu")))
      .toDF("doc_id", "tokens")
    assertMatchesReference(tied, 1000)
    assertMatchesReference(tied, 5)
    assertMatchesReference(tied, 1)
  }

  test("A6/A10: EM-LDA on TF-IDF weights; argmax last-wins; seed-stable") {
    val fitted = LdaPipeline.train(spark, tokens,
      LdaPipeline.Params(k = 2, maxIterations = 10, algorithm = "em",
        checkpointInterval = -1, seed = 7L))
    assert(fitted.model.isInstanceOf[org.apache.spark.ml.clustering.DistributedLDAModel])
    val topics = LdaPipeline.describeTopics(spark, fitted, 5).collect()
    assert(topics.length == 2)
    assert(topics.forall(_.getSeq[String](1).length == 5))

    val assigned = LdaPipeline.assignTopics(fitted, fitted.corpus)
    assert(assigned.select("main_topic").collect()
      .forall(r => r.getInt(0) >= 0 && r.getInt(0) < 2))

    // determinism: same seed → identical topic term lists
    val fitted2 = LdaPipeline.train(spark, tokens,
      LdaPipeline.Params(k = 2, maxIterations = 10, algorithm = "em",
        checkpointInterval = -1, seed = 7L))
    val t1 = LdaPipeline.describeTopics(spark, fitted, 5)
      .select("terms").collect().map(_.getSeq[String](0).toList).toList
    val t2 = LdaPipeline.describeTopics(spark, fitted2, 5)
      .select("terms").collect().map(_.getSeq[String](0).toList).toList
    assert(t1 == t2, "pinned seed must reproduce topics")
  }

  test("argmax last-wins tie-break (A10 quirk)") {
    import org.apache.spark.ml.linalg.Vectors
    val df = Seq(
      Tuple1(Vectors.dense(0.4, 0.4, 0.2)),
      Tuple1(Vectors.dense(0.1, 0.2, 0.7))).toDF("topicDistribution")
    val got = df.select(LdaPipeline.argmaxLastWins(col("topicDistribution")).as("t"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 2), s"ties must resolve to the LAST max (got $got)")
  }

  test("online optimizer with reference minibatch tweak trains") {
    val fitted = LdaPipeline.train(spark, tokens,
      LdaPipeline.Params(k = 2, maxIterations = 5, algorithm = "online", seed = 7L))
    assert(fitted.model.isInstanceOf[org.apache.spark.ml.clustering.LocalLDAModel])
    assert(LdaPipeline.describeTopics(spark, fitted, 3).count() == 2)
    // per-job telemetry (ml06's): the fit returns without waiting for
    // the listener bus; the recorder fills in as the events arrive, at
    // least one job per iteration
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    eventually(timeout(10.seconds)) {
      val times = LdaPipeline.lastOnlineFitJobTimes.getOrElse(Nil)
      assert(times.size >= 5 && times.forall(_ >= 0.0), times)
    }
  }

  test("K1/K2/S4/S5: save and load round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lda").toString
    val fitted = LdaPipeline.train(spark, tokens,
      LdaPipeline.Params(k = 2, maxIterations = 5, algorithm = "online", seed = 7L))
    LdaPipeline.save(fitted, dir)
    val (model, vocab) = LdaPipeline.load(spark, dir, "online")
    assert(vocab.toSeq == fitted.vocab.toSeq)
    assert(model.vocabSize == fitted.model.vocabSize)
  }

  test("corpus reader: wholetext + book_name comma escaping (P9)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_books")
    java.nio.file.Files.writeString(dir.resolve("A Book, The - Author.txt"), "hello world text")
    java.nio.file.Files.writeString(dir.resolve("Plain.txt"), "more text here")
    val df = CorpusReader.readBooks(spark, dir.toString)
    val names = df.select("book_name").collect().map(_.getString(0)).sorted
    assert(names.toSeq == Seq("A Book? The - Author.txt", "Plain.txt"))
    assert(df.count() == 2)
  }
}
