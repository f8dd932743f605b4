package graft.ml

import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Vectorization stage: frequency-ranked vocabulary (T1), IDF with
  * minDocFreq=2 (A4) and the reference's TF·IDF scaling with the
  * 0.0001 zero-floor (A5, `LDAClustering.scala:177-192`), plus raw
  * count vectors over a fitted vocabulary (P8/P10, classification).
  *
  * The fit is ONE shuffle aggregation ([[termStats]]): per term its
  * occurrences and its document frequency, with the document count
  * observed in the same job. The idf is then computed on the driver
  * with mllib `IDF`'s own formula, and the floored TF·IDF vectors come
  * out of one projection ([[flooredTfIdf]]). The result is bit-identical
  * to CountVectorizerModel + `IDF(minDocFreq=2).fit` + the floor
  * (LdaPipelineSpec holds them equal), in two Spark jobs instead of six.
  *
  * Scale notes:
  *  - per-doc term counts fold inside the doc's own task, so the one
  *    shuffle carries at most one (term, count) pair per doc and term,
  *    partially combined per term map-side.
  *  - the vocabulary is a top-k (`orderBy.limit` → TakeOrderedAndProject)
  *    collected to the driver and broadcast to the projection — exactly
  *    the reference's closure-captured Map, made explicit. The
  *    driver-side array is the known ceiling (~tens of millions of
  *    terms); past that the count-vector step becomes a shuffle join of
  *    exploded tokens against the vocab table ([[vocabTable]] +
  *    [[countVectorsViaJoin]]).
  *  - ties in the frequency ranking break by term (ascending, Spark's
  *    byte order) — the reference's tie order was partition-dependent
  *    (SURVEY.md §7 risk 2); we pin it for reproducibility.
  */
object Vectorize {

  /** A fitted TF·IDF stage: the frequency-ranked vocabulary, mllib's
    * idf per vocabulary term (0 below minDocFreq=2) and the number of
    * documents the idf was fitted over. */
  final case class TfIdfFit(vocab: Array[String], idf: Array[Double], numDocs: Long)

  /** Occurrences of each distinct token of one document. */
  private val docTermCounts = udf { tokens: Seq[String] =>
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    if (tokens != null) tokens.foreach(t => counts(t) = counts.getOrElse(t, 0L) + 1L)
    counts.toSeq
  }

  /** A1 + document frequency — one row per term over a tokens
    * ARRAY<STRING> column: `cnt` (occurrences in the corpus) and `df`
    * (rows containing the term), in one map-side-combined shuffle. */
  def termStats(tokens: DataFrame, tokensCol: String = "tokens"): DataFrame =
    tokens
      .select(explode(docTermCounts(col(tokensCol))).as("tc"))
      .groupBy(col("tc._1").as("term"))
      .agg(sum(col("tc._2")).as("cnt"), count(lit(1)).as("df"))

  /** T1 + A4 in one pass: the `vocabSize` most frequent terms (ties by
    * term) with their idf. The document count m is observed on the
    * same scan, and idf = ln((m+1)/(df+1)) for df ≥ 2, else 0 — mllib
    * `IDF`'s formula and arithmetic, so the weights are bit-identical.
    * Fails loudly past the broadcast cap instead of silently attempting
    * a multi-GB driver collect — callers above the cap use
    * [[vocabTable]] + [[countVectorsViaJoin]]. */
  def fit(tokens: DataFrame, vocabSize: Int, tokensCol: String = "tokens"): TfIdfFit = {
    require(vocabSize <= broadcastVocabCap,
      s"vocabSize=$vocabSize exceeds the driver/broadcast ceiling " +
        s"($broadcastVocabCap); use vocabTable + countVectorsViaJoin for " +
        "the distributed vocabulary path")
    val docs = Observation()
    val top = termStats(tokens.observe(docs, count(lit(1)).as("m")), tokensCol)
      .orderBy(col("cnt").desc, col("term"))
      .limit(vocabSize)
      .select("term", "df")
      .collect()
    val m = docs.get("m").asInstanceOf[Long]
    val idf = top.map { r =>
      val df = r.getLong(1)
      if (df >= 2) math.log((m + 1.0) / (df + 1.0)) else 0.0
    }
    TfIdfFit(top.map(_.getString(0)), idf, m)
  }

  /** P8 + A5 in one projection: per doc, the count of each vocabulary
    * term times its idf, where idf == 0.0 is floored to 0.0001 — the
    * reference substitutes 0.0001 instead of zeroing the term
    * (`LDAClustering.scala:184-187`), so minDocFreq-filtered terms keep
    * a tiny weight (`IDFModel.transform` would multiply by true 0).
    * SparseVector of dim vocab.length with ascending indices;
    * out-of-vocabulary tokens drop. */
  def flooredTfIdf(df: DataFrame, vocab: Array[String], idf: Array[Double],
      tokensCol: String = "tokens", outCol: String = "features"): DataFrame = {
    val weights = idf.map(w => if (w == 0.0) 0.0001 else w)
    val b = df.sparkSession.sparkContext.broadcast((vocab.zipWithIndex.toMap, weights))
    val size = vocab.length
    val scale = udf { tokens: Seq[String] =>
      val (index, w) = b.value
      val counts = scala.collection.mutable.HashMap.empty[Int, Double]
      tokens.foreach(t => index.get(t).foreach(i => counts(i) = counts.getOrElse(i, 0.0) + 1.0))
      val idx = counts.keys.toArray.sorted
      Vectors.sparse(size, idx, idx.map(i => counts(i) * w(i))): Vector
    }
    df.withColumn(outCol, scale(col(tokensCol)))
  }

  /** P8/P10 — raw count vectors of dim vocab.length over the tokens
    * column (classification's features: the reference applies no IDF at
    * inference). CountVectorizerModel broadcasts the vocab and emits
    * SparseVector with ascending indices — the reference's
    * representation. This is the BELOW-the-cap path; past
    * [[broadcastVocabCap]] terms use [[vocabTable]] +
    * [[countVectorsViaJoin]] instead — identical output
    * (VectorizeFallbackSpec proves it), distributed vocab. */
  def countVectors(df: DataFrame, vocab: Array[String],
      tokensCol: String = "tokens", outCol: String = "tf"): DataFrame =
    new CountVectorizerModel(vocab)
      .setInputCol(tokensCol)
      .setOutputCol(outCol)
      .transform(df)

  /** Vocabulary ceiling for the broadcast path: ~4M terms ≈ a few
    * hundred MB of broadcast + hash-map per executor — comfortably
    * inside a normal executor heap, and far below where a driver
    * collect() starts to hurt. A 100 TB multilingual corpus easily
    * exceeds it; callers switch to the join path above this. */
  val broadcastVocabCap: Int = 4 * 1000 * 1000

  /** T1 as a DISTRIBUTED table (term, vid) over [[termStats]]: same
    * frequency ranking and (cnt DESC, term ASC) tie order as [[fit]],
    * but the mapping never leaves the cluster — vid comes from a
    * range-sort + zipWithIndex (graft.GlobalIndex), not a driver
    * collect. */
  def vocabTable(stats: DataFrame, vocabSize: Int): DataFrame =
    graft.GlobalIndex
      .withGlobalIndex(stats, Seq(col("cnt").desc, col("term")), "vid")
      .filter(col("vid") < vocabSize)
      .select(col("term"), col("vid"))

  /** P8 ABOVE the broadcast cap: count vectors via an exploded-token
    * shuffle join against [[vocabTable]] — the scale path when the
    * vocabulary itself no longer fits one array (hundreds of millions
    * of multilingual terms at 100 TB). One shuffle keyed on term (the
    * join), one on doc id (the regroup); out-of-vocab tokens drop in
    * the join; docs with zero in-vocab tokens keep an empty vector via
    * the left join. Output is byte-identical to [[countVectors]]
    * (ascending indices, double counts) — VectorizeFallbackSpec holds
    * both paths equal. */
  def countVectorsViaJoin(df: DataFrame, vocab: DataFrame, vocabCount: Int,
      idCol: String = "doc_id", tokensCol: String = "tokens",
      outCol: String = "tf"): DataFrame = {
    val pairs = df
      .select(col(idCol).as("__cv_doc"), explode(col(tokensCol)).as("term"))
      .join(vocab, "term")
      .groupBy(col("__cv_doc"), col("vid"))
      .agg(count(lit(1)).cast("double").as("c"))
    val lists = pairs
      .groupBy("__cv_doc")
      .agg(sort_array(collect_list(struct(col("vid").cast("int").as("i"), col("c"))))
        .as("__cv_ic"))
    val assemble = udf { ic: Seq[org.apache.spark.sql.Row] =>
      if (ic == null)
        Vectors.sparse(vocabCount, Array.empty[Int], Array.empty[Double]): Vector
      else
        Vectors.sparse(vocabCount,
          ic.map(_.getInt(0)).toArray, ic.map(_.getDouble(1)).toArray): Vector
    }
    df.join(lists, df(idCol) === lists("__cv_doc"), "left")
      .withColumn(outCol, assemble(col("__cv_ic")))
      .drop("__cv_doc", "__cv_ic")
  }

  /** A3 — the reference's "token count": number of *active* (distinct)
    * terms per doc summed over the corpus (`LDAClustering.scala:197`),
    * not raw occurrences. */
  def activeTermCount(df: DataFrame, vecCol: String = "features"): Long = {
    val numActives = udf((v: Vector) => v.numActives)
    df.agg(sum(numActives(col(vecCol)))).head().getLong(0)
  }
}
