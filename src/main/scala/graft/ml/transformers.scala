package graft.ml

import org.apache.spark.ml.{Estimator, Model, Transformer}
import org.apache.spark.ml.param.{DoubleArrayParam, Param, ParamMap, StringArrayParam}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** spark.ml Pipeline stages wrapping the text-prep + vectorization
  * operators (SURVEY.md §7 design stance: an ml.Pipeline-centric
  * library). Each stage is a thin Transformer over the column functions
  * in [[TextPrep]]/[[Vectorize]], so the same semantics are available
  * both as composable pipeline stages and as direct expressions.
  *
  * Every stage is DefaultParamsWritable: all state lives in Params
  * (including the fitted vocabulary/idf of [[TfIdfFloorModel]]), so the
  * FULL fitted dataflow — prep stages + vectorizer + LDA — round-trips
  * as one `PipelineModel` artifact and re-transforms bit-identically on
  * reload (StagedPersistenceSpec). The reference persisted only
  * model+vocab (`models/LdaModel_*`), leaving the loader to re-wire the
  * TF·IDF floor by hand; here the floor's weights ride inside the
  * artifact.
  */
abstract class ColumnTransformer(override val uid: String)
    extends Transformer with DefaultParamsWritable {
  final val inputCol = new Param[String](this, "inputCol", "input column")
  final val outputCol = new Param[String](this, "outputCol", "output column")
  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)

  protected def outputType: DataType
  protected def transformColumn(in: org.apache.spark.sql.Column): org.apache.spark.sql.Column

  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn($(outputCol), transformColumn(col($(inputCol))))

  override def transformSchema(schema: StructType): StructType =
    schema.add(StructField($(outputCol), outputType, nullable = true))

  override def copy(extra: ParamMap): Transformer = defaultCopy(extra)
}

/** P3 — the reference's special-character strip as a pipeline stage. */
class SpecialCharFilter(uid: String) extends ColumnTransformer(uid) {
  def this() = this(Identifiable.randomUID("graftSpecialCharFilter"))
  override protected def outputType: DataType = StringType
  override protected def transformColumn(in: org.apache.spark.sql.Column) =
    TextPrep.filterSpecialCharacters(in)
}
object SpecialCharFilter extends DefaultParamsReadable[SpecialCharFilter]

/** P2 — sentence-split + dedup + len>3 lemmatization stage. */
class Lemmatizer(uid: String) extends ColumnTransformer(uid) {
  def this() = this(Identifiable.randomUID("graftLemmatizer"))
  override protected def outputType: DataType = StringType
  override protected def transformColumn(in: org.apache.spark.sql.Column) =
    TextPrep.lemmatizeUdf(in)
}
object Lemmatizer extends DefaultParamsReadable[Lemmatizer]

/** P4 — tokenize, case-sensitive pre-stem stopword filter, Porter stem. */
class TokenizeFilterStem(uid: String) extends ColumnTransformer(uid) {
  def this() = this(Identifiable.randomUID("graftTokenizeFilterStem"))
  final val stopwords = new StringArrayParam(this, "stopwords", "stopword list")
  setDefault(stopwords, Array.empty[String])
  def setStopwords(v: Seq[String]): this.type = set(stopwords, v.toArray)
  override protected def outputType: DataType = ArrayType(StringType)
  override protected def transformColumn(in: org.apache.spark.sql.Column) =
    TextPrep.tokenizeFilterStem(in, $(stopwords).toSeq)
}
object TokenizeFilterStem extends DefaultParamsReadable[TokenizeFilterStem]

/** M2 — frequency-ranked vocabulary + count vectors + IDF(minDocFreq=2)
  * + the reference's 0.0001 zero-floor TF·IDF (T1/P8/A4/A5) as one
  * Estimator producing a reusable, persistable model — the same
  * one-pass [[Vectorize.fit]] and [[Vectorize.flooredTfIdf]] projection
  * that LdaPipeline.train runs. */
class TfIdfFloorVectorizer(override val uid: String)
    extends Estimator[TfIdfFloorModel] with DefaultParamsWritable {
  def this() = this(Identifiable.randomUID("graftTfIdfFloor"))
  final val tokensCol = new Param[String](this, "tokensCol", "tokens column")
  final val outputCol = new Param[String](this, "outputCol", "features column")
  final val vocabSize = new Param[Int](this, "vocabSize", "max vocabulary size")
  setDefault(tokensCol, "tokens"); setDefault(outputCol, "features")
  setDefault(vocabSize, 2900000)
  def setTokensCol(v: String): this.type = set(tokensCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setVocabSize(v: Int): this.type = set(vocabSize, v)

  override def fit(ds: Dataset[_]): TfIdfFloorModel = {
    val fit = Vectorize.fit(ds.toDF(), $(vocabSize), $(tokensCol))
    val m = new TfIdfFloorModel(Identifiable.randomUID("graftTfIdfFloorModel"))
      .setVocab(fit.vocab).setIdf(fit.idf)
      .setTokensCol($(tokensCol)).setOutputCol($(outputCol))
    m.setParent(this)
  }

  override def transformSchema(schema: StructType): StructType =
    schema.add(StructField($(outputCol),
      org.apache.spark.ml.linalg.SQLDataTypes.VectorType, nullable = true))

  override def copy(extra: ParamMap): TfIdfFloorVectorizer = defaultCopy(extra)
}
object TfIdfFloorVectorizer extends DefaultParamsReadable[TfIdfFloorVectorizer]

/** The fitted vocabulary + floored-idf transform (tokens → features).
  *
  * Vocabulary and idf weights are PARAMS (not constructor state), which
  * is what makes the model DefaultParamsWritable — they persist in the
  * stage's metadata JSON and reload through the standard PipelineModel
  * reader with no custom writer. Scale note: one string + one double
  * per vocab term in metadata is fine up to the engine's 4M-term
  * broadcast vocab cap; past the cap the vocabulary no longer fits one
  * array anywhere and the pipeline switches to the distributed-vocab
  * path (`Vectorize.vocabTable` + `countVectorsViaJoin`), where the
  * mapping persists as a table, not a stage param. */
class TfIdfFloorModel(override val uid: String)
    extends Model[TfIdfFloorModel] with DefaultParamsWritable {
  def this() = this(Identifiable.randomUID("graftTfIdfFloorModel"))
  final val tokensCol = new Param[String](this, "tokensCol", "tokens column")
  final val outputCol = new Param[String](this, "outputCol", "features column")
  final val vocabulary =
    new StringArrayParam(this, "vocabulary", "fitted frequency-ranked vocabulary")
  final val idfWeights =
    new DoubleArrayParam(this, "idfWeights", "fitted idf weights (0 → floored at 0.0001)")
  setDefault(tokensCol, "tokens"); setDefault(outputCol, "features")
  def setTokensCol(v: String): this.type = set(tokensCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setVocab(v: Array[String]): this.type = set(vocabulary, v)
  def setIdf(v: Array[Double]): this.type = set(idfWeights, v)
  def vocab: Array[String] = $(vocabulary)
  def idf: Array[Double] = $(idfWeights)

  override def transform(ds: Dataset[_]): DataFrame =
    Vectorize.flooredTfIdf(ds.toDF(), vocab, idf, $(tokensCol), $(outputCol))

  override def transformSchema(schema: StructType): StructType =
    schema.add(StructField($(outputCol),
      org.apache.spark.ml.linalg.SQLDataTypes.VectorType, nullable = true))

  override def copy(extra: ParamMap): TfIdfFloorModel = defaultCopy(extra)
}
object TfIdfFloorModel extends DefaultParamsReadable[TfIdfFloorModel]
