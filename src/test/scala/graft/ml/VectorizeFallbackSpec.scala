package graft.ml

import graft.TestSpark
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The vocabulary's two count-vector paths must be interchangeable:
  * broadcast CountVectorizerModel below [[Vectorize.broadcastVocabCap]],
  * distributed vocabTable + exploded-token join above it. Here both run
  * on the same corpus and every per-doc SparseVector must be identical
  * (dim, indices, values) — including docs with zero in-vocab tokens.
  */
class VectorizeFallbackSpec extends AnyFunSuite {
  import TestSpark._

  private val dir = TestSpark.sf

  test("countVectorsViaJoin equals broadcast countVectors (full vocab)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    val stats = Vectorize.termStats(docs)

    val vocab = Vectorize.fit(docs, 1000).vocab
    val viaBroadcast = Vectorize.countVectors(docs, vocab)
      .select("doc_id", "tf").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector]("tf")).toMap

    val vt = Vectorize.vocabTable(stats, 1000)
    val viaJoin = Vectorize.countVectorsViaJoin(docs, vt, vocab.length)
      .select("doc_id", "tf").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector]("tf")).toMap

    assert(viaJoin.keySet == viaBroadcast.keySet)
    viaBroadcast.foreach { case (id, v) =>
      assert(viaJoin(id) == v, s"vector mismatch for doc $id")
    }
  }

  test("join path handles docs with zero in-vocab tokens (tiny vocab)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
    val stats = Vectorize.termStats(docs)

    // vocab of 2: most docs still hit it, but if any doc misses, both
    // paths must agree on the empty vector; also checks dim plumbing
    val vocab = Vectorize.fit(docs, 2).vocab
    val viaBroadcast = Vectorize.countVectors(docs, vocab)
      .select("doc_id", "tf").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector]("tf")).toMap
    val viaJoin = Vectorize
      .countVectorsViaJoin(docs, Vectorize.vocabTable(stats, 2), vocab.length)
      .select("doc_id", "tf").collect()
      .map(r => r.getLong(0) -> r.getAs[Vector]("tf")).toMap

    assert(viaJoin == viaBroadcast)
    assert(viaBroadcast.values.forall(_.size == 2))
  }
}
