package graft.ml

import graft.TestSpark
import org.apache.spark.sql.functions._

/** One-off measurement: broadcast vs join count-vector paths
  * (NOTES.md crossover entry). Run: Test/runMain graft.ml.VocabPathBench */
object VocabPathBench {
  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tokens")).cache()
    docs.count()
    val stats = Vectorize.termStats(docs).cache()
    val n = stats.count()
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // warmup both
    Vectorize.countVectors(docs, Vectorize.fit(docs, n.toInt).vocab).count()
    Vectorize.countVectorsViaJoin(docs, Vectorize.vocabTable(stats, n.toInt), n.toInt).count()
    time(s"broadcast (vocab=$n)") {
      Vectorize.countVectors(docs, Vectorize.fit(docs, n.toInt).vocab)
        .write.format("noop").mode("overwrite").save()
    }
    time(s"join      (vocab=$n)") {
      Vectorize.countVectorsViaJoin(docs, Vectorize.vocabTable(stats, n.toInt), n.toInt)
        .write.format("noop").mode("overwrite").save()
    }
  }
}
