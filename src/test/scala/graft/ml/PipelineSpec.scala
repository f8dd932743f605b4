package graft.ml

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end: the reference's two entry points (train → save; load →
  * classify → golden report) on a tiny self-authored corpus. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private lazy val booksDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus")
    val texts = Map(
      "Cats and Dogs, A Tale - Nobody.txt" ->
        ("The cats chased the dogs across gardens. The dogs barked loudly; " +
          "cats purred quietly. Gardens bloomed while animals played together happily."),
      "Spark Engines - Somebody.txt" ->
        ("Spark engines shuffle partitions across executors. Executors aggregate " +
          "partitions quickly. Shuffling dominates distributed engines entirely."),
      "Mixed Matters - Anyone.txt" ->
        ("Dogs played near spark engines while cats watched executors quietly. " +
          "Animals and engines rarely interact meaningfully together."))
    texts.foreach { case (name, text) =>
      java.nio.file.Files.writeString(dir.resolve(name), text)
    }
    dir.toString
  }

  test("trainOnBooks → save → latestModel → load → classifyBooks → report") {
    val stop = Seq("the", "and", "while", "a")
    val modelRoot = java.nio.file.Files.createTempDirectory("graft_models").toString
    val saveDir = s"$modelRoot/LdaModel_EN_1700000000001"

    val (fitted, topics) = Pipeline.trainOnBooks(spark, booksDir, stop,
      LdaPipeline.Params(k = 2, maxIterations = 10, algorithm = "online",
        checkpointInterval = -1, seed = 11L),
      saveDir = Some(saveDir))
    assert(topics.count() == 2)
    assert(fitted.vocab.nonEmpty)

    // T4 — latest-model pick by timestamp parse
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$modelRoot/LdaModel_EN_1600000000000"))
    assert(Pipeline.latestModel(modelRoot).contains(saveDir))

    val (model, vocab) = LdaPipeline.load(spark, saveDir, "online")
    assert(vocab.toSeq == fitted.vocab.toSeq)
    assert(model.vocabSize == fitted.model.vocabSize)

    val (assigned, report) = Pipeline.classifyBooks(spark, booksDir, stop, fitted)
    assert(assigned.count() == 3)
    // golden-format shape (K3): rules, book blocks, comma-escaped names
    assert(report.startsWith("#" * 87))
    assert(report.contains("LDA Model with 2 topics"))
    assert(report.contains("Book's name: Cats and Dogs? A Tale - Nobody.txt"))
    assert(report.contains("Main topic of the book: Topic Nr. ("))
    assert(report.contains("TOPIC 0: top-weighted terms"))
    assert(report.contains("TOPIC 1: top-weighted terms"))
  }

  test("S6 language dispatch map matches the reference's codes") {
    assert(Pipeline.languageDirs("EN") == "English")
    assert(Pipeline.languageDirs("GE") == "German")
    assert(Pipeline.languageDirs.size == 8)
  }

  test("P6: doc ids from the file listing equal a sort over (book_name, path)") {
    // one file name under two subdirectories, a ',' and a '+' in file
    // names, and an empty file (the scan yields no row for it)
    val root = java.nio.file.Files.createTempDirectory("graft_ids")
    val files = Seq(
      "a/Same Name.txt" -> "Cats chased dogs around gardens quietly tonight.",
      "b/Same Name.txt" -> "Spark engines shuffle partitions across executors.",
      "a/Comma, Book - Someone.txt" -> "Executors aggregate partitions while cats sleep.",
      "b/C++ Guide.txt" -> "Gardens bloomed while engines shuffled data blocks.",
      "b/Zebra+Notes.txt" -> "Dogs barked loudly at spark engines every morning.",
      "a/Empty.txt" -> "")
    files.foreach { case (rel, text) =>
      val f = root.resolve(rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, text)
    }
    // a glob over the subdirectories: the text scan does not recurse
    val books = CorpusReader.readBooks(spark, s"$root/*")
    val got = Pipeline.withDocIds(books)
      .select("path", "book_name", "doc_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window.orderBy("book_name", "path")
    val want = books
      .withColumn("doc_id", (org.apache.spark.sql.functions.row_number().over(w) - 1).cast("long"))
      .select("path", "book_name", "doc_id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want)
    assert(got.size == files.count(_._2.nonEmpty))
    assert(got.keySet.map(_._2) ==
      Set("Same Name.txt", "Comma? Book - Someone.txt", "C++ Guide.txt", "Zebra+Notes.txt"))
    assert(got.values.toSeq.sorted == got.values.toSeq.indices.map(_.toLong))
  }

  test("P6: same seed → identical topics through withDocIds → prepTokens → train") {
    val stop = Seq("the", "and", "while", "a")
    def topics(alg: String) = {
      val books = Pipeline.withDocIds(CorpusReader.readBooks(spark, booksDir))
      val fitted = LdaPipeline.train(spark, Pipeline.prepTokens(books, stop),
        LdaPipeline.Params(k = 2, maxIterations = 10, algorithm = alg,
          checkpointInterval = -1, seed = 5L))
      try LdaPipeline.describeTopics(spark, fitted, 5).collect()
        .map(r => (r.getInt(0), r.getSeq[String](1), r.getSeq[Double](2))).toSeq
      finally fitted.release()
    }
    Seq("em", "online").foreach { alg =>
      val (a, b) = (topics(alg), topics(alg))
      assert(a.map(t => (t._1, t._2)) == b.map(t => (t._1, t._2)), s"$alg topic terms")
      // EM folds the per-partition topic totals in task-completion
      // order, so its weights may differ in the last bits between runs
      a.zip(b).foreach { case (x, y) =>
        x._3.zip(y._3).foreach { case (u, v) =>
          assert(math.abs(u - v) <= 1e-12, s"$alg weights: ${x._3} vs ${y._3}")
        }
      }
    }
  }
}
