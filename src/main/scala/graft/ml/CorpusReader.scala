package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** S1 — whole-file corpus ingestion: the reference's
  * `sc.wholeTextFiles(paths).map(_._2)` (`LDAClustering.scala:113`)
  * as a declarative scan that KEEPS the path (the loader needs book
  * names — SURVEY.md §2.3 P1 note).
  *
  * Scale notes: `wholetext` text scan yields one record per file — few
  * large records — so we repartition immediately to parallelize the
  * expensive per-document UDF chain (SURVEY.md §4). For >2 GB files or
  * binary payloads the `binaryFile` source is the fallback. The P9
  * comma→`?` substitution survives only as report-name escaping
  * (`LDALoader.scala:81` worked around wholeTextFiles' comma-separated
  * path lists; a declarative scan has no such problem).
  */
object CorpusReader {

  /** A file URI as input_file_name() yields it and as the file index
    * lists it (percent-encoded) → its path. URLDecoder is the wrong
    * tool (it turns literal '+' into a space, corrupting names like
    * "C++ Guide.txt"); URI.getPath decodes only %XX escapes. */
  private[ml] def decodePath(uri: String): String =
    try new java.net.URI(uri).getPath
    catch { case _: java.net.URISyntaxException => uri }

  /** A book's name: the path's last segment, ',' escaped as '?' (P9). */
  private[ml] def bookName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1).replace(",", "?")

  /** One row per non-empty file `dir` names — the files of a
    * directory (not of its subdirectories), or of every directory a
    * glob pattern matches: `(path, book_name, text)`, where
    * `path` is the decoded file path and `book_name` its escaped last
    * segment. The rows are spread over
    * defaultParallelism partitions by one round-robin shuffle, so the
    * per-document UDF chain downstream runs wide; the DataFrame keeps
    * the scan's file listing, from which [[Pipeline.withDocIds]] numbers
    * the books without another job. */
  def readBooks(spark: SparkSession, dir: String): DataFrame = {
    val parallelism = spark.sparkContext.defaultParallelism
    val path = udf(decodePath _)
    val name = udf(bookName _)
    spark.read
      .option("wholetext", "true")
      .text(dir)
      .withColumn("path", path(input_file_name()))
      .select(col("path"), name(col("path")).as("book_name"), col("value").as("text"))
      .repartition(parallelism)
  }

  /** The decoded paths of the files a [[readBooks]] DataFrame reads,
    * from its scan's file listing on the driver — the listing the scan
    * itself reads, so empty files (which the scan skips) are left out. */
  private[ml] def listedPaths(books: DataFrame): Seq[String] = {
    val locations = books.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location }
    require(locations.size == 1,
      s"expected a DataFrame over one file scan (CorpusReader.readBooks), found ${locations.size}")
    locations.head.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => decodePath(f.getPath.toUri.toString))
  }

  /** S2/P5 — stopword file: single line of comma-joined words. */
  def readStopwords(spark: SparkSession, file: String): Seq[String] =
    TextPrep.parseStopwords(
      spark.read.textFile(file).collect().toSeq)
}
