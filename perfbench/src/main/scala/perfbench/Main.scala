package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.QueryDef
import graft.ml.{CorpusReader, LdaPipeline, Pipeline}
import org.apache.spark.PerfbenchBus
import org.apache.spark.ml.clustering.DistributedLDAModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._

/** Closed-loop benchmark runner: one client runs a workload's ops one
  * after another in one `local[cores]` session.
  *
  * A run is: set-up (from JVM launch to a warmed-up session), one cold
  * pass, an untimed check pass whose outputs the Python side compares
  * (for `books_lda`, checks of the last pass's models instead, at the
  * end), and warm passes until the cold and warm passes have taken the
  * run's seconds, and at least `--min-warm` of them. The op
  * order of every pass comes from the plan file written by `run.py`. With `--trace 1` warm passes alternate untraced and traced,
  * so the run also measures the tracing's own cost.
  *
  * Everything measured goes to `<out>/result.json`; metrics are computed
  * by `run.py`. */
object Main {

  /** graft's query modules, by the names the benchmark reports. */
  val registry: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> graft.operators.Relational.defs,
    "Windows" -> graft.operators.Windows.defs,
    "Grouping" -> graft.operators.Grouping.defs,
    "Scalars" -> graft.operators.Scalars.defs,
    "Advanced" -> graft.operators.Advanced.defs,
    "Extras" -> graft.operators.Extras.defs,
    "Reshape" -> graft.operators.Reshape.defs,
    "Graph" -> graft.operators.Graph.defs,
    "MlQueries" -> graft.operators.MlQueries.defs,
    "Storage" -> graft.operators.Storage.defs,
    "Dedup" -> graft.operators.Dedup.defs,
    "Similarity" -> graft.operators.Similarity.defs,
    "Curation" -> graft.operators.Curation.defs,
    "TextAnalysis" -> graft.operators.TextAnalysis.defs,
    "Multimodal" -> graft.multimodal.Multimodal.defs,
    "Streams" -> graft.streaming.Streams.defs)

  final case class Opts(workload: String, seed: Long, seconds: Double,
      traced: Boolean, cores: Int, data: String, out: String, plan: String,
      books: String, stopwords: String, minWarm: Int, launchedMs: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, a("data"), a("out"), a("plan"),
      a.getOrElse("books", ""), a.getOrElse("stopwords", ""),
      a("min-warm").toInt, a("launched-ms").toLong)
    new Run(o).go()
  }

  /** Exchanges in a physical plan, including AQE's current plan and
    * subqueries; a reused exchange is not a new one. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}

final class Run(o: Main.Opts) {
  import Run._

  private val dirs = Map(
    "warehouse" -> s"${o.out}/warehouse",
    "checkpoint" -> s"${o.out}/checkpoint",
    "tmp" -> s"${o.out}/tmp",
    "local" -> s"${o.out}/local")
  dirs.values.foreach(d => new File(d).mkdirs())

  private val rec = new Recorder
  private var spark: SparkSession = _
  private var setupS = 0.0

  private val ops = mutable.ArrayBuffer.empty[OpRec]
  private val passes = mutable.ArrayBuffer.empty[PassRec]
  private val extra = mutable.LinkedHashMap.empty[String, Any]

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", dirs("warehouse"))
      .config("spark.local.dir", dirs("local"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(dirs("checkpoint"))
    // the warm-up graft.Bench runs untimed before its first query
    s.range(100000).selectExpr("sum(id)").collect()
    s.read.parquet(s"${o.data}/region.parquet").count()
    s
  }

  /** Set-up, timed from the moment `run.py` launched the JVM: JVM start,
    * class loading, session start and the warm-up. */
  private def setUp(): Unit = {
    spark = session()
    setupS = (System.currentTimeMillis() - o.launchedMs) / 1e3
  }

  // ---- ops ---------------------------------------------------------

  /** A timed unit of a pass. `run` returns its phase times (build, plan,
    * exec) and exchange count; the caller times the whole. */
  trait Op {
    def name: String
    def module: String
    def run(traced: Boolean, span: Int, opId: String): (Double, Double, Double, Int)
  }

  private def phase[A](traced: Boolean, name: String, parent: Int, opId: String)(f: => A): (A, Double) = {
    val id = if (traced) rec.open(name, parent, opId) else -1
    val t0 = System.nanoTime()
    val r = f
    val dt = (System.nanoTime() - t0) / 1e9
    if (traced) rec.close(id)
    (r, dt)
  }

  private final class QueryOp(val module: String, q: QueryDef) extends Op {
    val name: String = q.name
    def run(traced: Boolean, span: Int, opId: String): (Double, Double, Double, Int) = {
      val (df, b) = phase(traced, "build", span, opId)(q.fn(spark, o.data))
      val (ex, p) =
        if (traced) phase(traced, "plan", span, opId)(Main.exchanges(df.queryExecution.executedPlan))
        else (-1, 0.0)
      val (_, e) = phase(traced, "exec", span, opId)(
        df.write.format("noop").mode("overwrite").save())
      (b, p, e, ex)
    }
  }

  /** The paper's job, as four ops over one pass's shared state. */
  private final class Books {
    // 10 iterations, not the reference's 50: with 50, a run's cold and
    // warm passes would not fit the benchmark's time per run. 10 keeps
    // one EM checkpoint (every 10th iteration) in each fit
    val lda = (alg: String) => LdaPipeline.Params(k = 5,
      maxIterations = 10, algorithm = alg, seed = o.seed)
    lazy val stops: Seq[String] = CorpusReader.readStopwords(spark, o.stopwords)
    var tokens: DataFrame = _
    var em: LdaPipeline.Fitted = _
    var online: LdaPipeline.Fitted = _
    var assigned: DataFrame = _
    var report: String = ""
    val emIters = mutable.ArrayBuffer.empty[Seq[Double]]
    val checkpointBytes = mutable.ArrayBuffer.empty[Long]

    def release(): Unit = {
      Option(tokens).foreach(_.unpersist())
      Option(em).foreach(_.release())
      Option(online).foreach(_.release())
    }

    private def op(n: String, m: String)(f: => Unit): Op = new Op {
      val name: String = n
      val module: String = m
      def run(traced: Boolean, span: Int, opId: String): (Double, Double, Double, Int) = {
        val (_, e) = phase(traced, "exec", span, opId)(f)
        (0.0, 0.0, e, -1)
      }
    }
    val ops: Seq[Op] = Seq(
      op("prep", "TextPrep") {
        release()
        val books = Pipeline.withDocIds(CorpusReader.readBooks(spark, o.books))
        tokens = Pipeline.prepTokens(books, stops).cache()
        tokens.count()
      },
      op("train_em", "LdaPipeline") {
        em = null
        em = LdaPipeline.train(spark, tokens, lda("em"))
      },
      op("train_online", "LdaPipeline") {
        online = LdaPipeline.train(spark, tokens, lda("online"))
      },
      op("classify", "Pipeline") {
        val (a, r) = Pipeline.classifyBooks(spark, o.books, stops, em)
        assigned = a
        report = r
      })

    /** Untimed, around each train_em: iteration times and the bytes the
      * fit left in the checkpoint dir, one entry per pass. */
    private var ckptBefore = 0L
    def afterOp(name: String): Unit = name match {
      case "prep" => ckptBefore = Run.bytesUnder(new File(dirs("checkpoint")))
      case "train_em" =>
        emIters += Option(em).flatMap(LdaPipeline.emIterationTimes).getOrElse(Nil)
        checkpointBytes += Run.bytesUnder(new File(dirs("checkpoint"))) - ckptBefore
      case _ => ()
    }
  }

  // ---- passes ------------------------------------------------------

  private def runPass(idx: Int, kind: String, traced: Boolean, order: Seq[Op],
      runSpan: Int, after: String => Unit): Unit = {
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(rec)
    val pSpan = if (traced) rec.open(s"pass$idx", runSpan) else -1
    val pStart = Clock.ms()
    var mSpan = -1
    var mName = ""
    order.foreach { op =>
      if (traced && op.module != mName) {
        if (mSpan >= 0) rec.close(mSpan)
        mSpan = rec.open(op.module, pSpan)
        mName = op.module
      }
      val opId = s"${Recorder.GroupPrefix}p$idx:${op.name}"
      val oSpan = if (traced) rec.open(op.name, mSpan, opId) else -1
      if (traced) {
        rec.currentOp = opId
        sc.setJobGroup(opId, op.name)
      }
      val start = Clock.ms()
      val r = try Right(op.run(traced, oSpan, opId)) catch {
        case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val end = Clock.ms()
      if (traced) {
        rec.close(oSpan)
        sc.clearJobGroup()
        PerfbenchBus.drain(sc)
        rec.currentOp = ""
      }
      r match {
        case Right((b, p, e, ex)) =>
          ops += OpRec(idx, op.name, op.module, start, end, b, p, e, ok = true, "", ex)
        case Left(err) =>
          System.err.println(s"[perfbench] pass $idx ${op.name} FAILED: $err")
          ops += OpRec(idx, op.name, op.module, start, end, 0, 0, 0, ok = false, err, -1)
      }
      after(op.name)
    }
    if (mSpan >= 0) rec.close(mSpan)
    val pEnd = Clock.ms()
    if (traced) {
      rec.close(pSpan)
      sc.removeSparkListener(rec)
    }
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    passes += PassRec(idx, kind, traced, pStart, pEnd, cached)
  }

  def go(): Unit = {
    val t0 = System.nanoTime()
    setUp()
    val books = if (o.workload == "books_lda") Some(new Books) else None
    val byName: Map[String, Op] = books match {
      case Some(b) => b.ops.map(op => op.name -> op).toMap
      case None => Main.registry.flatMap { case (m, defs) =>
        defs.map(q => q.name -> (new QueryOp(m, q): Op)) }.toMap
    }
    val planLines = scala.io.Source.fromFile(o.plan).getLines().map(_.trim)
      .filter(_.nonEmpty).toVector
    val missing = planLines.flatMap(_.split(" ")).distinct.filterNot(byName.contains)
    val order = planLines.map(_.split(" ").toSeq.filter(byName.contains).map(byName))
    val after: String => Unit = n => books.foreach(_.afterOp(n))

    val runSpan = rec.open("run", -1)
    val coldStart = System.nanoTime()
    runPass(0, "cold", o.traced, order(0), runSpan, after)
    val coldS = (System.nanoTime() - coldStart) / 1e9
    // the query check runs between the cold and the warm passes, where it
    // also lets the JIT settle further before the warm passes are timed
    var checkS = 0.0
    val queryChecks = if (books.isDefined) None else Some {
      val span = rec.open("check", runSpan)
      val t = System.nanoTime()
      val c = checkQueries(order(0))
      checkS = (System.nanoTime() - t) / 1e9
      rec.close(span)
      c
    }
    val warmStart = System.nanoTime()
    var i = 1
    while (i < order.size &&
        (i <= o.minWarm || coldS + (System.nanoTime() - warmStart) / 1e9 < o.seconds)) {
      runPass(i, "warm", o.traced && i % 2 == 0, order(i), runSpan, after)
      i += 1
    }
    rec.close(runSpan)
    val timedS = (System.nanoTime() - warmStart) / 1e9
    val hwmKb = Run.vmHwmKb()

    // the books check reads the last pass's models
    val checks = queryChecks.getOrElse {
      val t = System.nanoTime()
      val c = checkBooks(books.get)
      checkS = (System.nanoTime() - t) / 1e9
      c
    }
    books.foreach(_.release())

    Run.writeJson(s"${o.out}/result.json", Map(
      "workload" -> o.workload, "seed" -> o.seed, "traced" -> o.traced,
      "settings" -> Map(
        "master" -> s"local[${o.cores}]",
        "spark.sql.shuffle.partitions" -> o.cores,
        "spark.sql.adaptive.enabled" -> true,
        "spark.sql.files.openCostInBytes" -> 65536,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> true,
        "checkpoint_dir" -> dirs("checkpoint"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version),
      "setup_s" -> setupS,
      "warm_s" -> timedS,
      "check_s" -> checkS,
      "missing_ops" -> missing,
      "registry" -> Main.registry.map { case (m, d) => Map("module" -> m,
        "ops" -> d.map(_.name)) },
      "surface" -> graft.SparkEntry.queries.keys.toSeq.sorted,
      "passes" -> passes.toSeq.map(p => Map("idx" -> p.idx, "kind" -> p.kind,
        "traced" -> p.traced, "start" -> p.start, "end" -> p.end,
        "cache_bytes" -> p.cacheBytes)),
      "ops" -> ops.toSeq.map(r => Map("pass" -> r.pass, "name" -> r.name,
        "module" -> r.module, "start" -> r.start, "end" -> r.end,
        "build_s" -> r.build, "plan_s" -> r.plan, "exec_s" -> r.exec,
        "ok" -> r.ok, "error" -> r.error, "exchanges" -> r.exchanges)),
      "checks" -> checks,
      "extra" -> extra.toMap,
      "trace" -> rec.toJson,
      "rss_hwm_kb" -> hwmKb,
      "jvm_s" -> (System.nanoTime() - t0) / 1e9))
    spark.stop()
  }

  /** Each query op of the run, once more: its result as parquet files
    * for the oracle compare, plus the oracle SQL. */
  private def checkQueries(ops: Seq[Op]): Seq[Map[String, Any]] = {
    val oracles = Main.registry.flatMap(_._2).map(q => q.name -> q.oracle).toMap
    ops.map { op =>
      val dir = s"${o.out}/check/${op.name}"
      val err = try {
        val q = Main.registry.flatMap(_._2).find(_.name == op.name).get
        q.fn(spark, o.data).write.mode("overwrite").parquet(dir)
        ""
      } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      Map("name" -> op.name, "dir" -> dir, "error" -> err,
        "oracle" -> oracles.get(op.name).flatten.getOrElse(""))
    }
  }

  /** The LDA invariants of the last pass's outputs, plus fit quality. */
  private def checkBooks(b: Books): Seq[Map[String, Any]] = {
    def topics(name: String, f: LdaPipeline.Fitted): Seq[(String, Boolean)] = {
      val rows = LdaPipeline.describeTopics(spark, f, 10).collect()
      val ws = rows.map(_.getSeq[Double](2))
      Seq(
        s"$name.k_topics" -> (rows.length == 5),
        s"$name.terms_distinct" -> rows.forall { r =>
          val t = r.getSeq[String](1); t.nonEmpty && t.distinct.size == t.size },
        s"$name.weights_positive" -> ws.forall(_.forall(_ > 0)),
        s"$name.weights_descending" -> ws.forall(w => w.zip(w.drop(1)).forall { case (x, y) => x >= y }))
    }
    val res = try {
      val nBooks = Option(new File(o.books).listFiles()).map(_.count(_.isFile)).getOrElse(0)
      val dist = b.assigned.select(col("book_name"), col("main_topic"),
        org.apache.spark.ml.functions.vector_to_array(col("topicDistribution")).as("p"))
        .collect()
      val tokens = b.tokens.select(sum(size(col("tokens")))).head().getLong(0)
      val emLl = b.em.model match {
        case m: DistributedLDAModel => m.trainingLogLikelihood
        case _ => Double.NaN
      }
      val perplexity = b.online.model.logPerplexity(b.online.corpus)
      extra("lda") = Map(
        "tokens" -> tokens, "vocab" -> b.em.vocab.length,
        "em_loglik_per_token" -> emLl / tokens,
        "online_logperplexity" -> perplexity,
        "em_iter_s" -> b.emIters.toSeq,
        "checkpoint_bytes" -> b.checkpointBytes.toSeq)
      topics("train_em", b.em) ++ topics("train_online", b.online) ++ Seq(
        "prep.tokens_nonempty" -> (tokens > 0),
        "classify.every_book_once" -> (dist.length == nBooks &&
          dist.map(_.getString(0)).distinct.length == nBooks),
        "classify.topic_in_range" -> dist.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 5),
        "classify.dist_sums_to_1" -> dist.forall(r =>
          math.abs(r.getSeq[Double](2).sum - 1.0) < 1e-6),
        "classify.dist_nonneg" -> dist.forall(_.getSeq[Double](2).forall(_ >= 0)),
        "classify.report_nonempty" -> b.report.nonEmpty,
        "train_em.loglik_finite" -> !(emLl.isNaN || emLl.isInfinite),
        "train_online.perplexity_finite" -> !(perplexity.isNaN || perplexity.isInfinite))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] books check FAILED: $e")
        Seq("check.ran" -> false)
    }
    res.map { case (n, ok) => Map("name" -> n, "ok" -> ok) }
  }
}

object Run {
  final case class OpRec(pass: Int, name: String, module: String,
      start: Double, end: Double, build: Double, plan: Double, exec: Double,
      ok: Boolean, error: String, exchanges: Int)
  final case class PassRec(idx: Int, kind: String, traced: Boolean,
      start: Double, end: Double, cacheBytes: Long)

  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Writes Scala maps, sequences and scalars as JSON; NaN stays NaN,
    * which Python's json module reads. */
  def writeJson(path: String, v: Any): Unit =
    JsonMapper.builder().addModule(DefaultScalaModule)
      .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()
      .writeValue(new File(path), v)

  /** Peak resident set of this JVM (VmHWM), or -1 off Linux. */
  def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case NonFatal(_) => -1L }
}
