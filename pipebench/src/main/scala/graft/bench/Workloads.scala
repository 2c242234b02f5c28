package graft.bench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.agg.Features
import graft.enrich.Enrich
import graft.parse.{Drain, DrainConfig}
import graft.pipeline.Pipeline
import graft.route.Router
import graft.windows.Windows

/** `hot_sessions`: `Pipeline.run` over a generated
  * transcript corpus. The traced run calls the layers one by one, in
  * `Pipeline.run`'s order and with its arguments, and then `Pipeline.run`
  * itself on the same input; the two results must agree.
  */
final class PipelineWorkload(spark: SparkSession, seed: Long, nConv: Int) extends Workload {
  private val parts = spark.sparkContext.defaultParallelism
  private var input: DataFrame = _
  private var nTurns = 0L
  private var routeFiles = Seq.empty[Double]
  private var routeSinks = Seq.empty[Double]
  private var jobs = Seq.empty[Double]
  private var drift = Seq.empty[String]
  private var tables = 0

  def opsPerPass: Int = 1
  def turns: Long = nTurns

  def stage(dir: String): Unit = {
    Gen.hotSessions(spark, nConv, seed, parts).write.mode("overwrite").parquet(dir)
    input = spark.read.parquet(dir)
    nTurns = input.count()
  }

  /** `Pipeline.run`'s body, one span per layer call. */
  private def composed(dir: String, tracer: Tracer): Pipeline.Result = {
    val cfg = DrainConfig(depth = 4, st = 0.4)
    val dict = tracer.span("parse.mine") {
      val d = Drain.mine(input, "text", cfg)
      spark.createDataFrame(d).write.mode("overwrite").parquet(s"$dir/dict")
      d
    }(_.length.toLong)
    val (parsed, turns) = tracer.span("parse.match") {
      Router.stageWithCount(spark, s"$dir/parse") {
        Drain.matchEventIds(input, "text", dict, cfg)
          .select("conv_id", "turn_idx", "role", "tool", "ts", "event_id")
      }
    }(_._2)
    val labels = tracer.span("enrich.labels") {
      Router.stageWithCount(spark, s"$dir/labels") {
        parsed.groupBy(col("conv_id"))
          .agg(max(when(col("role") === "tool", 1).otherwise(0)).as("label"))
      }
    }(_._2)._1
    tables += 1
    val table = s"bench_route_$tables"
    val routes = tracer.span("route.fan_out") {
      Router.fanOutBucketed(Enrich.convLabels(parsed, labels, broadcastDim = true),
        "event_id", "conv_id", spark.sparkContext.defaultParallelism, s"$dir/route", table)
    }(_.map(_.rows).sum)
    val enriched = spark.table(table)
    val (_, nWindows) = tracer.span("windows.session") {
      Router.stageWithCount(spark, s"$dir/windows") {
        Windows.sessionGroup(enriched, labelCol = Some("label"))
          .withColumn("label", element_at(col("labels"), 1))
          .drop("labels")
      }
    }(_._2)
    val (_, nCv) = tracer.span("agg.count_vectors") {
      Router.stageWithCount(spark, s"$dir/count_vectors") {
        Features.tfidf(Features.countVectors(enriched, Seq("conv_id")), Seq("conv_id"))
      }
    }(_._2)
    tracer.span("agg.salted_count")(Features.saltedCount(enriched, "event_id").collect())(
      _.length.toLong)
    val files = Files.walk(Paths.get(s"$dir/route/data"))
    val nFiles = try files.iterator().asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    } finally files.close()
    routeFiles :+= nFiles.toDouble
    routeSinks :+= routes.size.toDouble
    Pipeline.Result(turns, dict.length, routes, nWindows, nCv)
  }

  def pass(dir: String, tracer: Tracer): Int =
    if (!tracer.enabled) { Pipeline.run(spark, input, dir); 0 }
    else {
      val traced = composed(s"$dir/layers", tracer)
      val program = tracer.span("pipeline.run")(Pipeline.run(spark, input, dir))(_.turns)
      jobs :+= tracer.spans.last.sums.jobs.toDouble
      drift ++= Checks.drift(traced, program)
      0
    }

  def check(dir: String): Seq[String] = {
    // the truth: one aggregate over (conversation, md5 of the digit-masked text)
    val eid = substring(md5(regexp_replace(col("text"), "[0-9]+", "<*>")), 1, 8)
    val pairs = input.groupBy(col("conv_id"), eid.as("eid"))
      .agg(count(lit(1)), max(when(col("role") === "tool", 1).otherwise(0)))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    val byConv = pairs.groupBy(_._1)
    val truth = Checks.PipelineTruth(
      turns = pairs.map(_._3).sum,
      templates = Gen.hotTemplates.size,
      sinks = pairs.groupBy(_._2).map { case (e, xs) => e -> xs.map(_._3).sum },
      convTurns = byConv.map { case (c, xs) => c -> xs.map(_._3).sum },
      convLabel = byConv.map { case (c, xs) => c -> xs.map(_._4).max },
      eventConvs = pairs.groupBy(_._2).map { case (e, xs) => e -> xs.length.toLong },
      countVectorRows = pairs.length.toLong)
    // the last pass ran Pipeline.run into `dir`; read its result back from the stages
    val cv = spark.read.parquet(s"$dir/count_vectors/data").groupBy("conv_id")
      .agg(sum("cnt"), count(lit(1)), collect_set(struct("event_id", "idf")))
      .collect()
    val windows = spark.read.parquet(s"$dir/windows/data").select("conv_id", "label").collect()
    val out = Checks.PipelineOut(
      turns = Router.readMetrics(s"$dir/parse").map(_.rows).sum,
      templates = spark.read.parquet(s"$dir/dict").count().toInt,
      sinks = Router.readMetrics(s"$dir/route").map(s => s.route -> s.rows).toMap,
      windows = windows.length.toLong,
      countVectorRows = cv.map(_.getLong(2)).sum,
      convCnt = cv.map(r => r.getString(0) -> r.getLong(1)).toMap,
      eventIdf = cv.flatMap(_.getSeq[org.apache.spark.sql.Row](3))
        .map(r => r.getString(0) -> r.getDouble(1)).distinct.toSeq,
      convLabel = windows.map(r => r.getString(0) -> r.getInt(1)).toMap)
    Checks.pipeline(truth, out) ++ drift
  }

  override def extraLayerMetrics(tracer: Tracer): Map[String, Double] = Map(
    "route.files" -> Probe.median(routeFiles),
    "route.files_per_sink" -> Probe.median(routeFiles.zip(routeSinks).map(x => x._1 / x._2)),
    "pipeline.jobs" -> Probe.median(jobs))
}

/** `sliding_windows`: grouping -> featurize -> evaluate over an event table
  * laid out by `Router.fanOutBucketed`, as `Pipeline.run`'s window stages
  * read it.
  */
final class WindowWorkload(spark: SparkSession, seed: Long, nConv: Int, nEvents: Int)
    extends Workload {
  val params = Checks.WindowParams(size = 20, step = 1, timeSize = 600, timeStep = 60,
    history = 10, topK = 5)
  private val parts = spark.sparkContext.defaultParallelism
  private var table = ""
  private var tables = 0
  private var nRows = 0L

  def opsPerPass: Int = 5
  def turns: Long = nRows

  private def layout(n: Int, dir: String): String = {
    Gen.routedEvents(spark, n, nEvents, seed, parts).write.mode("overwrite").parquet(s"$dir/in")
    tables += 1
    val name = s"bench_events_$tables"
    Router.fanOutBucketed(spark.read.parquet(s"$dir/in"), "event_id", "conv_id",
      spark.sparkContext.defaultParallelism, s"$dir/route", name)
    name
  }

  def stage(dir: String): Unit = {
    table = layout(nConv, dir)
    nRows = spark.table(table).count()
  }

  def pass(dir: String, tracer: Tracer): Int = {
    val p = params
    val events = spark.table(table)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name")
    tracer.span("windows.fixed")(write(Windows.fixedWindows(events, p.size, p.step), "fixed"))(
      _ => -1L)
    tracer.span("windows.time")(
      write(Windows.timeWindows(events, p.timeSize, p.timeStep), "time"))(_ => -1L)
    tracer.span("windows.history")(
      write(Windows.historyWindows(events, p.history), "history"))(_ => -1L)
    tracer.span("agg.topk")(write(
      Features.topKMembership(spark.read.parquet(s"$dir/history"), p.topK), "topk"))(_ => -1L)
    tracer.span("agg.window_tfidf") {
      val perEvent = spark.read.parquet(s"$dir/fixed")
        .select(col("conv_id"), col("win_start"), explode(col("events")).as("event_id"))
      val keys = Seq("conv_id", "win_start")
      write(Features.tfidf(Features.countVectors(perEvent, keys), keys), "tfidf")
    }(_ => -1L)
    0
  }

  def check(dir: String): Seq[String] = {
    val all = spark.table(table)
      .select(col("conv_id"), col("turn_idx"), unix_timestamp(col("ts")), col("event_id"))
      .collect().groupBy(_.getString(0)).map { case (c, rs) =>
        Checks.Conv(c, rs.map(r => (r.getInt(1), r.getLong(2), r.getString(3)))
          .sortBy(_._1).toIndexedSeq)
      }.toSeq
    val sample = new Random(seed).shuffle(all.map(_.id).sorted).take(20).toSet
    def read(name: String): DataFrame =
      spark.read.parquet(s"$dir/$name").filter(col("conv_id").isin(sample.toSeq: _*))
    def strs(r: org.apache.spark.sql.Row, i: Int): Seq[String] = r.getSeq[String](i)
    def windows(name: String) = read(name).select("conv_id", "win_start", "events", "n")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (strs(r, 2), r.getLong(3))).toMap
    val out = Checks.WindowOut(
      fixed = windows("fixed"),
      time = windows("time"),
      history = read("history").select("conv_id", "turn_idx", "history", "next_event")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> (strs(r, 2), r.getString(3)))
        .toMap,
      topK = read("topk").select("conv_id", "turn_idx", "is_anomaly").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap,
      tfidf = read("tfidf").select("conv_id", "win_start", "event_id", "cnt", "idf", "tfidf")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)) ->
          (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap,
      totals = Seq("fixed", "time", "history", "topk", "tfidf")
        .map(n => n -> spark.read.parquet(s"$dir/$n").count()).toMap)
    Checks.windows(all, sample, params, out)
  }

  override def extraLayerMetrics(tracer: Tracer): Map[String, Double] = {
    def amp(span: String): Double = Probe.median(
      tracer.spans.filter(_.name == span).map(_.explodeRows.toDouble / nRows).toSeq)
    Map("windows.fixed.amplification" -> amp("windows.fixed"),
      "windows.time.amplification" -> amp("windows.time"))
  }
}

/** `operator_queries`: each `SparkEntry.queries` entry `graft.Bench` times,
  * written as parquet; the outputs are compared with DuckDB running the
  * query's `SparkEntry.oracleSql` over the same tables.
  */
final class QueryWorkload(spark: SparkSession, seed: Long, sizes: QueryWorkload.Sizes)
    extends Workload {
  private val names = Layers.queries
  private val parts = spark.sparkContext.defaultParallelism
  private var tablesDir = ""
  private var nEvents = 0L

  def opsPerPass: Int = names.size
  def turns: Long = nEvents * names.size
  def tables: String = tablesDir

  private def generate(s: QueryWorkload.Sizes, dir: String): Unit = {
    // TIMESTAMP_NTZ ts, as the columns the oracle SQL was written against
    Gen.events(spark, s.events, seed, parts).write.mode("overwrite").parquet(s"$dir/events.parquet")
    Gen.documents(spark, s.documents, seed, parts).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    Gen.embeddings(spark, s.embeddings, seed, parts).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    Gen.lineitem(spark, s.lineitem, seed, parts).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
  }

  def stage(dir: String): Unit = {
    generate(sizes, dir)
    tablesDir = dir
    nEvents = spark.read.parquet(s"$dir/events.parquet").count()
  }

  def pass(dir: String, tracer: Tracer): Int =
    names.count { q =>
      try {
        tracer.span(s"query.$q")(SparkEntry.queries(q)(spark, tablesDir)
          .write.mode("overwrite").parquet(s"$dir/$q"))(_ => -1L)
        false
      } catch { case e: Exception =>
        System.err.println(s"[pipebench] $q failed: ${e.getMessage}")
        true
      }
    }

  /** The oracle comparison needs DuckDB and runs after the JVM exits. */
  def check(dir: String): Seq[String] = Nil

  override def artifacts: Map[String, String] =
    Map("oracle_sql.json" -> Json.write(Json.obj(names.map(q => q -> SparkEntry.oracleSql(q)): _*)))
}

object QueryWorkload {
  final case class Sizes(events: Int, documents: Int, embeddings: Int, lineitem: Int)
}
