package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Pipeline
import graft.route.Router
import graft.windows.Windows
import graft.agg.Features

/** Every benchmark check passes on a faithful output and fails when one
  * part of that output is perturbed, so none of them is vacuous.
  */
class ChecksSpec extends AnyFunSuite {

  // ---- pipeline ------------------------------------------------------------

  private val truth = Checks.PipelineTruth(
    turns = 6, templates = 2, sinks = Map("aaaa0001" -> 4L, "bbbb0002" -> 2L),
    convTurns = Map("c1" -> 4L, "c2" -> 2L), convLabel = Map("c1" -> 1, "c2" -> 0),
    eventConvs = Map("aaaa0001" -> 2L, "bbbb0002" -> 1L), countVectorRows = 3)

  private val faithful = Checks.PipelineOut(
    turns = 6, templates = 2, sinks = Map("aaaa0001" -> 4L, "bbbb0002" -> 2L),
    windows = 2, countVectorRows = 3, convCnt = Map("c1" -> 4L, "c2" -> 2L),
    eventIdf = Seq("aaaa0001" -> math.log(2.0 / 2), "bbbb0002" -> math.log(2.0 / 1)),
    convLabel = Map("c1" -> 1, "c2" -> 0))

  test("pipeline check accepts a faithful output") {
    assert(Checks.pipeline(truth, faithful).isEmpty)
  }

  Seq[(String, Checks.PipelineOut => Checks.PipelineOut)](
    "one routed row moved to another sink" ->
      (_.copy(sinks = Map("aaaa0001" -> 3L, "bbbb0002" -> 3L))),
    "one turn lost" -> (_.copy(turns = 5)),
    "one template merged away" -> (_.copy(templates = 1)),
    "one window dropped" -> (_.copy(windows = 1)),
    "one count-vector row dropped" -> (_.copy(countVectorRows = 2)),
    "one count moved between conversations" ->
      (_.copy(convCnt = Map("c1" -> 3L, "c2" -> 3L))),
    "idf off by one ulp-scale step" ->
      (o => o.copy(eventIdf = o.eventIdf.map { case (e, v) => e -> (v + 1e-6) })),
    "two idf values for one event" ->
      (o => o.copy(eventIdf = o.eventIdf :+ ("bbbb0002" -> 0.5))),
    "one label flipped" -> (_.copy(convLabel = Map("c1" -> 0, "c2" -> 0)))
  ).foreach { case (what, perturb) =>
    test(s"pipeline check fails on: $what") {
      assert(Checks.pipeline(truth, perturb(faithful)).nonEmpty)
    }
  }

  test("drift guard fails when the composition and Pipeline.run disagree") {
    val r = Pipeline.Result(6, 2, Seq(Router.SinkMetrics("a", 4), Router.SinkMetrics("b", 2)),
      2, 3)
    assert(Checks.drift(r, r).isEmpty)
    assert(Checks.drift(r, r.copy(routes = Seq(Router.SinkMetrics("a", 3),
      Router.SinkMetrics("b", 3)))).nonEmpty)
    assert(Checks.drift(r, r.copy(countVectorRows = 4)).nonEmpty)
  }

  // ---- sliding windows: the program's own operators, then perturbed ----------

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("pipebench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val p = Checks.WindowParams(size = 4, step = 2, timeSize = 120, timeStep = 60,
    history = 3, topK = 2)

  /** The window outputs of the program on a small generated input, in the
    * shape the benchmark collects, plus the input as plain conversations.
    */
  private lazy val programOut: (Seq[Checks.Conv], Checks.WindowOut) = {
    val events = Gen.routedEvents(spark, 6, 5, 7L, 2).toDF()
    val fixed = Windows.fixedWindows(events, p.size, p.step).cache()
    val time = Windows.timeWindows(events, p.timeSize, p.timeStep)
    val history = Windows.historyWindows(events, p.history).cache()
    val topK = Features.topKMembership(history, p.topK)
    val perEvent = fixed.select(col("conv_id"), col("win_start"),
      explode(col("events")).as("event_id"))
    val keys = Seq("conv_id", "win_start")
    val tfidf = Features.tfidf(Features.countVectors(perEvent, keys), keys)
    def strs(r: org.apache.spark.sql.Row, i: Int): Seq[String] = r.getSeq[String](i)
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.select("conv_id", "win_start", "events", "n").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (strs(r, 2), r.getLong(3))).toMap
    val out = Checks.WindowOut(
      fixed = windows(fixed), time = windows(time),
      history = history.select("conv_id", "turn_idx", "history", "next_event").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> (strs(r, 2), r.getString(3))).toMap,
      topK = topK.select("conv_id", "turn_idx", "is_anomaly").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap,
      tfidf = tfidf.select("conv_id", "win_start", "event_id", "cnt", "idf", "tfidf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)) ->
          (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap,
      totals = Map("fixed" -> fixed.count(), "time" -> time.count(),
        "history" -> history.count(), "topk" -> topK.count(), "tfidf" -> tfidf.count()))
    val all = events.select(col("conv_id"), col("turn_idx"), unix_timestamp(col("ts")),
        col("event_id")).collect().groupBy(_.getString(0)).map { case (c, rs) =>
      Checks.Conv(c, rs.map(r => (r.getInt(1), r.getLong(2), r.getString(3))).sortBy(_._1)
        .toIndexedSeq)
    }.toSeq
    (all, out)
  }

  private def sample = programOut._1.map(_.id).toSet

  test("window check accepts the program's outputs") {
    val (all, out) = programOut
    assert(Checks.windows(all, sample, p, out).isEmpty)
  }

  private def shifted(m: Map[(String, Long), (Seq[String], Long)]) = {
    val (k, (ev, n)) = m.head
    m.updated(k, (ev.tail :+ ev.head, n))
  }

  Seq[(String, Checks.WindowOut => Checks.WindowOut)](
    "one fixed window's events shifted" -> (o => o.copy(fixed = shifted(o.fixed))),
    "one fixed window missing" -> (o => o.copy(fixed = o.fixed - o.fixed.keys.head)),
    "one time window's events shifted" -> (o => o.copy(time = shifted(o.time))),
    "one history row with a wrong next event" -> { o =>
      val (k, (h, _)) = o.history.head
      o.copy(history = o.history.updated(k, (h, "nope")))
    },
    "one top-k membership flipped" -> { o =>
      val (k, v) = o.topK.head
      o.copy(topK = o.topK.updated(k, 1 - v))
    },
    "one tf-idf weight off" -> { o =>
      val (k, (c, idf, w)) = o.tfidf.head
      o.copy(tfidf = o.tfidf.updated(k, (c, idf, w * 1.001 + 1e-3)))
    },
    "one output row too many" ->
      (o => o.copy(totals = o.totals.updated("time", o.totals("time") + 1)))
  ).foreach { case (what, perturb) =>
    test(s"window check fails on: $what") {
      val (all, out) = programOut
      assert(Checks.windows(all, sample, p, perturb(out)).nonEmpty)
    }
  }
}
