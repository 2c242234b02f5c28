package graft.bench

import graft.pipeline.Pipeline

/** Output checks. Each takes what the program produced and what the
  * benchmark computed apart from it (Spark built-ins or plain Scala, never
  * the program's own operators) and returns one message per mismatch.
  */
object Checks {

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def mapDiff[K, V](what: String, want: Map[K, V], got: Map[K, V],
                            eq: (V, V) => Boolean = (a: V, b: V) => a == b): Seq[String] = {
    val keys = (want.keySet ++ got.keySet).toSeq
    val bad = keys.filter(k => (want.get(k), got.get(k)) match {
      case (Some(a), Some(b)) => !eq(a, b)
      case _ => true
    })
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} of ${keys.size} keys differ, e.g. " +
      bad.take(3).map(k => s"$k want=${want.get(k)} got=${got.get(k)}").mkString("; "))
  }

  private def eqCheck(what: String, want: Any, got: Any): Seq[String] =
    if (want == got) Nil else Seq(s"$what: want $want, got $got")

  // ---- pipelines -----------------------------------------------------------

  /** Facts about a pipeline input, computed without `Drain`: sinks from the
    * md5 of the digit-masked text, labels from the roles.
    */
  final case class PipelineTruth(turns: Long, templates: Int, sinks: Map[String, Long],
                                 convTurns: Map[String, Long], convLabel: Map[String, Int],
                                 eventConvs: Map[String, Long], countVectorRows: Long)

  /** What one `Pipeline.run` produced, read from its result and its stages. */
  final case class PipelineOut(turns: Long, templates: Int, sinks: Map[String, Long],
                               windows: Long, countVectorRows: Long,
                               convCnt: Map[String, Long], eventIdf: Seq[(String, Double)],
                               convLabel: Map[String, Int])

  def pipeline(t: PipelineTruth, o: PipelineOut): Seq[String] = {
    val n = t.convTurns.size.toDouble
    val idfByEvent = o.eventIdf.groupBy(_._1).map { case (e, vs) => e -> vs.map(_._2).distinct }
    val idfErrs = mapDiff("idf = ln(N/df) per event",
      t.eventConvs.map { case (e, df) => e -> Seq(math.log(n / df)) }, idfByEvent,
      (a: Seq[Double], b: Seq[Double]) => b.size == 1 && close(a.head, b.head))
    eqCheck("turns", t.turns, o.turns) ++
      eqCheck("templates", t.templates, o.templates) ++
      mapDiff("rows per sink", t.sinks, o.sinks) ++
      eqCheck("windows", t.convTurns.size.toLong, o.windows) ++
      eqCheck("count-vector rows", t.countVectorRows, o.countVectorRows) ++
      mapDiff("sum of cnt per conversation", t.convTurns, o.convCnt) ++
      idfErrs ++
      mapDiff("label per conversation", t.convLabel, o.convLabel)
  }

  /** Drift guard: the traced layer-by-layer composition and `Pipeline.run`
    * must agree on the same input.
    */
  def drift(traced: Pipeline.Result, program: Pipeline.Result): Seq[String] = {
    def sinks(r: Pipeline.Result) = r.routes.map(s => s.route -> s.rows).toMap
    eqCheck("drift: turns", program.turns, traced.turns) ++
      eqCheck("drift: templates", program.templates, traced.templates) ++
      mapDiff("drift: rows per sink", sinks(program), sinks(traced)) ++
      eqCheck("drift: windows", program.windows, traced.windows) ++
      eqCheck("drift: count-vector rows", program.countVectorRows, traced.countVectorRows)
  }

  // ---- sliding windows -----------------------------------------------------

  /** One conversation's events in turn order: (turn_idx, epoch second, event). */
  final case class Conv(id: String, rows: IndexedSeq[(Int, Long, String)]) {
    def events: IndexedSeq[String] = rows.map(_._3)
  }

  final case class WindowParams(size: Int, step: Int, timeSize: Long, timeStep: Long,
                                history: Int, topK: Int)

  /** Window operator outputs restricted to the sampled conversations, plus
    * the row count of each whole output.
    */
  final case class WindowOut(
      fixed: Map[(String, Long), (Seq[String], Long)],
      time: Map[(String, Long), (Seq[String], Long)],
      history: Map[(String, Int), (Seq[String], String)],
      topK: Map[(String, Int), Int],
      tfidf: Map[(String, Long, String), (Long, Double, Double)],
      totals: Map[String, Long])

  private def fixedStarts(n: Int, p: WindowParams): Seq[Int] = 0 until n by p.step

  private def fixedOf(c: Conv, p: WindowParams): Map[(String, Long), (Seq[String], Long)] =
    fixedStarts(c.rows.size, p).map { s =>
      val ev = c.events.slice(s, s + p.size)
      (c.id, s.toLong) -> (ev.toSeq, ev.size.toLong)
    }.toMap

  private def timeOf(c: Conv, p: WindowParams): Map[(String, Long), (Seq[String], Long)] =
    c.rows.flatMap { case (turn, sec, e) =>
      val first = (Math.floorDiv(sec - p.timeSize, p.timeStep) + 1) * p.timeStep
      val last = Math.floorDiv(sec, p.timeStep) * p.timeStep
      (first to last by p.timeStep).map(ws => ws -> (turn, e))
    }.groupBy(_._1).map { case (ws, xs) =>
      val ev = xs.map(_._2).sortBy(_._1).map(_._2)
      (c.id, ws) -> (ev.toSeq, ev.size.toLong)
    }

  private def historyOf(c: Conv, p: WindowParams): Map[(String, Int), (Seq[String], String)] =
    (p.history - 1 until c.rows.size - 1).map { i =>
      (c.id, c.rows(i)._1) -> (c.events.slice(i - p.history + 1, i + 1).toSeq, c.events(i + 1))
    }.toMap

  /** Checks the window outputs against plain-Scala recomputation from the
    * whole staged input `all`; contents are compared for `sample` only.
    */
  def windows(all: Seq[Conv], sample: Set[String], p: WindowParams, o: WindowOut): Seq[String] = {
    val picked = all.filter(c => sample.contains(c.id))
    // whole-input facts: totals, the top-k next events, window document frequencies
    val nextCounts = all.flatMap(c => historyOf(c, p).values.map(_._2))
      .groupBy(identity).map { case (e, xs) => e -> xs.size }
    val topK = nextCounts.toSeq.sortBy { case (e, n) => (-n, e) }.take(p.topK).map(_._1).toSet
    val fixedAll = all.iterator.flatMap(c => fixedStarts(c.rows.size, p).iterator
      .map(s => c.events.slice(s, s + p.size).distinct))
    var nWindows = 0L
    val windowDf = scala.collection.mutable.HashMap.empty[String, Long]
    fixedAll.foreach { ev =>
      nWindows += 1
      ev.foreach(e => windowDf(e) = windowDf.getOrElse(e, 0L) + 1)
    }
    val want = Map(
      "fixed" -> nWindows,
      "time" -> all.map(c => timeOf(c, p).size.toLong).sum,
      "history" -> all.map(c => math.max(0, c.rows.size - p.history).toLong).sum,
      "topk" -> all.map(c => math.max(0, c.rows.size - p.history).toLong).sum,
      "tfidf" -> windowDf.values.sum)

    val fixedWant = picked.flatMap(fixedOf(_, p)).toMap
    val historyWant = picked.flatMap(historyOf(_, p)).toMap
    val tfidfWant = fixedWant.toSeq.flatMap { case ((conv, ws), (ev, _)) =>
      ev.groupBy(identity).map { case (e, xs) =>
        val idf = math.log(nWindows.toDouble / windowDf(e))
        (conv, ws, e) -> (xs.size.toLong, idf, xs.size * idf)
      }
    }.toMap
    mapDiff("output rows", want, o.totals) ++
      mapDiff("fixed windows", fixedWant, o.fixed) ++
      mapDiff("time windows", picked.flatMap(timeOf(_, p)).toMap, o.time) ++
      mapDiff("history rows", historyWant, o.history) ++
      mapDiff("top-k membership",
        historyWant.map { case (k, (_, next)) => k -> (if (topK(next)) 0 else 1) }, o.topK) ++
      mapDiff("window tf-idf", tfidfWant, o.tfidf,
        (a: (Long, Double, Double), b: (Long, Double, Double)) =>
          a._1 == b._1 && close(a._2, b._2) && close(a._3, b._3))
  }
}
