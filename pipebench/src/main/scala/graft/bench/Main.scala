package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <dir>
  *
  * Prints `BENCH_HOST <json>` (reference figures, not metrics) and then
  * `BENCH_RESULT <json>` (correct, attempted, failed, metrics, errors).
  */
object Main {

  val workloads: Seq[String] = Seq("hot_sessions", "sliding_windows", "operator_queries")

  /** Generated sizes: large enough that per-row work is a large share of a
    * `hot_sessions` or `sliding_windows` pass, small enough that a run stays
    * near 40 s on a 4-vCPU host (README, "Input sizes").
    */
  val hotConversations = 12000
  val windowConversations = 240
  val windowEvents = 16
  val querySizes = QueryWorkload.Sizes(events = 20000, documents = 1000, embeddings = 400,
    lineitem = 20000)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val out = a("out")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"pipebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.workdir", s"$work/csv-work")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val w: Workload = workload match {
      case "hot_sessions" => new PipelineWorkload(spark, seed, hotConversations)
      case "sliding_windows" =>
        new WindowWorkload(spark, seed, windowConversations, windowEvents)
      case "operator_queries" =>
        new QueryWorkload(spark, seed, querySizes)
    }
    val o = new Runner(spark, w, work, seconds, trace, sessionS).run()

    Files.createDirectories(Paths.get(out))
    val tag = s"$workload-seed$seed-trace${a("trace")}"
    if (trace) Files.write(Paths.get(s"$out/$tag-spans.jsonl"),
      o.spans.map(_ + "\n").mkString.getBytes("UTF-8"))
    w.artifacts.foreach { case (n, s) => Files.writeString(Paths.get(s"$out/$n"), s) }
    println("BENCH_HOST " + Json.write(Json.obj(o.host.toSeq.sortBy(_._1): _*)))
    val extra = w match {
      case q: QueryWorkload => Seq("tables" -> q.tables, "outputs" -> o.lastDir)
      case _ => Nil
    }
    println("BENCH_RESULT " + Json.write(Json.obj(Seq(
      "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> Json.obj(o.metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "errors" -> o.errors) ++ extra: _*)))
    spark.stop()
  }
}
