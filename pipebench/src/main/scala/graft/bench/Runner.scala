package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: its set-up, one timed pass, and the check of the last
  * pass's outputs.
  */
trait Workload {
  /** Operations one pass attempts. */
  def opsPerPass: Int
  /** Builds the inputs under `dir`; called several times, the last build is
    * the one measured.
    */
  def stage(dir: String): Unit
  /** Input turns of one pass (for `operator_queries`, turns x queries). */
  def turns: Long
  /** One pass writing under `dir`; returns the operations that failed. */
  def pass(dir: String, tracer: Tracer): Int
  /** Checks the outputs the pass left under `dir`; one message per mismatch. */
  def check(dir: String): Seq[String]
  /** Per-layer figures that are not span sums (counts and ratios). */
  def extraLayerMetrics(tracer: Tracer): Map[String, Double] = Map.empty
  /** Files for the out directory (name -> content) after the run. */
  def artifacts: Map[String, String] = Map.empty
}

/** Process-level probes: CPU time, retained heap, host steal. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    // collect, let Spark's ContextCleaner drop what the collection freed, collect again
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The host's CPU steal in seconds since boot, summed over CPUs. */
  def stealS: Double = {
    val p = Paths.get("/proc/stat")
    if (!Files.isReadable(p)) 0.0
    else Files.readAllLines(p).asScala.find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else 0.0
    }.getOrElse(0.0)
  }

  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}

/** The measuring loop shared by every workload. */
final class Runner(spark: SparkSession, w: Workload, work: String, seconds: Double,
                   trace: Boolean, sessionS: Double) {
  import Probe._

  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           metrics: Seq[(String, Double, String)], errors: Seq[String],
                           host: Map[String, Double], spans: Seq[String], lastDir: String)

  def run(): Outcome = {
    // the input is built three times; setup_s takes the median build
    val stageTimes = (1 to 3).map { r =>
      val dir = s"$work/input$r"
      val t0 = System.nanoTime()
      w.stage(dir)
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: one untimed pass over the staged input, so timed passes run compiled code
    val tw = System.nanoTime()
    w.pass(s"$work/warmup", new Tracer(spark, false, "warmup"))
    rmrf(s"$work/warmup")
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + warmS + median(stageTimes)

    val tracer = new Tracer(spark, trace, s"${w.getClass.getSimpleName}")
    val steal0 = stealS
    val cpu0 = processCpuS
    val t0 = System.nanoTime()
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val outMb = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0L
    var firstHeap = 0.0
    var lastDir = ""
    // two passes at least: the pass count, and with it the median, does not
    // flip between one and two, and heap growth between passes shows
    while (walls.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val dir = s"$work/pass${walls.size}"
      if (lastDir.nonEmpty) rmrf(lastDir)
      val tp = System.nanoTime()
      failed += tracer.within(s"pass${walls.size}")(w.pass(dir, tracer))
      walls += (System.nanoTime() - tp) / 1e9
      outMb += bytesUnder(dir) / 1048576.0
      lastDir = dir
      if (trace && walls.size == 1) firstHeap = retainedHeapMb
    }
    val cpuS = processCpuS - cpu0
    val stealRun = stealS - steal0
    val heap = retainedHeapMb
    val tc = System.nanoTime()
    val errors = w.check(lastDir)
    val checkS = (System.nanoTime() - tc) / 1e9
    val jobS = median(walls.toSeq)

    val metrics =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("job_s", jobS, "s"),
        ("turns_per_s", w.turns / jobS, "turns/s"),
        ("output_mb", median(outMb.toSeq), "MB"),
        ("retained_heap_mb", heap, "MB"))
      else Layers.metrics(tracer.spans.toSeq, w.extraLayerMetrics(tracer) +
        ("jvm.heap_growth_mb" -> (heap - firstHeap)))
    // the spin reference takes about 16 s, so only the traced run pays for it
    val spin: Map[String, Double] =
      if (trace) Map("spin4_s" -> graft.HwCalibrate.spinSeconds(4, reps = 1)) else Map.empty
    val host = spin ++ Map("steal_s" -> stealRun,
      "nproc" -> Runtime.getRuntime.availableProcessors.toDouble, "passes" -> walls.size.toDouble,
      "job_s" -> jobS, "setup_session_s" -> sessionS, "setup_warmup_s" -> warmS,
      "setup_stage_s" -> median(stageTimes), "check_s" -> checkS,
      "cpu_s_per_mturn" -> cpuS / (w.turns * walls.size / 1e6)) ++
      walls.zipWithIndex.map { case (t, i) => s"pass${i}_s" -> t } ++
      stageTimes.zipWithIndex.map { case (t, i) => s"stage${i}_s" -> t } ++
      Map("uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0)
    Outcome(errors.isEmpty, walls.size.toLong * w.opsPerPass, failed, metrics, errors,
      host, tracer.jsonLines, lastDir)
  }
}
