package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one workload run. Usually launched by `run.py`:
  *
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <traceDir> [key=value ...]
  * }}}
  *
  * A run measures the workload at `local[4]`; the traced crawl also runs
  * at `local[1]` (the only N→4N pair a 4-core host can run). The outputs
  * are checked outside the timed part, and one line `PERFBENCH {json}`
  * carries the counts, the metrics, every op it ran (warm-up included) and
  * the ambient CPU and io sentinel readings taken before and after the run. */
object Main {

  val Cores: Seq[Int] = Seq(4, 1)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, traceDirS) = args.take(6)
    val params = Params(args.drop(6).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap)
    val run = new RunContext(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      Paths.get(workS).toAbsolutePath, Paths.get(traceDirS).toAbsolutePath, params)
    Files.createDirectories(run.work)
    val before = ambient(run.work)
    workload match {
      case "crawl-discover" => new CrawlBench(run).run()
      case "curate-registry" => new RegistryBench(run).run()
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val after = ambient(run.work)
    println("PERFBENCH " + Json(Map(
      "correct" -> (run.failed == 0 && run.attempted > 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> measured(run.metrics),
      "summary" -> (measured(run.summary) + ("error_rate" -> run.failed.toDouble / math.max(1L, run.attempted))),
      "ambient" -> Map("before" -> before, "after" -> after),
      "checks" -> run.checks.toSeq,
      "reps" -> run.reps.toSeq)))
  }

  /** The figures that were measured: a median over no ops is NaN and is
    * left out, so a figure that should be there shows as missing. */
  private def measured(m: mutable.Map[String, Double]): Map[String, Double] =
    m.filter(_._2.isFinite).toMap

  /** `CrawlHeadline`'s CPU and io sentinels; the io one writes into the
    * run's own work dir, on the filesystem the lakes use. */
  def ambient(dir: Path): Map[String, Double] = Map(
    "cpu_sentinel_s" -> graft.tools.CrawlHeadline.sentinel(),
    "io_sentinel_s" -> graft.tools.CrawlHeadline.ioSentinel(dir.toString))

  /** One session per parallelism level, built through GraftSession with the
    * in-memory catalog and every scratch dir inside the run's work dir. */
  def session(cores: Int, work: Path, shufflePartitions: Option[Int] = None): SparkSession = {
    val s = graft.GraftSession.local(cores, shufflePartitions)
      .appName(s"perfbench-local$cores")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // fat binary html column: small reader batches, as ScaleBench uses
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, on every thread. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Progress line on stderr, stamped with seconds since JVM launch. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${uptimeS}%.1fs $msg")

  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** NaN for no values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final case class Params(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
}

/** Mutable record of one run: counts, metrics, checks and every op. */
final class RunContext(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: Path,
    val traceDir: Path,
    val params: Params) {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own headline figures (URL/s, tick p50, registry total,
    * ...) printed in the run record next to the generic metrics. */
  val summary = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val reps = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** JVM launch to the start of the run: class loading and argument parsing. */
  val launchS: Double = Main.uptimeS

  def check(name: String, cores: Int)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Exception => Main.log(s"$name: $e"); false }
    if (!pass) failed += 1
    checks += Map("check" -> name, "cores" -> cores, "pass" -> pass)
    if (!pass) Main.log(s"CHECK FAILED: $name at local[$cores]")
  }

  def traceFile(suffix: String): Path = traceDir.resolve(s"$workload-seed$seed-$suffix.jsonl")
}

/** JSON for the result line and the oracle SQL file. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
