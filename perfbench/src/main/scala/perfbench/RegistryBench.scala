package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** curate-registry: closed-loop passes over the `queries` subset of
  * `SparkEntry.queries`, each query timed with the frozen `Bench`'s
  * `.count()` action. One op is one pass over the queries. The inputs
  * are the fixed sf0.01 fixture, so the seed does not change them. The
  * first warm-up pass writes every result out for `run.py`'s DuckDB oracle
  * compare (`bin/check_oracle.py`). */
final class RegistryBench(run: RunContext) {
  import Main._
  import RegistryBench._

  private val p = run.params
  private val dataDir = java.nio.file.Paths.get(p.str("data_dir")).toAbsolutePath.toString
  private val ordered: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (q, _) => p.str("queries").split(",").contains(q) }

  /** Layer roll-ups of the registry, by the engine package each query drives. */
  private val groups: Map[String, Set[String]] = Map(
    "media" -> Set("q34", "q38", "q39", "q40", "q41", "q53"),
    "operators" -> Set("q03", "q08", "q15", "q29", "q30", "q31", "q36", "q43", "q47", "q52"),
    "sources" -> Set("q54"))
  private def group(q: String): String =
    groups.collectFirst { case (g, qs) if qs.contains(q.take(3)) => g }.getOrElse("ml")

  def run(): Unit = {
    val t0 = System.nanoTime()
    // shuffle partitions pinned to the core count, as the frozen Bench does
    val spark = session(Cores.head, run.work, shufflePartitions = Some(Cores.head))
    try {
      warmUp(spark)
      val setupS = run.launchS + secs(t0)
      if (run.trace) traced(spark)
      else {
        val total = median(timed(spark, run.seconds).map(_.values.map(_._1).sum))
        run.metrics("items_per_s") = ordered.size / total
        run.metrics("op_p50_s") = total
        run.metrics("setup_s") = setupS
        run.summary("registry_total_s") = total
      }
    } finally spark.stop()
  }

  /** One pass over every query: per query, its wall and JVM CPU seconds.
    * None when any query fails. */
  private def pass(
      spark: SparkSession,
      phase: String,
      tr: Option[Trace] = None,
      action: (String, DataFrame) => Unit = (_, df) => df.count()): Option[Map[String, (Double, Double)]] = {
    val times = mutable.LinkedHashMap.empty[String, (Double, Double)]
    var ok = true
    ordered.foreach { case (q, fn) =>
      run.attempted += 1
      val t0 = System.nanoTime()
      val c0 = cpuS
      try tr.map(_.span(q)(action(q, fn(spark, dataDir)))).getOrElse(action(q, fn(spark, dataDir)))
      catch {
        case e: Exception =>
          log(s"$q failed: $e")
          run.failed += 1
          ok = false
      }
      times(q) = (secs(t0), cpuS - c0)
    }
    val total = times.values.map(_._1).sum
    log(f"$phase pass $total%.2fs")
    run.reps += Map("phase" -> phase, "cores" -> Cores.head, "ok" -> ok, "total_s" -> total,
      "query_s" -> times.map { case (q, (w, c)) => q -> Map("s" -> w, "cpu_s" -> c) })
    if (ok) Some(times.toMap) else None
  }

  /** `WarmPasses` passes, charged to set-up; the first one writes every
    * result out for the oracle compare. */
  private def warmUp(spark: SparkSession): Unit = {
    var ok = pass(spark, "warmup-write", action = writeResult).isDefined
    (2 to WarmPasses).foreach(_ => if (ok) ok = pass(spark, "warmup").isDefined)
  }

  private def timed(spark: SparkSession, budgetS: Double): Seq[Map[String, (Double, Double)]] = {
    val out = mutable.ArrayBuffer.empty[Map[String, (Double, Double)]]
    var used = 0.0
    var ok = true
    // a median of fewer passes would rest on one slow pass
    while (ok && (used < budgetS || out.size < MinTimedPasses)) {
      val r = pass(spark, "timed")
      r.foreach { t => out += t; used += t.values.map(_._1).sum }
      ok = r.isDefined
    }
    out.toSeq
  }

  /** An untraced pass (the overhead baseline), then a traced pass with one
    * span per query; Spark's jobs and shuffle bytes are attributed by time. */
  private def traced(spark: SparkSession): Unit = {
    pass(spark, "untraced").foreach { t =>
      run.metrics("trace.items_per_s_untraced") = ordered.size / t.values.map(_._1).sum
    }
    val tr = new Trace(spark, s"${run.workload}-${run.seed}-local${Cores.head}")
    pass(spark, "traced", Some(tr)).map(_.map { case (q, (w, _)) => q -> w }).foreach { t =>
      tr.settle()
      val total = t.values.sum
      run.metrics("trace.items_per_s_traced") = ordered.size / total
      run.metrics("registry.total_s") = total
      Seq("ml", "media", "operators", "sources").foreach { g =>
        run.metrics(s"registry.${g}_s") = t.collect { case (q, s) if group(q) == g => s }.sum
      }
      ordered.foreach { case (q, _) => run.metrics(s"registry.${q}_s") = t(q) }
      val st = ordered.map { case (q, _) => q -> tr.stats(tr.spansNamed(q).head) }.toMap
      run.metrics("registry.jobs") = st.values.map(_.jobs).sum.toDouble
      run.metrics("registry.shuffle_bytes") = st.values.map(_.shuffleWriteBytes).sum.toDouble
      st.foreach { case (q, x) =>
        run.metrics(s"registry.${q}_jobs") = x.jobs.toDouble
        run.metrics(s"registry.${q}_shuffle_bytes") = x.shuffleWriteBytes.toDouble
      }
    }
    tr.close(run.traceFile(s"local${Cores.head}"))
  }

  /** The first warm-up pass writes every result as one parquet dir, next
    * to the oracle SQL: the layout `bin/check_oracle.py` reads. */
  private def writeResult(q: String, df: DataFrame): Unit = {
    val out = run.work.resolve("oracle")
    if (!Files.exists(out.resolve("oracle_sql.json"))) {
      Files.createDirectories(out)
      Files.writeString(out.resolve("oracle_sql.json"),
        Json(SparkEntry.oracleSql.filter { case (name, _) => ordered.exists(_._1 == name) }))
    }
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
  }
}

object RegistryBench {
  /** Warm-up passes, charged to set-up: the first pass compiles and loads
    * everything; the pass time keeps falling for about three more passes
    * while the JIT settles. */
  val WarmPasses = 4

  /** Timed passes at least, whatever `--seconds` is. */
  val MinTimedPasses = 3
}
