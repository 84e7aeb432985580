package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import java.io.File
import scala.collection.mutable

/** Benchmark entry point, one JVM per run:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <cores> <workDir>
  *
  * Runs the workload's set-up, an untimed warm-up, the timed phase and
  * the untimed correctness checks, and writes `result.json` (metrics,
  * attempted/failed counts, check inputs for the DuckDB oracle) under
  * `workDir`. perfbench/run.py builds, launches and reports. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, workS) = args
    val cfg = Config(workload, seedS.toLong, secondsS.toInt, traceS == "1",
      coresS.toInt, new File(workS))
    val t0 = System.nanoTime()
    val spark = session(cfg.cores, new File(cfg.work, "spark-local"))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, cfg, sessionS)
    try {
      workload match {
        case "pipeline" => new Pipeline(ctx).run()
        case "dashboard" => new Dashboard(ctx).run()
        case other => sys.error(s"unknown workload $other")
      }
      ctx.writeResult(new File(cfg.work, "result.json"))
      ctx.log("result written")
    } finally spark.stop()
    System.err.println("[perfbench] session stopped")
    // lingering non-daemon threads of stopped queries must not hold the JVM
    System.exit(0)
  }

  /** The one session configuration every workload runs under. */
  def session(cores: Int, localDir: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // status-store retention caps, as in graft.Bench
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "25")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: File)

/** One benchmark operation's outcome and its build/plan/exec split. */
final case class OpResult(rows: Array[Row], wallS: Double, buildS: Double, planS: Double,
    execS: Double, phases: Map[String, Double], scans: Seq[(String, Long)], df: DataFrame,
    spanIds: Map[String, Long]) {
  def traced: Boolean = spanIds.nonEmpty
}

/** Shared run state: the session, the recorder, the metrics and checks. */
final class Ctx(val spark: SparkSession, val cfg: Config, val sessionS: Double) {
  val trace = new Trace(spark, cfg.trace)
  val progress = new Progress
  spark.streams.addListener(progress)
  trace.install()

  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted, failed = 0L
  /** Inputs the DuckDB oracle in run.py checks, as JSON objects. */
  val oracleChecks = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val born = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  def dir(name: String): File = { val d = new File(cfg.work, name); d.mkdirs(); d }

  /** An untimed correctness check; a false or throwing check counts as a
    * failed operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Throwable =>
      System.err.println(s"[perfbench] check $name threw: $e"); false
    }
    if (!passed) { failed += 1; System.err.println(s"[perfbench] check $name FAILED") }
  }

  /** Time one operation as build (calling the function that returns the
    * DataFrame, eager jobs included), plan (forcing the executed plan)
    * and exec (collecting the result on the plan just built). */
  def op(name: String)(build: => DataFrame): OpResult = {
    val ids = mutable.Map.empty[String, Long]
    def layer[T](l: String)(body: => T): T =
      trace.span(l, l) { if (trace.enabled) ids(l) = trace.currentId; body }
    layer("op") {
      val t0 = System.nanoTime()
      val df = layer("build")(build)
      val t1 = System.nanoTime()
      layer("plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = layer("exec")(df.collect())
      val t3 = System.nanoTime()
      val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1000.0 }
      OpResult(rows, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        phases, if (ids.nonEmpty) Ctx.scans(df) else Nil, df, ids.toMap)
    }
  }

  def writeResult(f: File): Unit = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val json = s"""{"attempted":$attempted,"failed":$failed,"metrics":$ms,""" +
      s""""oracle":${oracleChecks.mkString("[", ",", "]")}}"""
    java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
  }
}

object Ctx extends AdaptiveSparkPlanHelper {
  /** (root path, files read) of every file scan in an executed plan. */
  def scans(df: DataFrame): Seq[(String, Long)] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.headOption.map(_.toString).getOrElse("") ->
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell–Davis estimate of the q-quantile: a Beta-weighted average
    * of all order statistics. It estimates the same quantile as a
    * single order statistic, with much less run-to-run variance on the
    * few dozen samples a run has (NaN when empty). */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, q * (n + 1), (1 - q) * (n + 1))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }

  /** Linear-interpolated quantile (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }

  /** The highest percentile with at least ten samples beyond it. */
  def tailQuantile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def jsonStr(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
