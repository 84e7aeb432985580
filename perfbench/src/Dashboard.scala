package perfbench

import graft.functions.Arith
import graft.operators.{Cep, TimeSeries}
import graft.operators.TimeSeries.GridParams
import graft.sources.{CsvLake, VersionedLake}
import graft.streaming.Exporter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.time.Instant
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Read-only dashboard traffic, closed loop with one client, over a
  * versioned lake of the fleet built in set-up with the layout the
  * pipeline writes (Fleet.lakeRows: narrow pivot, 5-minute window
  * partitions, value stats, sensor_id bloom) plus a 60 s-grid export
  * of the flagship per 5-minute window and a CSV sensor→customer map.
  * The export's last window is read through its hot tier
  * (Exporter.hotColdRead), which pins it in the block-manager cache
  * through CacheRegistry. Each query draws its class round-robin
  * (order shuffled by the seed) and a seeded 5-minute window and
  * sensor subset. */
final class Dashboard(ctx: Ctx) {
  import Dashboard._
  private val spark = ctx.spark
  private val seed = ctx.cfg.seed
  private val rng = new scala.util.Random(seed)
  private val lake = new File(ctx.cfg.work, "lake").getAbsolutePath
  private val export = new File(ctx.cfg.work, "export").getAbsolutePath

  private def ts(second: Long): Instant =
    Instant.ofEpochSecond(Fleet.StartMicros / 1000000L + second)

  /** One seeded query: its class, window [lo, hi) in fleet seconds, the
    * sensor subset and the point-read key. */
  final case class Query(cls: String, lo: Long, hi: Long, sensors: Seq[Int], key: Int) {
    def ids: Seq[String] = sensors.map(Fleet.sensorId)
    /** Feed events the query's answer covers. */
    def events: Long = cls match {
      case "point_read" => Fleet.count(seed, Seq(key), 0L, LakeSeconds)
      case c if Subset(c) => Fleet.count(seed, sensors, lo, hi)
      case _ => Fleet.count(seed, 0 until Sensors, lo, hi)
    }
  }

  private def nextQuery(cls: String): Query = {
    val lo = if (Export(cls)) Window * rng.nextInt((LakeSeconds / Window).toInt)
      else rng.nextInt((LakeSeconds - Window).toInt).toLong
    Query(cls, lo, lo + Window, rng.shuffle((0 until Sensors).toList).take(SubsetSize).sorted,
      rng.nextInt(Sensors))
  }

  /** Wide rows of the lake inside [lo, hi), optionally for a subset. */
  private def wide(q: Query, subset: Boolean): DataFrame = {
    val base = VersionedLake.read(spark, lake)
      .filter(col("time") >= lit(ts(q.lo)) && col("time") < lit(ts(q.hi)))
    (if (subset) base.filter(col("sensor_id").isin(q.ids: _*)) else base)
      .select(col("sensor_id"), col("time"), col("measure_value").as("temperature"), col("status"))
  }

  private def build(q: Query): DataFrame = q.cls match {
    case "flagship" =>
      TimeSeries.flagship(wide(q, subset = true),
        GridParams("sensor_id", "time", "temperature", "status", "1 SECOND"))
    case "bin_max" =>
      wide(q, subset = false)
        .groupBy(col("sensor_id"), TimeSeries.bin(col("time"), 60L).as("time_bin"))
        .agg(max(col("temperature")).as("max_value"), count(lit(1)).as("n"))
    case "percentile" =>
      wide(q, subset = false)
        .groupBy(TimeSeries.bin(col("time"), 60L).as("time_bin"))
        .agg(Arith.r2(avg(col("temperature"))).as("avg_value"),
          Arith.r2(percentile_approx(col("temperature"), lit(0.9), lit(1000000))).as("p90"),
          Arith.r2(percentile_approx(col("temperature"), lit(0.75), lit(1000000))).as("p75"))
    case "ohlc" =>
      TimeSeries.ohlc(wide(q, subset = true), "sensor_id", "time", "temperature", "time", 60L)
    case "gaps" =>
      TimeSeries.detectGaps(wide(q, subset = true).select("sensor_id", "time"),
        "sensor_id", "time", 5L)
    case "cep_batch" =>
      Cep.matchesBatch(wide(q, subset = true),
        Cep.Params("sensor_id", "time", "temperature", "status", "time",
          errorValue = "ERROR", maxB = 5, withinMicros = 60000000L))
    case "enrich_join" =>
      Exporter.readExport(spark, export).createOrReplaceTempView("dash_export")
      spark.sql(
        s"""SELECT e.sensor_id, e.time, e.temperature, e.status, m.customer_id
           |FROM dash_export e JOIN dash_mapping m USING (sensor_id)
           |WHERE e.partition_key = '${exportKey(q.lo)}'""".stripMargin)
    case "hot_read" =>
      Exporter.hotColdRead(spark, export, exportKey(LakeSeconds - HotWindows * Window))
        .filter(col("partition_key").cast("string") === exportKey(q.lo) &&
          col("sensor_id").isin(q.ids: _*))
        .select("sensor_id", "time", "temperature", "status")
    case "range_read" =>
      VersionedLake.readRange(spark, lake, 160.0, 200.0)
        .filter(col("measure_value") > 160.0 &&
          col("time") >= lit(ts(q.lo)) && col("time") < lit(ts(q.hi)))
    case "point_read" =>
      val k = Fleet.sensorId(q.key)
      VersionedLake.readPoint(spark, lake, k).filter(col("sensor_id") === k)
  }

  private def exportKey(lo: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH-mm")
      .withZone(java.time.ZoneOffset.UTC).format(ts(lo))

  /** The export of the flagship per 5-minute window, and the mapping. */
  private def buildExport(exportDir: String, csvDir: File): Unit = {
    val windows = (0L until LakeSeconds by Window).map { s =>
      def f(x: Long) = ts(x).toString.replace("T", " ").stripSuffix("Z")
      (f(s), f(s + Window))
    }
    Exporter.backfillOnePass(Fleet.frame(spark, seed, Sensors, 0, LakeSeconds),
      GridParams("sensor_id", "time", "temperature", "status", "60 SECONDS"), exportDir, windows)
    csvDir.mkdirs()
    val csv = "\uFEFFsensor_id,customer_id\n" + // the reference CSV starts with a BOM
      (0 until Sensors).map(i => s"${Fleet.sensorId(i)},C${i % 5}").mkString("\n") + "\n"
    java.nio.file.Files.write(new File(csvDir, "mapping.csv").toPath, csv.getBytes("UTF-8"))
  }

  def run(): Unit = {
    val order = rng.shuffle(Classes.toList)
    ctx.trace.enabled = false
    val ts0 = System.nanoTime()
    // the export and the mapping do not read the lake: they are built
    // alongside it
    val exportBuilt = Future(buildExport(export, ctx.dir("mapping")))(ExecutionContext.global)
    VersionedLake.create(Fleet.lakeRows(Fleet.frameMicros(spark, seed, Sensors, 0, LakeSeconds)),
      lake, Fleet.LakePartition, statsCol = Fleet.LakeStats, bloom = Fleet.LakeBloom)
    Await.result(exportBuilt, Duration.Inf)
    ctx.log("lake and export built")
    CsvLake.registerExternalTable(spark, ctx.dir("mapping").getAbsolutePath, "dash_mapping")
    for (_ <- 0 until WarmupRounds; c <- order) ctx.op(c)(build(nextQuery(c)))
    ctx.log("warm-up done")
    ctx.metric("setup_s", ctx.sessionS + (System.nanoTime() - ts0) / 1e9, "s")

    // timed phase: one client, next query when the previous returns;
    // whole rounds of the mix, so every class has the same weight; a
    // round starts while at least half of one fits before the deadline,
    // so the phase lasts about --seconds
    val results = scala.collection.mutable.ArrayBuffer.empty[(Query, OpResult)]
    var failures = 0
    ctx.trace.resetWork()
    val jvm0 = JvmCounters.now()
    val start = System.nanoTime()
    val deadline = start + ctx.cfg.seconds * 1000000000L
    var i = 0
    def roundNs = if (i == 0) 0L else (System.nanoTime() - start) / (i / order.size)
    while (i % order.size != 0 || System.nanoTime() + roundNs / 2 < deadline) {
      val q = nextQuery(order(i % order.size))
      // a traced run alternates traced and untraced rounds of the mix,
      // so every class has both and the difference is the overhead
      ctx.trace.enabled = ctx.cfg.trace && (i / order.size) % 2 == 0
      // answers are kept only for each class's first query (the oracle
      // input), so retained heap measures the engine, not the harness
      try {
        val r = ctx.op(q.cls)(build(q))
        results += q -> (if (results.exists(_._1.cls == q.cls)) r.copy(rows = Array.empty, df = null) else r)
      }
      catch { case e: Throwable =>
        failures += 1; System.err.println(s"[perfbench] ${q.cls} failed: $e")
      }
      i += 1
    }
    ctx.trace.enabled = ctx.cfg.trace
    ctx.log(s"timed phase done: $i queries")
    val jvmD = JvmCounters.now() - jvm0
    ctx.attempted += i; ctx.failed += failures

    // untimed oracle inputs: the feed, and the first answer of each class
    val feedDir = new File(ctx.cfg.work, "feed").getAbsolutePath
    Fleet.frame(spark, seed, Sensors, 0, LakeSeconds).write.parquet(feedDir)
    Classes.foreach { c =>
      results.find(_._1.cls == c).foreach { case (q, r) =>
        val out = new File(ctx.cfg.work, s"answer-$c").getAbsolutePath
        spark.createDataFrame(r.rows.toSeq.asJava, r.df.schema).coalesce(1).write.parquet(out)
        ctx.oracleChecks += s"""{"class":"$c","lo":${q.lo},"hi":${q.hi},""" +
          s""""sensors":${q.ids.map(Stats.jsonStr).mkString("[", ",", "]")},""" +
          s""""key":${Stats.jsonStr(Fleet.sensorId(q.key))},"answer":${Stats.jsonStr(out)},""" +
          s""""feed":${Stats.jsonStr(feedDir)},"start_us":${Fleet.StartMicros}}"""
      }
    }
    val answered = Classes.filter(c => results.exists(_._1.cls == c))
    ctx.check("every query class answered")(answered.size == Classes.size)
    results.indices.foreach(j => results(j) = results(j)._1 -> results(j)._2.copy(rows = Array.empty, df = null))
    val walls = results.map(_._2.wallS).toSeq
    ctx.metric("latency_p50_s", Stats.hdQuantile(walls, 0.5), "s")
    ctx.metric("latency_tail_s",
      Stats.hdQuantile(walls, math.min(TailQuantile, Stats.tailQuantile(walls.size))), "s")
    // over the whole rounds of the mix the timed phase ran
    ctx.metric("throughput_events_per_s",
      results.map(_._1.events).sum / results.map(_._2.wallS).sum, "events/s")
    val version = VersionedLake.currentVersion(lake)
    val entries = VersionedLake.manifestEntries(lake, version)
    val lakeBytes = entries.map(e => new File(e.path).length).sum
    ctx.metric("lake_bytes_per_event", lakeBytes.toDouble / VersionedLake.rowCount(spark, lake), "bytes")
    ctx.metric("retained_heap_mb", JvmCounters.retainedHeapMb(), "MB")

    if (ctx.cfg.trace) {
      val ops = results.map(_._2).toSeq
      val traced = ops.count(_.traced)
      val byClass = results.groupBy(_._1.cls)
      def med(cls: String, traced: Boolean) =
        Stats.median(byClass.getOrElse(cls, Nil).filter(_._2.traced == traced).map(_._2.wallS).toSeq)
      val pairs = Classes.map(c => (med(c, true), med(c, false))).filterNot(p => p._1.isNaN || p._2.isNaN)
      Layers.report(ctx,
        Layers.opLayers(ctx, ops, traced, root => if (root.contains(lake)) Some(entries.size) else None) ++
          Layers.selfTimes(ctx, traced) ++
          Layers.jvm(jvmD, ops.size) ++
          Classes.map(c => s"q.${c}_s" -> Stats.median(
            byClass.getOrElse(c, Nil).map(_._2.wallS).toSeq)).filterNot(_._2.isNaN) ++ Map(
          "lake.versions" -> version.toDouble,
          "lake.files_live" -> entries.size.toDouble,
          "lake.bytes_live" -> lakeBytes.toDouble,
          "trace.overhead_share" -> (if (pairs.isEmpty) 0.0
            else pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0),
          "trace.recorder_s" -> ctx.trace.selfNanos.get / 1e9 / math.max(1, traced),
          "trace.spans" -> ctx.trace.spans.size.toDouble / math.max(1, traced)))
      ctx.trace.writeSpans(new File(ctx.cfg.work, "spans.jsonl"))
    }

    ctx.log("oracle inputs written")
  }
}

object Dashboard {
  val Classes: Seq[String] = Seq("flagship", "bin_max", "percentile", "ohlc", "gaps",
    "cep_batch", "enrich_join", "hot_read", "range_read", "point_read")
  /** Classes that read a seeded sensor subset rather than the fleet. */
  val Subset: Set[String] = Set("flagship", "ohlc", "gaps", "cep_batch", "hot_read")
  /** Classes that read one whole window of the export. */
  val Export: Set[String] = Set("enrich_join", "hot_read")
  /** Export windows at the end of the lake that hotColdRead pins in
    * the block-manager cache; earlier windows are read from files. */
  val HotWindows = 1
  val Sensors = 1000
  val LakeSeconds = 900L
  val Window = 300L
  val SubsetSize = 100
  val WarmupRounds = 1
  /** Latency tail: p75, or lower when a run answers fewer than 40
    * queries, so at least 10 lie beyond it. Not p(1 - 10/n): the two
    * slowest classes are the mix's top 20%, and a quantile that moves
    * with n across that edge would move the tail with the run's speed. */
  val TailQuantile = 0.75
}
