package perfbench

import graft.operators.TimeSeries
import graft.operators.TimeSeries.GridParams
import graft.sources.VersionedLake
import graft.streaming.{CepStream, Exporter, Ingest}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import java.io.File
import java.time.Instant

/** The paper's topology as one running system, open loop. A generator
  * thread lands one tick of fleet JSON lines in the feed directory on a
  * fixed schedule, in real time (TickSeconds of event time every
  * TickSeconds of wall time); three long-running streaming queries
  * read the feed:
  *
  *  - ingest: Fleet.lakeRows → VersionedLake.streamingCommit, with
  *    periodic compaction;
  *  - cep: CepStream.matches → narrow CEP store (parquet appends);
  *  - export: Exporter.continuousExport, 5-minute flagship windows.
  *
  * Once a tick is committed to the lake and the CEP store, the
  * dashboard refresh runs: TimeSeries.flagship over the last 5 minutes
  * of the lake for a seeded 100-sensor panel. A tick's freshness is
  * from its due time until the refresh that shows it has returned. */
final class Pipeline(ctx: Ctx) {
  import Pipeline._
  private val spark = ctx.spark
  import spark.implicits._
  private val seed = ctx.cfg.seed
  private val panel: Seq[String] =
    new scala.util.Random(seed).shuffle((0 until Sensors).toList).take(PanelSize).sorted
      .map(Fleet.sensorId)

  private val jsonSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("sensor_id", StringType),
    StructField("temperature", DoubleType), StructField("status", StringType),
    StructField("event_time", LongType)))

  /** Timed ticks in a run. */
  private val k = math.max(SpikeTick + 2, (ctx.cfg.seconds / TickSeconds).toInt)
  /** The feed starts so that timed tick SpikeTick is the first past the
    * 300 s export boundary: every run exports one window at the same
    * tick position. */
  private val feedStart =
    ExportStepMicros / 1000000L - (SpikeTick + WarmupTicks) * TickSeconds

  /** Where the pipeline keeps its feed, stores and checkpoints. */
  final class Stores(root: File) {
    def path(n: String): String = { val d = new File(root, n); d.mkdirs(); d.getAbsolutePath }
    val feed = path("feed"); val lake = path("lake"); val cep = path("cep")
    val export = path("export"); val staging = path("staging")
    def ckpt(q: String): String = path(s"ckpt-$q")
  }

  private def source(d: Stores): DataFrame =
    Ingest.parseSensorJson(
      spark.readStream.schema(StructType(Seq(StructField("value", StringType)))).text(d.feed),
      "value", jsonSchema)

  private def start(d: Stores): Seq[StreamingQuery] = {
    val trigger = Trigger.ProcessingTime(0L)
    val ingest = VersionedLake.streamingCommit(Fleet.lakeRows(source(d)), d.lake,
      Fleet.LakePartition, d.ckpt("ingest"), trigger, statsCol = Fleet.LakeStats,
      bloom = Fleet.LakeBloom, compactEvery = CompactEvery)
    val events = source(d).select(col("sensor_id"),
      timestamp_micros(col("event_time")).as("event_time"), col("temperature"),
      col("status"), col("event_id")).as[CepStream.SensorEvent]
    val cep = CepStream.matches(events).writeStream
      .option("checkpointLocation", d.ckpt("cep"))
      .trigger(trigger)
      .foreachBatch { (b: Dataset[CepStream.CepMatch], _: Long) =>
        cepNarrow(b.toDF()).write.mode("append").parquet(d.cep); ()
      }
      .start()
    val export = Exporter.continuousExport(
      source(d).select(col("sensor_id"), timestamp_micros(col("event_time")).as("time"),
        col("temperature"), col("status")),
      ExportGrid, d.staging, d.export, d.ckpt("export"), ExportStepMicros, trigger)
    val qs = Seq("ingest" -> ingest, "cep" -> cep, "export" -> export)
    qs.foreach { case (n, q) =>
      ctx.progress.name(q.id.toString, n); ctx.trace.nameStream(q.id.toString, n)
    }
    qs.map(_._2)
  }

  private def cepNarrow(matches: DataFrame): DataFrame =
    Ingest.toNarrow(matches.withColumn("event_time", unix_micros(col("event_time"))),
      dims = Seq("sensor_id", "non_errors", "history"),
      measures = Seq("min_temperature", "avg_temperature", "max_temperature"))

  /** Land a tick file atomically: hidden name first, then rename. */
  private def land(d: Stores, name: String, bytes: Array[Byte]): Unit = {
    val tmp = new File(d.feed, s".$name.tmp")
    java.nio.file.Files.write(tmp.toPath, bytes)
    java.nio.file.Files.move(tmp.toPath, new File(d.feed, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** One tick's payload: fleet seconds [from, from + TickSeconds), and
    * its event count. */
  private def tick(from: Long): (Array[Byte], Long) = {
    val lines = Fleet.jsonLines(seed, Sensors, from, from + TickSeconds).toArray
    ((lines.mkString("\n") + "\n").getBytes("UTF-8"), lines.length.toLong)
  }

  private def awaitCommitted(rows: Long): Boolean =
    Seq("ingest", "cep").forall(ctx.progress.awaitRows(_, rows, TimeoutMs))

  private def committed(rows: Long): Boolean =
    Seq("ingest", "cep").forall(ctx.progress.rowsOf(_) >= rows)

  /** The dashboard refresh: flagship over the 5 minutes of event time
    * before `endSecond`, read from the lake. */
  private def refresh(d: Stores, endSecond: Long): OpResult = ctx.op("refresh") {
    def ts(s: Long) = Instant.ofEpochSecond(Fleet.StartMicros / 1000000L + s)
    val wide = VersionedLake.read(spark, d.lake)
      .filter(col("time") >= lit(ts(endSecond - 300)) && col("time") < lit(ts(endSecond)) &&
        col("sensor_id").isin(panel: _*))
      .select(col("sensor_id"), col("time"), col("measure_value").as("temperature"), col("status"))
    TimeSeries.flagship(wide, GridParams("sensor_id", "time", "temperature", "status", "1 SECOND"))
  }

  def run(): Unit = {
    ctx.trace.enabled = false
    // set-up: the stores and the three queries started, then an
    // untimed warm-up of closed-loop ticks with their refreshes
    val ts0 = System.nanoTime()
    val d = new Stores(ctx.dir("pipeline"))
    val queries = start(d)
    var cum = 0L
    var second = feedStart
    for (w <- 0 until WarmupTicks) {
      val (bytes, n) = tick(second)
      land(d, f"warm-$w%03d.json", bytes)
      cum += n; second += TickSeconds
      require(awaitCommitted(cum), "warm-up tick not committed")
      refresh(d, second)
    }
    require(ctx.progress.awaitRows("export", cum, TimeoutMs), "warm-up export lagging")
    // the first window exports inside the timed phase; export the
    // warm-up events once here so that tick is not also the JVM's
    // first export
    Exporter.exportWindow(Fleet.frame(spark, seed, Sensors, feedStart, second),
      ExportGrid, new File(ctx.cfg.work, "export-warm-up").getAbsolutePath,
      "2024-01-01 00:00:00", "2024-01-01 00:05:00")
    ctx.metric("setup_s", ctx.sessionS + (System.nanoTime() - ts0) / 1e9, "s")
    ctx.log("warm-up done")

    // timed phase: payloads prepared up front, so the generator thread
    // only has to land each file on time
    val payloads = (0 until k).map(j => tick(second + j * TickSeconds))
    val cumAt = payloads.map(_._2).scanLeft(cum)(_ + _).tail
    val endSecondAt = (1 to k).map(j => second + j * TickSeconds)
    ctx.trace.resetWork()
    ctx.trace.enabled = ctx.cfg.trace
    val jvm0 = JvmCounters.now()
    val t0Ms = System.currentTimeMillis() + 100
    val dueMs = (0 until k).map(j => t0Ms + (j + 1) * TickSeconds * 1000)
    val landed = new java.util.concurrent.atomic.AtomicInteger(0)
    val lagMs = new Array[Long](k)
    val generator = new Thread(() => {
      for (j <- 0 until k) {
        val wait = dueMs(j) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        land(d, f"tick-$j%05d.json", payloads(j)._1)
        lagMs(j) = System.currentTimeMillis() - dueMs(j)
        landed.synchronized { landed.incrementAndGet(); landed.notifyAll() }
      }
    }, "perfbench-generator")
    generator.start()

    val freshness = new Array[Double](k)
    val refreshes = scala.collection.mutable.ArrayBuffer.empty[(OpResult, Long, Long)]
    var failures = 0
    var j = 0
    while (j < k) {
      landed.synchronized { while (landed.get <= j) landed.wait() }
      val ok = ctx.trace.span("commit-wait", "wait")(awaitCommitted(cumAt(j)))
      if (!ok) { failures += 1; freshness(j) = Double.NaN; j += 1 }
      else {
        // the refresh shows every landed tick whose commits are done
        var last = j
        while (last + 1 < landed.get && committed(cumAt(last + 1))) last += 1
        ctx.trace.enabled = ctx.cfg.trace && refreshes.size % 2 == 0
        val s = System.currentTimeMillis()
        val r = try Some(refresh(d, endSecondAt(last))) catch { case e: Throwable =>
          System.err.println(s"[perfbench] refresh failed: $e"); None }
        val e = System.currentTimeMillis()
        ctx.trace.enabled = ctx.cfg.trace
        r match {
          case Some(res) =>
            refreshes += ((res.copy(rows = Array.empty, df = null), s, e))
            (j to last).foreach(i => freshness(i) = (e - dueMs(i)) / 1000.0)
          case None => failures += last - j + 1
        }
        j = last + 1
      }
    }
    generator.join()
    ctx.check("export caught up with the feed")(ctx.progress.awaitRows("export", cumAt.last, TimeoutMs))
    val endMs = System.currentTimeMillis()
    ctx.log(s"timed phase done: $k ticks, freshness ${freshness.mkString(" ")}")
    val jvmD = JvmCounters.now() - jvm0
    ctx.attempted += k; ctx.failed += failures

    // busy: the union of every stream batch and refresh in the window
    val batches = Seq("ingest", "cep", "export").flatMap(n => ctx.progress.of(n).map(n -> _))
      .filter { case (_, p) => Progress.startMs(p) >= t0Ms }
    val busyMs = Trace.union(batches.map { case (_, p) => (Progress.startMs(p), Progress.endMs(p)) } ++
      refreshes.map(r => (r._2, r._3)))
    val fresh = freshness.toSeq.filterNot(_.isNaN)
    ctx.metric("latency_p50_s", Stats.hdQuantile(fresh, 0.5), "s")
    ctx.metric("latency_tail_s", Stats.hdQuantile(fresh, TailQuantile), "s")
    ctx.metric("throughput_events_per_s", (cumAt.last - cum) / (busyMs / 1000.0), "events/s")
    val version = VersionedLake.currentVersion(d.lake)
    val entries = VersionedLake.manifestEntries(d.lake, version)
    val lakeBytes = entries.map(e => new File(e.path).length).sum
    val lakeRows = VersionedLake.rowCount(spark, d.lake)
    ctx.metric("lake_bytes_per_event", lakeBytes.toDouble / lakeRows, "bytes")
    ctx.metric("retained_heap_mb", JvmCounters.retainedHeapMb(), "MB")

    if (ctx.cfg.trace) {
      val n = k.toDouble
      val streams = Seq("ingest", "cep", "export")
      def dur(name: String, key: String) =
        batches.filter(_._1 == name).map(b => Progress.duration(b._2, key)).sum / n
      val streamLayers = streams.flatMap { s => Seq(
        s"$s.trigger_s" -> dur(s, "triggerExecution"),
        s"$s.planning_s" -> dur(s, "queryPlanning"),
        s"$s.batches" -> batches.count(_._1 == s) / n) }.toMap
      val lastCep = ctx.progress.of("cep").lastOption.flatMap(_.stateOperators.headOption)
      val ops = refreshes.map(_._1).toSeq
      val tracedRefreshes = ops.count(_.traced)
      val byTrace = ops.groupBy(_.traced).map { case (t, rs) => t -> Stats.median(rs.map(_.wallS)) }
      val refreshLayers = Layers.opLayers(ctx, ops, tracedRefreshes,
        root => if (root.contains(d.lake)) Some(entries.size) else None,
        Some(StreamLoad(streams.map(ctx.trace.streamWork), k, (endMs - t0Ms) / 1000.0)))
      Layers.report(ctx, refreshLayers ++ Layers.selfTimes(ctx, k) ++ Layers.jvm(jvmD, k) ++
        streamLayers ++ Map(
        "ingest.addbatch_s" -> dur("ingest", "addBatch"),
        "ingest.walcommit_s" -> dur("ingest", "walCommit"),
        "lake.versions" -> version.toDouble,
        "lake.files_live" -> entries.size.toDouble,
        "lake.bytes_live" -> lakeBytes.toDouble,
        "lake.compactions" -> (version - ctx.progress.of("ingest").size).toDouble,
        "cep.state_rows" -> lastCep.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "cep.state_bytes" -> lastCep.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "export.windows" -> Option(new File(d.export).list()).map(_.count(_.startsWith("partition_key="))).getOrElse(0).toDouble,
        "dash.refresh_s" -> Stats.median(ops.map(_.wallS)),
        "harness.generator_lag_s" -> lagMs.max / 1000.0,
        "trace.overhead_share" -> (byTrace.get(true).zip(byTrace.get(false))
          .map { case (t, u) => t / u - 1.0 }.headOption.getOrElse(0.0)),
        "trace.recorder_s" -> ctx.trace.selfNanos.get / 1e9 / n,
        "trace.spans" -> ctx.trace.spans.size / n))
      ctx.trace.writeSpans(new File(ctx.cfg.work, "spans.jsonl"))
    }
    queries.foreach(_.stop())

    // untimed checks against batch recomputation over the whole feed
    val feed = Fleet.frameMicros(spark, seed, Sensors, feedStart, second + k * TickSeconds).cache()
    ctx.check("lake rows equal the feed's narrow rows")(lakeRows == cumAt.last && feed.count() == lakeRows)
    ctx.check("CEP store equals the batch emulation") {
      val expect = cepNarrow(CepStream.matchesBatchEmulation(feed.select(col("sensor_id"),
        timestamp_micros(col("event_time")).as("event_time"), col("temperature"), col("status"),
        col("event_id")).as[CepStream.SensorEvent]))
      val got = spark.read.schema(expect.schema).parquet(d.cep)
      expect.count() > 0 && same(expect, got)
    }
    val wide = feed.select(col("sensor_id"), timestamp_micros(col("event_time")).as("time"),
      col("temperature"), col("status"))
    val keys = Option(new File(d.export).list()).toSeq.flatten
      .filter(_.startsWith("partition_key=")).map(_.stripPrefix("partition_key=")).sorted
    ctx.check("export produced windows")(keys.nonEmpty)
    keys.foreach { key =>
      ctx.check(s"export window $key equals exportWindow") {
        val start = java.time.LocalDateTime.parse(key, java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd'T'HH-mm"))
        def fmt(t: java.time.LocalDateTime) = t.toString.replace("T", " ") + ":00"
        val ref = new File(ctx.cfg.work, s"ref-$key").getAbsolutePath
        Exporter.exportWindow(wide, ExportGrid, ref, fmt(start),
          fmt(start.plusSeconds(ExportStepMicros / 1000000L)))
        same(spark.read.parquet(ref).drop("partition_key"),
          spark.read.parquet(s"${d.export}/partition_key=$key"))
      }
    }
    ctx.log("checks done")
  }

  /** Equal as multisets of rows (column order by name); both sides
    * are small enough to compare on the driver. */
  private def same(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted.map(col)
    def bag(df: DataFrame) = df.select(cols: _*).collect().groupBy(identity).view.mapValues(_.length).toMap
    bag(a) == bag(b)
  }
}

object Pipeline {
  val Sensors = 1000
  val PanelSize = 100
  /** Event-time seconds per tick; one tick is due every TickSeconds of
    * wall time. */
  val TickSeconds = 5L
  /** Closed-loop ticks before the timed phase; the first one starts
    * the three queries' first batches. */
  val WarmupTicks = 3
  /** The timed tick that exports a window and compacts the lake. Every
    * warm-up and timed tick commits one lake version, and a compaction
    * commits one more, so compaction every CompactEvery versions lands
    * on this tick and next on the tick CompactEvery - 1 later, past
    * the 5 a 25 s run times. The other ticks are plain, so the median
    * is theirs and the tail weights the spike. */
  val SpikeTick = 2
  val CompactEvery: Int = WarmupTicks + SpikeTick + 1
  val ExportStepMicros = 300000000L
  val ExportGrid = GridParams("sensor_id", "time", "temperature", "status", "1 SECOND")
  val TimeoutMs = 60000L
  /** Freshness tail: the upper quartile (a Harrell–Davis estimate). A
    * run's 5 ticks are too few for the highest percentile with 10
    * samples beyond it; the upper quartile is the highest the sample
    * supports, and the spike tick falls above it. */
  val TailQuantile = 0.75
}
