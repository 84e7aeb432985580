package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded sensor fleet following the reference generator's rules
  * (random_data_generator.py): every sensor is sampled at 1 Hz and
  * emits with probability 1/2; temperature = round(10 + u * 170), so it
  * lies in [10, 180]; status is ERROR above 160, a coin-flip WARNING or
  * ERROR above 140 or with probability 0.2, OK otherwise.
  *
  * Every draw is a pure function of (seed, sensor, second, salt) through
  * SplitMix64, so a tick can be generated on the driver for the live
  * feed and the same events regenerated in parallel for a batch lake.
  * `event_id` = second * sensors + sensor: unique and increasing in
  * event-time order. */
object Fleet {

  final case class Event(event_id: Long, sensor_id: String, temperature: Double,
      status: String, event_time: Long) // epoch micros

  /** 2024-01-01T00:00:00Z — the start of every generated feed. */
  val StartMicros: Long = 1704067200000000L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def uniform(seed: Long, sensor: Int, second: Long, salt: Int): Double =
    (mix(mix(mix(seed * 31 + salt) ^ second) ^ sensor) >>> 11) * (1.0 / (1L << 53))

  private val ids = Array.tabulate(10000)(i => "sensor-%04d".format(i))

  def sensorId(i: Int): String = ids(i)

  /** Whether sensor `i` emits in fleet second `s` (the 50% dropout). */
  def emits(seed: Long, i: Int, s: Long): Boolean = uniform(seed, i, s, 4) < 0.5

  /** The events of one fleet second, in sensor order. */
  def second(seed: Long, sensors: Int, s: Long): Iterator[Event] =
    Iterator.range(0, sensors).filter(emits(seed, _, s)).map { i =>
      val t = math.floor(10.0 + uniform(seed, i, s, 1) * 170.0 + 0.5)
      val status =
        if (t > 160) "ERROR"
        else if (t > 140 || uniform(seed, i, s, 2) < 0.2)
          (if (uniform(seed, i, s, 3) < 0.5) "WARNING" else "ERROR")
        else "OK"
      Event(s * sensors + i, sensorId(i), t, status, StartMicros + s * 1000000L)
    }

  /** Events of the given sensors in seconds [from, until). */
  def count(seed: Long, sensors: Seq[Int], from: Long, until: Long): Long =
    (from until until).map(s => sensors.count(emits(seed, _, s)).toLong).sum

  /** Seconds [from, until) as JSON lines, in event-time order: the
    * on-wire shape of the reference's stream records plus `event_id`. */
  def jsonLines(seed: Long, sensors: Int, from: Long, until: Long): Iterator[String] =
    Iterator.range(from.toInt, until.toInt).flatMap(s => second(seed, sensors, s)).map { e =>
      s"""{"event_id":${e.event_id},"sensor_id":"${e.sensor_id}","temperature":${e.temperature},""" +
        s""""status":"${e.status}","event_time":${e.event_time}}"""
    }

  /** Seconds [from, until) generated in parallel, `event_time` in epoch
    * micros (the stream's wire shape). */
  def frameMicros(spark: SparkSession, seed: Long, sensors: Int, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, spark.sparkContext.defaultParallelism)
      .flatMap(s => second(seed, sensors, s))
      .toDF()
  }

  /** The same events with `event_time` as the timestamp column `time`. */
  def frame(spark: SparkSession, seed: Long, sensors: Int, from: Long, until: Long): DataFrame =
    frameMicros(spark, seed, sensors, from, until)
      .withColumn("time", timestamp_micros(col("event_time"))).drop("event_time")

  /** The lake layout both workloads write: the narrow pivot partitioned
    * by 5-minute window, stats on the value, a bloom on sensor_id. */
  val LakePartition = "window_key"
  val LakeStats: Option[String] = Some("measure_value")
  val LakeBloom = Some(graft.sources.VersionedLake.BloomSpec("sensor_id"))

  def lakeRows(wideMicros: DataFrame): DataFrame =
    graft.streaming.Ingest.toNarrow(wideMicros, Seq("sensor_id", "status"), Seq("temperature"))
      .withColumn(LakePartition, date_format(
        timestamp_seconds(floor(unix_seconds(col("time")) / 300) * 300), "yyyy-MM-dd'T'HH-mm"))
}
