package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Normalize
import graft.streaming.ProducerLoop

/** The model must agree with `ProducerLoop.processBatch` on a tiny
  * hand-built sequence: a late re-delivery, in-batch duplicates, null
  * timestamps, an off-allowlist pollutant and rows equal to the cursor.
  */
class CycleModelSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = graft.Sessions.local(2)

  override def afterAll(): Unit = spark.stop()

  private def raw(id: String, station: String, pollutant: String, ts: String, value: String = "1.5") =
    RawRow(station, pollutant, Option(value), ts, id)

  private val batch1 = Seq(
    raw("b1-r0", "ST1", "pm25", "2024-01-01 10:00:00", "1.0"),
    raw("b1-r1", "ST1", " PM2.5 ", "2024-01-01T10:00:00Z", "2.0"), // in-batch duplicate of r0
    raw("b1-r2", "ST1", "pm25", "2024-01-01T10:05:00Z"),
    raw("b1-r3", "ST2", "NO2", "2024-01-01T12:00:00+02:00"),
    raw("b1-r4", "ST3", "benzene", "2024-01-01 10:00:00"), // off the allowlist
    raw("b1-r5", "ST2", "no2", "n/a"), // unparseable timestamp
    raw("b1-r6", "ST2", "no2", "2024-01-01 10:01:00", "n/a")) // non-numeric value
  private val batch2 = Seq(
    raw("b2-r0", "ST1", "pm25", "2024-01-01 10:00:00"), // late re-delivery
    raw("b2-r1", "ST1", "pm25", "2024-01-01 10:05:00"), // equal to the cursor
    raw("b2-r2", "ST1", "pm25", "2024-01-01 10:10:00"),
    raw("b2-r3", "ST2", "no2", "2024-01-01 10:10:00"),
    raw("b2-r4", "ST2", "no2", "2024-01-01T10:10:00Z"), // duplicate in another format
    raw("b2-r5", "ST4", "o3", "2024-01-01 09:00:00")) // key whose cursor is null
  /** (row id, station, pollutant) of one row per batch with a null event
    * time: normalization drops those, so it joins after that step.
    */
  private val injected = Seq(("b1-n", "ST4", "o3"), ("b2-n", "ST1", "pm25"))

  private def programBatch(rows: Seq[RawRow], extra: (String, String, String)): DataFrame = {
    import spark.implicits._
    val df = rows.map(r => (r.stationId, r.pollutant, r.value.orNull, r.rowId, r.tsRaw))
      .toDF("station_id", "pollutant", "value", "location_name", "ts_raw")
      .withColumn("city", lit(null).cast("string"))
      .withColumn("lat", lit(null).cast("string"))
      .withColumn("lon", lit(null).cast("string"))
    val normalized = Normalize.toMeasurements(df, "de", "DE", "UTC").withColumn("arrival", monotonically_increasing_id())
    val (id, station, pollutant) = extra
    val nullTime = Seq((station, pollutant, 1.0, id, Long.MaxValue))
      .toDF("station_id", "pollutant", "value", "location_name", "arrival")
      .withColumn("timestamp", lit(null).cast("timestamp"))
    normalized.unionByName(nullTime, allowMissingColumns = true)
  }

  test("model and processBatch agree batch by batch, and on the final cursors") {
    val tmp = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    val dir = Files.createTempDirectory(tmp, "cycle-model").toAbsolutePath.toString
    val (sink, cursors) = (s"$dir/sink", s"$dir/cursors")
    val model = new CycleModel
    val expectedEmits = Seq(Set("b1-r0", "b1-r2", "b1-r3", "b1-n"), Set("b2-r2", "b2-r3", "b2-r5", "b2-n"))
    Seq(batch1, batch2).zip(injected).zip(expectedEmits).zipWithIndex.foreach { case (((rows, extra), want), i) =>
      val modelRows = rows.zipWithIndex.flatMap { case (r, j) => CycleModel.normalize(r, j) } :+
        ModelRow(extra._1, extra._2, extra._3, None, Long.MaxValue)
      val emitted = model.batch(modelRows).map(_.rowId).toSet
      assert(emitted == want, s"model, batch ${i + 1}")
      ProducerLoop.processBatch(programBatch(rows, extra), CycleWorkload.Keys, "timestamp", "arrival", sink, cursors)
      val got = spark.read.parquet(sink)
        .select(get_json_object(col("value"), "$.location_name").as("id"))
        .collect().map(_.getString(0)).filter(_.startsWith(s"b${i + 1}-")).toSet
      assert(got == emitted, s"processBatch, batch ${i + 1}")
    }
    val snapshot = spark.read.parquet(cursors)
      .select(col("station_id"), col("pollutant"), unix_micros(col("last_observed_at")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    assert(snapshot == model.cursors.toMap)
    val at = (s: String) => Some(java.time.Instant.parse(s).getEpochSecond * 1000000L)
    assert(model.cursors.toMap == Map(
      ("ST1", "pm25") -> at("2024-01-01T10:10:00Z"),
      ("ST2", "no2") -> at("2024-01-01T10:10:00Z"),
      ("ST4", "o3") -> at("2024-01-01T09:00:00Z")))
  }
}
