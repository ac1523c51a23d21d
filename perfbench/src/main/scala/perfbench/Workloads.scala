package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkEntry
import graft.ops.{Enrich, Normalize}
import graft.streaming.ProducerLoop

/** Layer boundaries inside one op. In a traced op `boundary` caches and
  * counts a lazy frame inside its own span, so each layer gets its own
  * time; otherwise both calls are transparent.
  */
trait Layers {
  def span[T](name: String)(f: => T): T
  def boundary(name: String, df: DataFrame): DataFrame
}

/** One op of the closed loop; `run` says whether its output passed the
  * check that can be made right away.
  */
final case class OpSpec(name: String, run: Layers => Boolean)

/** A per-layer figure only some workloads have. */
final case class Figure(name: String, value: Double, unit: String)

trait Workload {
  /** State every run needs before the warm-up pass. */
  def prepare(): Unit
  /** Rounds run untimed before the first timed op. */
  def warmRounds: Int
  /** Whether warm-up ops are independent, so they may run side by side. */
  def warmInParallel: Boolean
  /** The next round of ops; warm-up rounds may use smaller inputs and
    * their outputs are not checked.
    */
  def nextRound(warm: Boolean): Seq[OpSpec]
  /** End-of-run checks: failing op name → reason. */
  def verify(): Map[String, String]
  /** Workload-specific per-layer figures over the traced ops. */
  def figures(ops: Seq[OpRec], layers: Seq[OpLayers], spans: Seq[Span]): Seq[Figure]
}

object Workloads {
  /** The reference's own operator queries: a few jobs each, milliseconds
    * of task time — the per-query driver floor.
    */
  val Ingest: Seq[String] = Seq(
    "q2_filter", "q3_enrich", "q4_watermark", "q5_dedup", "q7_hourly", "q8_union",
    "q10_upsert", "q12_json", "q13_explode", "q19_normalize", "q20_stations",
    "q37_sessionize", "q42_asof_join", "q171_window_functions", "q321_jdbc_upsert",
    "q322_jdbc_cursor")

  /** Many jobs per query, lineage cuts and eager materialization. */
  val Iterative: Seq[String] = Seq("q184_kcore", "q60_cc_log_rounds", "q140_incremental_cc", "q155_label_prop")

  def spanMean(spans: Seq[Span], ops: Int, p: Span => Boolean): Double =
    if (ops == 0) 0.0 else spans.filter(p).map(_.dur).sum / 1e3 / ops
}

/** Seeded rounds of registry queries; each op builds one query through
  * `SparkEntry.queries` over `dataDir`, collects its full result and
  * digests it. The warm-up round runs over the smaller `warmDir`: its
  * plans and generated code are the same, its data a tenth.
  */
final class QueryWorkload(
    spark: SparkSession,
    names: Seq[String],
    dataDir: String,
    warmDir: String,
    expected: Map[String, String],
    seed: Long
) extends Workload {
  private val rnd = new scala.util.Random(seed)
  private val mismatches = mutable.LinkedHashMap.empty[String, String]

  def prepare(): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"queries missing from the registry: ${unknown.mkString(", ")}")
    val unrecorded = names.filterNot(expected.contains)
    require(unrecorded.isEmpty, s"no expected digest for: ${unrecorded.mkString(", ")}")
  }

  val warmRounds = 1
  val warmInParallel = true

  def nextRound(warm: Boolean): Seq[OpSpec] = rnd.shuffle(names).map { name =>
    OpSpec(name, layers => {
      val df = layers.span("SparkEntry.build")(SparkEntry.queries(name)(spark, if (warm) warmDir else dataDir))
      val rows = layers.span("result.collect")(df.collect())
      val digest = layers.span("result.digest")(Digest.of(rows))
      val ok = warm || expected(name) == digest
      if (!ok) mismatches(name) = s"digest $digest, expected ${expected(name)}"
      ok
    })
  }

  def verify(): Map[String, String] = mismatches.toMap

  def figures(ops: Seq[OpRec], layers: Seq[OpLayers], spans: Seq[Span]): Seq[Figure] = {
    val traced = layers.size
    val builds = spans.filter(_.name == "SparkEntry.build")
    val eager = spans.count(j => j.name == "job" && builds.exists(b => b.op == j.op && j.start >= b.start && j.start <= b.end))
    Seq(
      Figure("SparkEntry.build_s", Workloads.spanMean(spans, traced, _.name == "SparkEntry.build"), "s"),
      Figure("SparkEntry.eager_jobs", if (traced == 0) 0.0 else eager.toDouble / traced, "count")
    ) ++ names.sorted.map { n =>
      Figure(s"query.$n.p50_s", Stats.median(ops.filter(_.name == n).map(_.wallS)), "s")
    }
  }
}

/** The producer cycle over seeded micro-batches: paged raw measurements
  * → `Normalize.toMeasurements` → arrival column → `Enrich.leftEnrich`
  * against the station catalog → `ProducerLoop.processBatch` into a
  * parquet sink and cursor snapshot. A plain-Scala model replays every
  * batch; sink and cursors are compared with it after the timed loop.
  */
final class CycleWorkload(spark: SparkSession, seed: Long, work: Path) extends Workload {
  import CycleWorkload._

  private val gen = new CycleGen(seed)
  private val model = new CycleModel
  private val dir = work.toAbsolutePath.normalize
  private val catalogDir = dir.resolve("catalog").toString
  private val sinkDir = dir.resolve("sink").toString
  private val cursorDir = dir.resolve("cursors").toString
  /** Batch → (row id → enriched city) of the rows the model emits. */
  private val expectedRows = mutable.LinkedHashMap.empty[Int, Map[String, String]]
  private val cities = CycleGen.catalog.map(s => s.id -> s.city).toMap
  private var batchNo = 0

  def prepare(): Unit = {
    import spark.implicits._
    CycleGen.catalog.toDF("station_id", "city", "lat", "lon").coalesce(1).write.parquet(catalogDir)
  }

  /** The 10,000-row key-filling batch, then regular batches until the
    * per-batch latency has settled.
    */
  val warmRounds = 11
  val warmInParallel = false

  def nextRound(warm: Boolean): Seq[OpSpec] = {
    val b = batchNo
    batchNo += 1
    val rows = if (b == 0) gen.warmBatch() else gen.batch(b)
    val pagesDir = dir.resolve(f"pages/b$b%05d")
    Files.createDirectories(pagesDir)
    CycleGen.pages(rows).zipWithIndex.foreach { case (page, i) =>
      Files.writeString(pagesDir.resolve(f"page-$i%04d.jsonl"), page.map(_.json).mkString("", "\n", "\n"))
    }
    val emitted = model.batch(rows.zipWithIndex.flatMap { case (r, i) => CycleModel.normalize(r, i.toLong) })
    expectedRows(b) = emitted.map(r => r.rowId -> cities.getOrElse(r.stationId, null)).toMap
    Seq(OpSpec(batchName(b), layers => { cycle(pagesDir.toString, layers); true }))
  }

  private def cycle(pagesDir: String, layers: Layers): Unit = {
    val raw = layers.boundary("source.scan",
      spark.read.format("graft.source.PagedJsonSource").schema(RawSchema).option("path", pagesDir).load())
    val measurements = layers.boundary("ops.Normalize",
      Normalize.toMeasurements(raw, "de", "DE", "UTC").withColumn("arrival", monotonically_increasing_id()))
    val catalog = spark.read.parquet(catalogDir)
      .select(col("station_id"), col("city").as("cat_city"), col("lat").as("cat_lat"), col("lon").as("cat_lon"))
    val enriched = layers.boundary("ops.Enrich",
      Enrich.leftEnrich(measurements, catalog, "station_id")
        .withColumn("city", coalesce(col("city"), col("cat_city")))
        .withColumn("lat", coalesce(col("lat"), col("cat_lat")))
        .withColumn("lon", coalesce(col("lon"), col("cat_lon")))
        .drop("cat_city", "cat_lat", "cat_lon"))
    layers.span("ProducerLoop.processBatch") {
      ProducerLoop.processBatch(enriched, Keys, "timestamp", "arrival", sinkDir, cursorDir)
    }
  }

  def verify(): Map[String, String] = {
    val got = spark.read.parquet(sinkDir)
      .select(get_json_object(col("value"), "$.location_name"), get_json_object(col("value"), "$.city"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .groupBy { case (id, _) => id.drop(1).takeWhile(_ != '-').toInt }
    val batchFailures = expectedRows.flatMap { case (b, want) =>
      val have = got.getOrElse(b, Array.empty[(String, String)])
      val haveMap = have.toMap
      if (have.length == want.size && haveMap == want) None
      else Some(batchName(b) -> s"emitted ${have.length} rows, model emits ${want.size} (${(haveMap.toSet diff want.toSet).size} unexpected)")
    }
    val cursors = spark.read.parquet(cursorDir)
      .select(col("station_id"), col("pollutant"), unix_micros(col("last_observed_at")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
    val cursorFailure =
      if (cursors.length == model.cursors.size && cursors.toMap == model.cursors.toMap) None
      else Some(batchName(batchNo - 1) -> s"cursor snapshot has ${cursors.length} keys, model ${model.cursors.size}, or values differ")
    (batchFailures ++ cursorFailure).toMap
  }

  def figures(ops: Seq[OpRec], layers: Seq[OpLayers], spans: Seq[Span]): Seq[Figure] = {
    val n = layers.size
    def counted(name: String) = ops.filter(_.traced).flatMap(_.counts.get(name)).sum.toDouble
    def writes(p: String => Boolean) = layers.flatMap(_.writes).filter(w => p(w._1))
    val sinkRows = writes(_ == sinkDir).map(_._2).sum.toDouble
    val totalSink = spark.read.parquet(sinkDir).count().toDouble
    Seq(
      Figure("source.scan_s", Workloads.spanMean(spans, n, _.name == "source.scan"), "s"),
      Figure("ops.Normalize.s", Workloads.spanMean(spans, n, _.name == "ops.Normalize"), "s"),
      Figure("ops.Normalize.kept_ratio", counted("ops.Normalize") / counted("source.scan"), "ratio"),
      Figure("ops.Enrich.s", Workloads.spanMean(spans, n, _.name == "ops.Enrich"), "s"),
      Figure("ProducerLoop.s", Workloads.spanMean(spans, n, _.name == "ProducerLoop.processBatch"), "s"),
      Figure("ProducerLoop.emit_s", Workloads.spanMean(spans, n, _.name == s"sql.write:$sinkDir"), "s"),
      Figure("ProducerLoop.commit_s", Workloads.spanMean(spans, n, _.name.startsWith(s"sql.write:$cursorDir")), "s"),
      Figure("ProducerLoop.emit_ratio", sinkRows / counted("ops.Enrich"), "ratio"),
      Figure("state.cursor_keys", Stats.mean(writes(_ == cursorDir).map(_._2.toDouble)), "count"),
      Figure("state.cursor_bytes", bytes(cursorDir).toDouble, "bytes"),
      Figure("sink.bytes_per_row", bytes(sinkDir) / totalSink, "bytes")
    )
  }
}

object CycleWorkload {
  val Keys: Seq[String] = Seq("station_id", "pollutant")

  val RawSchema: StructType = StructType(
    Seq("station_id", "pollutant", "value", "city", "location_name", "lat", "lon", "ts_raw").map(StructField(_, StringType)))

  def batchName(b: Int): String = s"batch-$b"

  /** Bytes of the data files under a directory. */
  def bytes(path: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(path))
    try s.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")).mapToLong(p => Files.size(p)).sum()
    finally s.close()
  }
}
