package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer

/** One raw measurement as the upstream API would page it out. `rowId`
  * rides in `location_name`, so every emitted row names its batch and
  * its position.
  */
final case class RawRow(stationId: String, pollutant: String, value: Option[String], tsRaw: String, rowId: String) {
  def json: String = {
    def q(s: String) = "\"" + s + "\""
    val v = value.map(q).getOrElse("null")
    s"""{"station_id":${q(stationId)},"pollutant":${q(pollutant)},"value":$v,"location_name":${q(rowId)},"ts_raw":${q(tsRaw)}}"""
  }
}

final case class Station(id: String, city: String, lat: Double, lon: Double)

/** Seeded micro-batch generator for the producer cycle. The same seed
  * gives the same batches, byte for byte.
  *
  * Each regular batch holds `RowsPerBatch` rows over `Keys` (station,
  * pollutant) keys, inside the batch's 300 s window, with these shares:
  * re-deliveries of an earlier valid row (so the cursor already covers
  * them) `Late`, in-batch duplicates of an earlier row of the same batch
  * (same key and instant, other value, later arrival) `Duplicate`, null
  * or non-numeric values `NullValue`, off-allowlist pollutants
  * `OffAllowlist`, unparseable timestamps `BadTimestamp`; the rest are
  * fresh. The warm-up batch holds one fresh row per key, so the cursor
  * snapshot starts the timed loop at its steady key count.
  */
final class CycleGen(seed: Long) {
  import CycleGen._

  private val rnd = new scala.util.Random(seed)
  /** (key, epoch second) of every valid row delivered so far. */
  private val delivered = ArrayBuffer.empty[(Int, Long)]

  private def key(k: Int): (String, String) = (station(k / Pollutants.size), Pollutants(k % Pollutants.size))

  private def spell(p: String): String = {
    val forms = if (p == "pm25") Seq("pm25", "PM2.5", " pm2.5 ", "PM25") else Seq(p, p.toUpperCase, s" $p ")
    forms(rnd.nextInt(forms.size))
  }

  private def value(): String = (rnd.nextInt(100000) / 100.0).toString

  private def ts(epochSec: Long): String = {
    val t = Instant.ofEpochSecond(epochSec)
    rnd.nextInt(4) match {
      case 0 => NaiveSpace.format(t.atOffset(ZoneOffset.UTC))
      case 1 => NaiveT.format(t.atOffset(ZoneOffset.UTC))
      case 2 => Iso.format(t.atOffset(ZoneOffset.UTC))
      case _ => Iso.format(t.atOffset(ZoneOffset.ofHours(2)))
    }
  }

  private def fresh(k: Int, epochSec: Long, id: String): RawRow = {
    val (s, p) = key(k)
    delivered += ((k, epochSec))
    RawRow(s, spell(p), Some(value()), ts(epochSec), id)
  }

  /** Batch 0: one fresh row per key, in seeded order. */
  def warmBatch(): Seq[RawRow] = {
    val end = windowEnd(0)
    rnd.shuffle((0 until Keys).toVector).zipWithIndex.map { case (k, i) =>
      fresh(k, end - rnd.nextInt(BatchSeconds), s"b0-r$i")
    }
  }

  /** Regular batch `b` >= 1. */
  def batch(b: Int): Seq[RawRow] = {
    val end = windowEnd(b)
    val rows = ArrayBuffer.empty[RawRow]
    // (key, epoch second) of this batch's fresh valid rows, for duplicates
    val freshHere = ArrayBuffer.empty[(Int, Long)]
    val history = delivered.size
    for (i <- 0 until RowsPerBatch) {
      val id = s"b$b-r$i"
      val u = rnd.nextDouble()
      val k = rnd.nextInt(Keys)
      val t = end - rnd.nextInt(BatchSeconds)
      val (s, p) = key(k)
      rows += {
        if (u < Late) {
          val (ok, ot) = delivered(rnd.nextInt(history))
          val (os, op) = key(ok)
          RawRow(os, spell(op), Some(value()), ts(ot), id)
        } else if (u < Late + Duplicate && freshHere.nonEmpty) {
          val (dk, dt) = freshHere(rnd.nextInt(freshHere.size))
          val (ds, dp) = key(dk)
          RawRow(ds, spell(dp), Some(value()), ts(dt), id)
        } else if (u < Late + Duplicate + NullValue)
          RawRow(s, spell(p), if (rnd.nextBoolean()) None else Some("n/a"), ts(t), id)
        else if (u < Late + Duplicate + NullValue + OffAllowlist)
          RawRow(s, Off(rnd.nextInt(Off.size)), Some(value()), ts(t), id)
        else if (u < Late + Duplicate + NullValue + OffAllowlist + BadTimestamp)
          RawRow(s, spell(p), Some(value()), "n/a", id)
        else {
          freshHere += ((k, t))
          fresh(k, t, id)
        }
      }
    }
    rows.toSeq
  }
}

object CycleGen {
  val Pollutants: Seq[String] = graft.schema.Schemas.pollutants
  val Stations = 1250
  val Keys: Int = Stations * Pollutants.size
  val RowsPerBatch = 5000
  /** More pages than cores, so the scan runs at full width. */
  val PagesPerBatch = 8
  val BatchSeconds = 300
  val Late = 0.10
  val Duplicate = 0.03
  val NullValue = 0.02
  val OffAllowlist = 0.02
  val BadTimestamp = 0.01
  val Off: Seq[String] = Seq("benzene", "h2s", "pm1")
  /** 2024-01-01T00:00:00Z: end of the warm-up batch's window. */
  val Epoch0 = 1704067200L

  def windowEnd(b: Int): Long = Epoch0 + b.toLong * BatchSeconds

  def station(i: Int): String = f"ST$i%05d"

  /** Station catalog; every 20th station is missing from it, so the
    * enrichment's left join passes unknown stations through.
    */
  val catalog: Seq[Station] =
    (0 until Stations).filter(_ % 20 != 7).map { i =>
      Station(station(i), s"city${i % 97}", 50.0 + (i % 90) * 0.01, 13.0 + (i % 70) * 0.01)
    }

  private val NaiveSpace = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val NaiveT = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")

  /** Contiguous page-sized slices in arrival order. */
  def pages(rows: Seq[RawRow]): Seq[Seq[RawRow]] = {
    val per = (rows.size + PagesPerBatch - 1) / PagesPerBatch
    rows.grouped(per).toSeq
  }
}
