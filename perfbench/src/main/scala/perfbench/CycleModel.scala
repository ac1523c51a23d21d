package perfbench

import java.time.{LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

import scala.collection.mutable
import scala.util.Try

/** A measurement as it enters the watermark step: key, event time in
  * epoch microseconds (None when it failed to parse) and arrival order.
  */
final case class ModelRow(rowId: String, stationId: String, pollutant: String, tsMicros: Option[Long], arrival: Long) {
  def key: (String, String) = (stationId, pollutant)
}

/** Plain-Scala model of the documented producer-cycle semantics, kept
  * free of Spark so it can judge what the program emitted:
  *
  *  - per key, keep the first arrival for each timestamp;
  *  - emit a row if its key has no cursor yet, if its timestamp is null,
  *    or if it is strictly newer than the key's cursor;
  *  - advance each emitted key's cursor by GREATEST (nulls ignored).
  */
final class CycleModel {
  /** Key → cursor; a key whose emitted rows all lacked a timestamp holds None. */
  val cursors = mutable.Map.empty[(String, String), Option[Long]]

  /** Apply one batch; returns the emitted rows. */
  def batch(rows: Seq[ModelRow]): Seq[ModelRow] = {
    val firsts = rows.groupBy(r => (r.key, r.tsMicros)).values.map(_.minBy(_.arrival)).toSeq
    val emitted = firsts.filter { r =>
      cursors.get(r.key).flatten match {
        case None => true
        case Some(c) => r.tsMicros.forall(_ > c)
      }
    }
    emitted.groupBy(_.key).foreach { case (k, rs) =>
      cursors(k) = (cursors.get(k).flatten.toSeq ++ rs.flatMap(_.tsMicros)).maxOption
    }
    emitted.sortBy(_.arrival)
  }
}

object CycleModel {
  private val Allowed = graft.schema.Schemas.pollutants.toSet
  private val Decimal = "-?[0-9]+(\\.[0-9]+)?".r
  private val NaiveSpace = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val NaiveT = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val Iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ssXXX")

  private def micros(epochSec: Long): Long = epochSec * 1000000L

  /** The normalization step on one raw row (UTC naive zone): the row
    * survives only with a numeric value, an allowlisted pollutant and a
    * parseable timestamp.
    */
  def normalize(raw: RawRow, arrival: Long): Option[ModelRow] = {
    val pollutant = raw.pollutant.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      .toLowerCase(Locale.ROOT).replace("pm2.5", "pm25")
    val value = raw.value.filter(v => Decimal.matches(v))
    val ts = Try(OffsetDateTime.parse(raw.tsRaw, Iso).toEpochSecond)
      .orElse(Try(LocalDateTime.parse(raw.tsRaw, NaiveT).toEpochSecond(ZoneOffset.UTC)))
      .orElse(Try(LocalDateTime.parse(raw.tsRaw, NaiveSpace).toEpochSecond(ZoneOffset.UTC)))
      .toOption
    if (value.isEmpty || !Allowed(pollutant) || ts.isEmpty) None
    else Some(ModelRow(raw.rowId, raw.stationId, pollutant, ts.map(micros), arrival))
  }
}
