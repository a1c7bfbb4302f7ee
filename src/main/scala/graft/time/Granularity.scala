package graft.time

import java.time.{Instant, ZoneOffset, ZonedDateTime}
import java.time.temporal.ChronoField

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time granularities of the reference's ingestion spec.
  *
  * Mirrors the granularity set tranquility accepts for
  * `segmentGranularity` / `queryGranularity` (upstream:
  * core/src/main/scala/com/metamx/tranquility/beam/ClusteredBeamTuning.scala#segmentBucket
  * and core/.../druid/DruidRollup.scala#indexGranularity — see SURVEY.md §0 for
  * the citation convention). Truncation is the primary key of the whole system:
  * routing, rollup bucketing, and output partitioning all derive from it.
  *
  * Spark-first design: fixed-width granularities truncate via integer epoch
  * arithmetic (stays inside whole-stage codegen, no UDF); calendar-based ones
  * (week/month/quarter/year) use `date_trunc`. Both are pure Column
  * expressions, so Catalyst can constant-fold and push surrounding filters.
  */
sealed abstract class Granularity(
    val name: String,
    /** Fixed width in seconds, or -1 for calendar-based units. */
    val widthSeconds: Long,
    /** date_trunc unit for calendar-based units. */
    val truncUnit: String) extends Serializable {

  /** Truncate a TimestampType column down to this granularity. */
  def truncate(ts: Column): Column =
    if (this == Granularity.All) timestamp_seconds(lit(0)) // TZ-independent epoch
    else if (this == Granularity.None) ts
    else if (widthSeconds > 0)
      // floor(epoch / w) * w — codegen-friendly, no calendar lookup
      timestamp_seconds(floor(unix_timestamp(ts) / widthSeconds).cast("long") * widthSeconds)
    else date_trunc(truncUnit, ts)

  /** Pure Scala twin of [[truncate]] for driver-side logic and tests.
    * `zone` matters only for CALENDAR granularities (fixed widths truncate
    * in epoch space): the Column form's `date_trunc` works in the SESSION
    * timezone, so driver-side logic comparing against dir names produced by
    * it must pass the session zone — UTC default keeps epoch/UTC callers
    * unchanged.
    */
  def truncateInstant(i: Instant, zone: java.time.ZoneId = ZoneOffset.UTC): Instant =
    if (this == Granularity.All) Instant.EPOCH
    else if (this == Granularity.None) i
    else if (widthSeconds > 0) {
      val e = i.getEpochSecond
      Instant.ofEpochSecond(math.floorDiv(e, widthSeconds) * widthSeconds)
    } else {
      val z = ZonedDateTime.ofInstant(i, zone)
      val d = truncUnit match {
        case "week" =>
          z.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
            .`with`(ChronoField.DAY_OF_WEEK, 1)
        case "month" =>
          z.truncatedTo(java.time.temporal.ChronoUnit.DAYS).withDayOfMonth(1)
        case "quarter" =>
          val m = ((z.getMonthValue - 1) / 3) * 3 + 1
          z.truncatedTo(java.time.temporal.ChronoUnit.DAYS).withDayOfMonth(1).withMonth(m)
        case "year" =>
          z.truncatedTo(java.time.temporal.ChronoUnit.DAYS).withDayOfYear(1)
      }
      d.toInstant
    }

  /** End (exclusive) of the bucket containing instant `i`. NONE is a
    * zero-width bucket (end = the instant itself); ALL is one unbounded
    * bucket (end = Instant.MAX).
    */
  def bucketEnd(i: Instant, zone: java.time.ZoneId = ZoneOffset.UTC): Instant =
    if (this == Granularity.None) i
    else if (this == Granularity.All) Instant.MAX
    else if (widthSeconds > 0) truncateInstant(i).plusSeconds(widthSeconds)
    else {
      val z = ZonedDateTime.ofInstant(truncateInstant(i, zone), zone)
      (truncUnit match {
        case "week"    => z.plusWeeks(1)
        case "month"   => z.plusMonths(1)
        case "quarter" => z.plusMonths(3)
        case "year"    => z.plusYears(1)
      }).toInstant
    }
}

object Granularity {
  case object None          extends Granularity("NONE", 0, "")
  case object Second        extends Granularity("SECOND", 1, "")
  case object Minute        extends Granularity("MINUTE", 60, "")
  case object FiveMinute    extends Granularity("FIVE_MINUTE", 300, "")
  case object TenMinute     extends Granularity("TEN_MINUTE", 600, "")
  case object FifteenMinute extends Granularity("FIFTEEN_MINUTE", 900, "")
  case object ThirtyMinute  extends Granularity("THIRTY_MINUTE", 1800, "")
  case object Hour          extends Granularity("HOUR", 3600, "")
  case object SixHour       extends Granularity("SIX_HOUR", 21600, "")
  case object Day           extends Granularity("DAY", 86400, "")
  case object Week          extends Granularity("WEEK", -1, "week")
  case object Month         extends Granularity("MONTH", -1, "month")
  case object Quarter       extends Granularity("QUARTER", -1, "quarter")
  case object Year          extends Granularity("YEAR", -1, "year")
  case object All           extends Granularity("ALL", -1, "")

  /** Druid `duration` granularity: an arbitrary fixed width. Behaves like
    * the named fixed-width granularities everywhere (epoch-arithmetic
    * truncation, segment naming). */
  final case class Duration(seconds: Long)
      extends Granularity(s"PT${seconds}S", seconds, "") {
    require(seconds > 0, s"duration granularity needs positive seconds, got $seconds")
  }

  val values: Seq[Granularity] = Seq(None, Second, Minute, FiveMinute, TenMinute,
    FifteenMinute, ThirtyMinute, Hour, SixHour, Day, Week, Month, Quarter, Year, All)

  /** Druid period literal → granularity: the calendar periods (P1W/P1M/
    * P3M/P1Y) map to calendar granularities, P1D to the fixed-width day,
    * everything else through [[fromString]]. ONE definition — the native
    * granularity object form, the SQL TIME_* family, and PARTITIONED BY
    * all share it (three private copies had already drifted once; review
    * finding r7). */
  def fromPeriod(p: String): Granularity =
    p.toUpperCase(java.util.Locale.ROOT) match {
      case "P1W" => Week
      case "P1M" => Month
      case "P3M" => Quarter
      case "P1Y" => Year
      case "P1D" => Day
      case s     => fromString(s)
    }

  /** Named granularities plus ISO-8601 durations ("PT90S", "PT2H" — the
    * Druid duration-granularity analog; sub-second durations rejected). */
  def fromString(s: String): Granularity =
    values.find(_.name.equalsIgnoreCase(s.replaceAll("-", "_")))
      .orElse(
        scala.util.Try(java.time.Duration.parse(s)).toOption
          .filter(d => d.getSeconds > 0 && d.getNano == 0)
          .map(d => Duration(d.getSeconds)))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown granularity: $s (named, or ISO-8601 whole-second duration)"))

  /** True iff truncating to `coarser` COMPOSES over data already truncated
    * to `finer` — truncate_coarser(truncate_finer(t)) == truncate_coarser(t)
    * for every t — i.e. no `finer` bucket straddles a `coarser` boundary.
    * This is the correctness condition for reindex/compaction granularity
    * changes (truncation only composes downward):
    *  - NONE (raw) composes into anything; anything composes into ALL;
    *  - fixed → fixed: coarser width a multiple of finer width;
    *  - fixed → calendar: finer width must divide a day (calendar
    *    boundaries are midnight-aligned, so day-aligned buckets never
    *    straddle them);
    *  - calendar → fixed: NEVER (month/week starts are not fixed-width
    *    grid points — a MONTH store reindexed to DAY would be labeled
    *    day-granular while carrying month-truncated timestamps);
    *  - calendar → calendar: only month→quarter→year (month boundaries sit
    *    on quarter/year boundaries); WEEK composes with nothing coarser
    *    (weeks straddle month boundaries).
    */
  def composesTo(finer: Granularity, coarser: Granularity): Boolean =
    (finer, coarser) match {
      case (a, b) if a == b   => true
      case (None, _) | (_, All) => true
      case (All, _)           => false
      case (f, c) if f.widthSeconds > 0 && c.widthSeconds > 0 =>
        c.widthSeconds % f.widthSeconds == 0
      case (f, c) if f.widthSeconds > 0 && c.widthSeconds < 0 =>
        86400L % f.widthSeconds == 0
      case (Month, Quarter) | (Month, Year) | (Quarter, Year) => true
      case _ => false
    }
}
