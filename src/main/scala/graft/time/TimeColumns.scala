package graft.time

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ReferenceConstant

/** Column-level twins of [[BucketCalc]]: everything stays inside
  * whole-stage codegen (built-in expressions only, no UDFs).
  *
  * Buckets are the reference's integer encodings (kairos
  * timeseries.py:87-91, :145-150): relative = floor(epochSec/step),
  * gregorian = int(strftime('%Y%m%d'|'%Y%U'|'%Y%m'|'%Y')).
  */
object TimeColumns {

  /** Bucket id from a TIMESTAMP column.
    *
    * Weekly is C-strftime `%U` (Sunday-start week-of-year, days before
    * the first Sunday = week 0): glibc computes (yday0 + 7 - wdaySun0)/7
    * which with Spark's 1-based dayofyear/dayofweek (Sunday=1) is
    * (dayofyear + 7 - dayofweek) / 7 — pure built-ins, codegen-friendly.
    */
  def bucket(ts: Column, step: TimeStep): Column = step match {
    case RelativeStep(s) => floor(unix_timestamp(ts) / s).cast(LongType)
    case GregorianStep(u) => u match {
      case "daily"   => date_format(ts, "yyyyMMdd").cast(LongType)
      case "monthly" => date_format(ts, "yyyyMM").cast(LongType)
      case "yearly"  => date_format(ts, "yyyy").cast(LongType)
      case "weekly"  =>
        (year(ts).cast(LongType) * 100 +
          floor((dayofyear(ts) + lit(7) - dayofweek(ts)) / 7).cast(LongType))
    }
  }

  /** Start-of-bucket DATE from a bucket-id column (Gregorian only).
    * Weekly replicates the reference's Jan1 + week*7d quirk
    * (timeseries.py:191-206). */
  def bucketDate(b: Column, unit: String): Column = unit match {
    case "daily"   => to_date(b.cast(StringType), "yyyyMMdd")
    case "monthly" => to_date(b.cast(StringType), "yyyyMM")
    case "yearly"  => to_date(b.cast(StringType), "yyyy")
    case "weekly"  =>
      date_add(make_date((b / 100).cast(IntegerType), lit(1), lit(1)),
        ((b % 100) * 7).cast(IntegerType))
  }

  /** Bucket id → epoch seconds of bucket start (from_bucket). */
  def fromBucket(b: Column, step: TimeStep): Column = step match {
    case RelativeStep(s)  => (b * s).cast(LongType)
    case GregorianStep(u) =>
      bucketDate(b, u).cast(TimestampType).cast(LongType)
  }

  /** Seconds covered by the bucket (variable for Gregorian — leap years,
    * month lengths; timeseries.py:155-169). */
  def stepSize(b: Column, step: TimeStep): Column = step match {
    case RelativeStep(s) => lit(s)
    case GregorianStep(u) =>
      val d = bucketDate(b, u)
      u match {
        case "daily"   => lit(86400L)
        case "weekly"  => lit(7L * 86400L)
        case "monthly" => dayofmonth(last_day(d)).cast(LongType) * 86400L
        case "yearly"  => datediff(add_months(d, 12), d).cast(LongType) * 86400L
      }
  }

  /** Seconds spanned by buckets bFirst..bLast inclusive — the
    * reference's step_size(t0, t1) aliased-span rule (timeseries.py:
    * 73-84, :155-169): from the start of the first bucket to the start
    * of the bucket AFTER the last. Gregorian spans are whole days. */
  def spanSeconds(bFirst: Column, bLast: Column, step: TimeStep): Column = step match {
    case RelativeStep(s) => (bLast - bFirst + lit(1)) * s
    case GregorianStep(u) =>
      val d0 = bucketDate(bFirst, u)
      val dEnd = u match {
        case "daily"   => date_add(bucketDate(bLast, u), 1)
        case "weekly"  => date_add(bucketDate(bLast, u), 7)
        case "monthly" => add_months(bucketDate(bLast, u), 1)
        case "yearly"  => add_months(bucketDate(bLast, u), 12)
      }
      (dEnd.cast(TimestampType).cast(LongType) - d0.cast(TimestampType).cast(LongType))
  }

  /** Bucket-start TIMESTAMP of the bucket `offset` whole steps away from
    * `ts` — the column twin of normalize(ts, offset) (timeseries.py:
    * 107-112, 484-497), used for the intervals=±N insert fan-out. */
  def shiftNormalize(ts: Column, step: TimeStep, offset: Column): Column = step match {
    case rs @ RelativeStep(s) =>
      ((bucket(ts, rs) + offset) * s).cast(TimestampType)
    case GregorianStep(u) =>
      val d = to_date(ts)
      val shifted = u match {
        case "daily"   => date_add(d, offset.cast(IntegerType))
        case "weekly"  => date_add(d, (offset * 7).cast(IntegerType))
        case "monthly" => add_months(d, offset.cast(IntegerType))
        case "yearly"  => make_date(year(d) + offset.cast(IntegerType), lit(1), lit(1))
      }
      // truncate the shifted date to its bucket start
      val b = u match {
        case "daily"   => date_format(shifted, "yyyyMMdd").cast(LongType)
        case "monthly" => date_format(shifted, "yyyyMM").cast(LongType)
        case "yearly"  => date_format(shifted, "yyyy").cast(LongType)
        case "weekly"  =>
          (year(shifted).cast(LongType) * 100 +
            floor((dayofyear(shifted) + lit(7) - dayofweek(shifted)) / 7).cast(LongType))
      }
      bucketDate(b, u).cast(TimestampType)
  }

  /** Dense bucket-id axis b0..b1 (empty when b1 < b0), column
    * `i_time`. Relative ids are consecutive: one row exploded into the
    * range, its bounds [[ReferenceConstant]]s, so every range reuses
    * one compiled plan. Gregorian ids are not: the calendar walk runs
    * driver-side (bounded by calendar size). Both are tiny relative to
    * data and always the broadcast join's preserved side. */
  def axis(spark: SparkSession, calc: BucketCalc, b0: Long, b1: Long): DataFrame = calc match {
    case RelativeTime(_) if b0 <= b1 =>
      spark.range(0, 1, 1, 1).select(
        explode(sequence(ReferenceConstant.long(b0), ReferenceConstant.long(b1))).as("i_time"))
    case RelativeTime(_) =>
      spark.range(0).toDF("i_time")
    case g: GregorianTime =>
      import spark.implicits._
      g.buckets(g.fromBucket(b0), g.fromBucket(b1)).filter(b => b >= b0 && b <= b1).toDF("i_time")
  }
}
