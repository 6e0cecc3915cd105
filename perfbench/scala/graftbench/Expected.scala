package graftbench

import scala.collection.mutable
import org.apache.spark.sql.Row

/** One output row of a kairos read: interval key, resolution key (-1 for
  * coarse rows) and the bucket value — a Double for count series, a
  * value -> count map for histograms. */
final case class Bucket(iTime: Long, rTime: Long, value: Any)

/** Plain-Scala kairos semantics for the reads the benchmark issues, over
  * a `minute` (coarse) and an `hour` (minute resolution) interval, for
  * count and histogram series: the reference the Spark results are
  * checked against. Built without Spark from the generated events. */
final class MinuteIndex {
  // key: stat index << 32 | absolute minute bucket; value: count per datum 0..8
  private val acc = mutable.LongMap[Array[Long]]()

  def add(stat: Int, tsSec: Long, value: Int): Unit = {
    val a = acc.getOrElseUpdate(key(stat, Math.floorDiv(tsSec, 60L)), new Array[Long](9))
    a(value) += 1
  }

  def size: Int = acc.size

  private def key(stat: Int, minute: Long): Long = (stat.toLong << 32) | minute

  /** Merged counts of the given stats over minute buckets [m0, m1], or
    * None when none of them has data there. */
  private def merged(stats: Seq[Int], m0: Long, m1: Long): Option[Array[Long]] = {
    var out: Array[Long] = null
    for (s <- stats; m <- m0 to m1; a <- acc.get(key(s, m))) {
      if (out == null) out = new Array[Long](9)
      var v = 0
      while (v < 9) { out(v) += a(v); v += 1 }
    }
    Option(out)
  }

  private def value(counts: Option[Array[Long]], hist: Boolean): Any = counts match {
    case None => if (hist) Map.empty[Double, Long] else 0.0
    case Some(a) =>
      if (hist) (1 to 8).filter(a(_) > 0).map(v => v.toDouble -> a(v)).toMap
      else (1 to 8).map(v => v * a(v).toDouble).sum
  }

  /** kairos get() on one stat: `minute` gives the single coarse bucket
    * (filled when empty); `hour` gives its extant minute granules, or
    * with `condense` the single hour bucket (filled when empty). */
  def get(stat: Int, interval: String, tsSec: Long, condense: Boolean, hist: Boolean): Seq[Bucket] =
    interval match {
      case "minute" =>
        val m = Math.floorDiv(tsSec, 60L)
        Seq(Bucket(m * 60, -1, value(merged(Seq(stat), m, m), hist)))
      case "hour" =>
        val h = Math.floorDiv(tsSec, 3600L)
        if (condense) Seq(Bucket(h * 3600, -1, value(merged(Seq(stat), h * 60, h * 60 + 59), hist)))
        else fine(Seq(stat), h, h, hist)
    }

  /** kairos series() over hours [h0, h1] of the `hour` interval, joined
    * across `stats`: extant minute granules, or with `condense` the
    * extant hours (a fine interval's condensed series stays sparse). */
  def series(stats: Seq[Int], h0: Long, h1: Long, condense: Boolean, hist: Boolean): Seq[Bucket] =
    if (!condense) fine(stats, h0, h1, hist)
    else (h0 to h1).flatMap { h =>
      merged(stats, h * 60, h * 60 + 59).map(a => Bucket(h * 3600, -1, value(Some(a), hist)))
    }

  private def fine(stats: Seq[Int], h0: Long, h1: Long, hist: Boolean): Seq[Bucket] =
    (h0 to h1).flatMap { h =>
      (h * 60 to h * 60 + 59).flatMap { m =>
        merged(stats, m, m).map(a => Bucket(h * 3600, m * 60, value(Some(a), hist)))
      }
    }
}

object Expected {
  /** A collected kairos result as buckets, in result order. */
  def buckets(rows: Seq[Row]): Seq[Bucket] = rows.map { r =>
    val fields = r.schema.fieldNames
    val rTime = if (fields.contains("r_time")) r.getAs[Long]("r_time") else -1L
    val v = r.get(r.fieldIndex("value")) match {
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, c) => k.asInstanceOf[Double] -> c.asInstanceOf[Long] }.toMap
      case d: Double => d
      case other => other
    }
    Bucket(r.getAs[Long]("i_time"), rTime, v)
  }

  /** None when `got` equals `want` row for row (count values to 1e-9
    * relative), else a one-line description of the first difference. */
  def diff(got: Seq[Bucket], want: Seq[Bucket]): Option[String] = {
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => a == b
    }
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).collectFirst {
      case (g, w) if g.iTime != w.iTime || g.rTime != w.rTime || !same(g.value, w.value) =>
        s"got $g, expected $w"
    }
  }
}
