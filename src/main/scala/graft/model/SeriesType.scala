package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** One of the reference's five accumulation semantics (kairos
  * timeseries.py:792-1041). Each type defines how raw datapoints fold
  * into a bucket state, the empty-bucket value, and the built-in
  * transforms.
  *
  * Design note (the core Spark-first decision): all five types are
  * monoids, so rather than fold-then-merge (insert → condense →
  * collapse → join as separate passes, as the reference's storage model
  * forces), batch reads aggregate the raw bucket log ONCE at the output
  * granularity. A composite order key `ord = struct(i_time?, r_time?,
  * name_idx, seq)` reproduces the reference's deterministic merge order
  * (resolution-bucket order, then series-list order, then arrival
  * order — timeseries.py:727-745, sql_backend.py:268,312). One shuffle,
  * map-side partial aggregation, no nested map merges: the shape that
  * survives 100 TB.
  */
sealed trait SeriesType extends Serializable {
  def typeName: String

  /** Aggregate raw rows (columns: groupCols ++ value, ord) into one
    * state row per group, output column `value`: [[foldExpr]] per
    * group. */
  def aggregate(df: DataFrame, groupCols: Seq[String]): DataFrame =
    grouped(df, groupCols)(
      foldExpr(col("value"), col("ord"), df.schema("value").dataType).as("value"))

  /** Value of an empty bucket (timeseries.py _type_no_value), cast to
    * the AGGREGATED value type (e.g. ArrayType(elem) for series) so the
    * dense-fill coalesce lines up even when readFunc recast values. */
  def empty(aggType: DataType): Column

  /** Merge an ORDERED array of already-aggregated bucket states into one
    * state — the `_condense`/`_join` monoid merge (timeseries.py:828-834,
    * :885-893, :931-946, :971-988, :1026-1041). The caller supplies the
    * states sorted in the reference's iteration order (resolution-bucket
    * order for condense/collapse, series-list order for join); absent
    * entries may be null. Pure Column expression — stays in codegen. */
  def mergeExpr(states: Column): Column

  /** Single-expression fold of raw values of type `valueType` into a
    * bucket state: batch reads group the raw log by it ([[aggregate]])
    * and streams keep it in state. Streams allow exactly one
    * aggregation; the histogram's batch read keeps its own two-level
    * groupBy. */
  def foldExpr(value: Column, ord: Column, valueType: DataType): Column

  /** Built-in transform `t` over the aggregated `data`; None when the
    * type doesn't support it (the caller then returns data unaltered,
    * matching the reference's pass-through, timeseries.py:914-923). */
  def transformExpr(t: String, data: Column, stepSize: Column): Option[Column]

  /** [[foldExpr]] with an optional per-bucket element cap for the
    * streaming path: count/gauge state is O(1) and histogram's is
    * O(distinct), so they ignore the cap; series/set — whose state is
    * inherently O(rows-in-bucket), bounded only by the watermark TTL —
    * override with the [[graft.functions.BoundedCollect]] fold so one
    * hostile hot bucket cannot balloon a state-store row. The kept
    * subset is the (ord, value) / value order-smallest prefix:
    * deterministic under replay and exactly the uncapped fold whenever
    * the bucket fits the cap — with one documented exception: NULL
    * datapoints (e.g. a failed `value` cast upstream) are DROPPED by
    * the capped fold, while the uncapped series fold's
    * `collect_list(struct(ord, value))` keeps a null-valued entry
    * (struct wrapping hides the null from collect_list's top-level
    * null skip). Set folds are unaffected (`collect_set` already
    * drops nulls). Feed the capped fold pre-validated values — the
    * aggregateStream path casts before folding, so a null there is
    * already a malformed datapoint, not data. */
  def foldExprCapped(value: Column, ord: Column, valueType: DataType,
      cap: Int): Column =
    foldExpr(value, ord, valueType)

  protected def grouped(df: DataFrame, groupCols: Seq[String])(agg: Column): DataFrame =
    if (groupCols.isEmpty) df.agg(agg)
    else df.groupBy(groupCols.map(col): _*).agg(agg)

  /** Fold non-null states left-to-right with `merge`, preserving the
    * state type without naming it (initial = first non-null element). */
  protected def foldStates(states: Column, merge: (Column, Column) => Column): Column = {
    val present = filter(states, x => x.isNotNull)
    when(size(present) === 0, lit(null))
      .otherwise(F.aggregate(
        slice(present, lit(2), greatest(size(present) - 1, lit(0))),
        element_at(present, 1), merge))
  }
}

/** `series`: arrival-ordered list per bucket (timeseries.py:792-843). */
case object SeriesT extends SeriesType {
  val typeName = "series"
  def empty(aggType: DataType): Column = array().cast(aggType)
  def mergeExpr(states: Column): Column =
    flatten(filter(states, x => x.isNotNull))
  def foldExpr(value: Column, ord: Column, valueType: DataType): Column =
    transform(array_sort(collect_list(struct(ord, value))), e => e("value"))
  override def foldExprCapped(value: Column, ord: Column, valueType: DataType,
      cap: Int): Column = {
    // the cap EARLIEST datapoints by (ord, value) — O(cap) state
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.BoundedCollect(GraftColumnBridge.expression(ord),
        GraftColumnBridge.expression(value), cap, distinct = false)
        .toAggregateExpression())
  }
  def transformExpr(t: String, data: Column, step: Column): Option[Column] = t match {
    case "mean" =>
      Some(when(size(data) === 0, lit(0.0))
        .otherwise(F.aggregate(data, lit(0.0), (a, x) => a + x) / size(data)))
    case "count" => Some(size(data).cast(LongType))
    case "min"   => Some(when(size(data) === 0, lit(0.0)).otherwise(array_min(data).cast(DoubleType)))
    case "max"   => Some(when(size(data) === 0, lit(0.0)).otherwise(array_max(data).cast(DoubleType)))
    case "sum"   => Some(F.aggregate(data, lit(0.0), (a, x) => a + x))
    case "rate"  => Some(size(data) / step)
    case _       => None
  }
}

/** `histogram`: map value → observation count (timeseries.py:845-904).
  * Fold = two-level groupBy (value-level count, then map_from_entries) —
  * both levels partial-aggregate map-side; merge at coarser output
  * granularities falls out of grouping the raw log at that granularity
  * (no map-merge aggregator needed on the batch path). */
case object HistogramT extends SeriesType {
  val typeName = "histogram"
  override def aggregate(df: DataFrame, groupCols: Seq[String]): DataFrame = {
    val counted = df.groupBy((groupCols :+ "value").map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    grouped(counted, groupCols)(
      map_from_entries(array_sort(collect_list(struct(col("value"), col("cnt")))))
        .as("value"))
  }
  def empty(aggType: DataType): Column =
    map_from_arrays(array(), array()).cast(aggType)
  def mergeExpr(states: Column): Column =
    foldStates(states, (a, b) =>
      map_zip_with(a, b, (_, x, y) => coalesce(x, lit(0L)) + coalesce(y, lit(0L))))
  def foldExpr(value: Column, ord: Column, valueType: DataType): Column = {
    // one streaming-legal aggregation: an incremental value→count map
    // ([[graft.functions.CountByValue]]) whose buffer — and therefore
    // the streaming state-store row per bucket — is O(distinct values),
    // not O(rows). The previous collect_list-then-fold shape buffered
    // every raw value in state, so one hot bucket grew linearly forever
    // within its watermark; the typed aggregate matches the reference's
    // per-bucket hash state (redis_backend.py:282-286 HINCRBY).
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.CountByValue(GraftColumnBridge.expression(value))
        .toAggregateExpression())
  }
  def transformExpr(t: String, data: Column, step: Column): Option[Column] = {
    def entries = map_entries(data)
    def sumKV = F.aggregate(entries, lit(0.0), (a, e) => a + e("key") * e("value"))
    def sumV = F.aggregate(entries, lit(0L), (a, e) => a + e("value"))
    t match {
      case "mean"  => Some(when(size(entries) === 0, lit(0.0)).otherwise(sumKV / sumV))
      case "count" => Some(sumV)
      case "min"   => Some(when(size(entries) === 0, lit(0.0)).otherwise(array_min(map_keys(data)).cast(DoubleType)))
      case "max"   => Some(when(size(entries) === 0, lit(0.0)).otherwise(array_max(map_keys(data)).cast(DoubleType)))
      case "sum"   => Some(sumKV)
      case "rate"  => Some(transform_values(data, (_, v) => v / step))
      case _       => None
    }
  }
}

/** `count`: running sum of increments (timeseries.py:906-946). */
case object CountT extends SeriesType {
  val typeName = "count"
  def foldExpr(value: Column, ord: Column, valueType: DataType): Column = {
    // DecimalType folds keep their exact type: a bare lit(0.0) would
    // win coalesce's type coercion and silently demote the sum to
    // double (§1.3 type map). Every other value type keeps the
    // reference's numeric contract — the double zero promotes
    // int-read counts to double, as the goldens expect.
    val zero = valueType match {
      case d: DecimalType => lit(0).cast(d)
      case _              => lit(0.0)
    }
    coalesce(sum(value), zero)
  }
  def empty(aggType: DataType): Column = lit(0).cast(aggType)
  def mergeExpr(states: Column): Column =
    F.aggregate(states, lit(0.0), (a, x) => a + coalesce(x.cast(DoubleType), lit(0.0)))
  def transformExpr(t: String, data: Column, step: Column): Option[Column] = t match {
    case "rate" => Some(data / step)
    case _      => None
  }
}

/** `gauge`: last written value wins (timeseries.py:948-988). The joined
  * gauge quirk — "last named series with data" (:981-988) — falls out of
  * max_by over the composite ord (name_idx before seq). */
case object GaugeT extends SeriesType {
  val typeName = "gauge"
  // _type_no_value() = 0 (timeseries.py:953-955): every backend fills
  // empty coarse buckets with 0, not null (sql_backend.py:207,235).
  // The zero contract only makes sense where "0" exists — numeric and
  // string (the reference's loosely-typed columns); for date/binary/…
  // value types the fill is null (an int→date cast wouldn't even
  // analyze under ANSI).
  def empty(aggType: DataType): Column = aggType match {
    case _: NumericType | StringType => lit(0).cast(aggType)
    case _                           => lit(null).cast(aggType)
  }
  def mergeExpr(states: Column): Column = {
    // last non-null state in iteration order (timeseries.py:971-988)
    val present = filter(states, x => x.isNotNull)
    when(size(present) === 0, lit(null)).otherwise(try_element_at(present, lit(-1)))
  }
  def foldExpr(value: Column, ord: Column, valueType: DataType): Column =
    max_by(value, ord)
  def transformExpr(t: String, data: Column, step: Column): Option[Column] = None
}

/** `set`: distinct values per bucket (timeseries.py:990-1041). Sorted
  * array representation keeps results deterministic for comparison. */
case object SetT extends SeriesType {
  val typeName = "set"
  def empty(aggType: DataType): Column = array().cast(aggType)
  def mergeExpr(states: Column): Column =
    array_sort(array_distinct(flatten(filter(states, x => x.isNotNull))))
  def foldExpr(value: Column, ord: Column, valueType: DataType): Column =
    array_sort(collect_set(value))
  override def foldExprCapped(value: Column, ord: Column, valueType: DataType,
      cap: Int): Column = {
    // the cap SMALLEST distinct values — O(cap) state
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(
      graft.functions.BoundedCollect(GraftColumnBridge.expression(value),
        GraftColumnBridge.expression(value), cap, distinct = true)
        .toAggregateExpression())
  }
  // a set state is an array like a series state: the same transforms
  def transformExpr(t: String, data: Column, step: Column): Option[Column] =
    SeriesT.transformExpr(t, data, step)
}

object SeriesType {
  val all: Seq[SeriesType] = Seq(SeriesT, HistogramT, CountT, GaugeT, SetT)
  def apply(name: String): SeriesType =
    all.find(_.typeName == name).getOrElse(
      throw new IllegalArgumentException(s"unknown series type $name"))
}
