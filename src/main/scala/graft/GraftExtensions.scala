package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** SQL surface for the engine's custom Catalyst expressions — the
  * `SparkSessionExtensions` hook, so a pure-SQL user (or a JDBC/
  * Thrift client with no Scala in sight) gets the same codegen'd
  * kernels the Column API uses:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   SELECT graft_simhash64(text), graft_jaccard(a, b) FROM docs
  * }}}
  *
  * For an already-built session, [[GraftExtensions.register]] adds
  * the same functions to its registry in place. Integer parameters
  * (gram size, hash count, …) must be literals — they parameterize
  * codegen, not per-row values.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  /** Registration combinator: arity-checked builder + ExpressionInfo.
    * A wrong argument count raises a named, counted error instead of
    * the builder's raw IndexOutOfBounds. */
  private def fn(name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(cls.getName, name), es => {
      if (es.length != arity) throw new IllegalArgumentException(
        s"$name expects $arity argument(s), got ${es.length}")
      build(es)
    })

  /** (sql name, info, builder) for every exposed kernel: the
    * [[KernelTable]] rows with a SQL form, then the aggregates. */
  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] =
    KernelTable.all.flatMap(k => k.sql.map { s =>
      fn(s.name, classOf[KernelCall], k.arity + s.lits.size) { es =>
        val lits = s.lits.zipWithIndex.map { case (parse, i) =>
          parse(es(k.arity + i), s.name, k.arity + i)
        }
        k.call(es.take(k.arity), lits ++ s.fixed())
      }
    }) ++ Seq(
      // aggregates: the analyzer wraps a bare AggregateFunction from a
      // registry builder in its AggregateExpression
      fn("graft_count_by_value", classOf[CountByValue], 1)(
        es => CountByValue(es.head)),
      // graft_bounded_collect(sortKey, payload, cap, distinct): the
      // O(cap) state-bounded collection fold behind the streaming
      // series/set bucket cap. distinct=true dedups on the
      // (sortKey, payload) PAIR, not the payload alone — with
      // sortKey != payload the result can hold duplicate payloads
      // under different sort keys; pass the same column for both
      // (as the set fold does) when set semantics are wanted
      fn("graft_bounded_collect", classOf[BoundedCollect], 4)(
        es => BoundedCollect(es.head, es(1),
          SqlForm.intLit(es(2), "graft_bounded_collect", 2),
          es(3) match {
            case Literal(b: Boolean, _) => b
            case other => throw new IllegalArgumentException(
              "graft_bounded_collect: argument 4 must be a BOOLEAN " +
              s"literal, got $other")
          })))

  /** Register into an existing session's function registry. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, i, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), i, builder)
    }
}
