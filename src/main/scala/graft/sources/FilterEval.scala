package graft.sources

import org.apache.spark.sql.sources._

/** Evaluates Spark data-source filters against raw feature properties so
  * predicates prune rows before projection (the DSv2 pushdown the reference
  * delegates to GDAL's OGR SQL — SURVEY.md §2.2 P5). Filters stay in the
  * query plan as residuals too (we report them via pushedFilters for
  * explain visibility but never claim exclusive evaluation), so a partially
  * supported predicate can never produce wrong results — only less pruning.
  */
object FilterEval {

  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | IsNull(_) | IsNotNull(_) |
         In(_, _) | StringStartsWith(_, _) | StringEndsWith(_, _) |
         StringContains(_, _) => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }

  /** Ternary-logic eval. `get` returns None when the attribute is unknown
    * to the reader (e.g. Spark backtick-quotes names with special
    * characters); unknown makes the whole predicate indeterminate and we
    * KEEP the row — the residual copy of the filter in the plan decides.
    * Dropping is only allowed on a definite false: pruning here is an
    * optimization and must never change results. */
  def eval(f: Filter, get0: String => Option[Any]): Boolean = {
    val get: String => Option[Any] = name => get0(unquote(name))
    ev(f, get) match {
      case Definite(v) => v
      case NullVal => false // SQL semantics: unknown-from-null drops the row
      case UnknownCol => true // reader can't see the column: keep, residual decides
    }
  }

  private[sources] def unquote(name: String): String =
    if (name.length >= 2 && name.head == '`' && name.last == '`')
      name.substring(1, name.length - 1).replace("``", "`")
    else name

  private sealed trait R { def map(f: Boolean => Boolean): R = this match {
    case Definite(v) => Definite(f(v)); case other => other } }
  private case class Definite(v: Boolean) extends R
  private case object NullVal extends R
  private case object UnknownCol extends R

  private def ev(f: Filter, get: String => Option[Any]): R = f match {
    case EqualTo(a, v) => cmpR(get(a), v)(_ == 0)
    case GreaterThan(a, v) => cmpR(get(a), v)(_ > 0)
    case GreaterThanOrEqual(a, v) => cmpR(get(a), v)(_ >= 0)
    case LessThan(a, v) => cmpR(get(a), v)(_ < 0)
    case LessThanOrEqual(a, v) => cmpR(get(a), v)(_ <= 0)
    case IsNull(a) => get(a).fold[R](UnknownCol)(x => Definite(x == null))
    case IsNotNull(a) => get(a).fold[R](UnknownCol)(x => Definite(x != null))
    case In(a, vs) => get(a) match {
      case None => UnknownCol
      case Some(null) => NullVal
      case Some(x) => Definite(vs.exists(v => cmp(x, v).contains(0)))
    }
    case StringStartsWith(a, p) => strR(get(a))(_.startsWith(p))
    case StringEndsWith(a, p) => strR(get(a))(_.endsWith(p))
    case StringContains(a, p) => strR(get(a))(_.contains(p))
    case And(l, r) => (ev(l, get), ev(r, get)) match {
      case (Definite(false), _) | (_, Definite(false)) => Definite(false)
      case (Definite(true), Definite(true)) => Definite(true)
      case (UnknownCol, _) | (_, UnknownCol) => UnknownCol
      case _ => NullVal
    }
    case Or(l, r) => (ev(l, get), ev(r, get)) match {
      case (Definite(true), _) | (_, Definite(true)) => Definite(true)
      case (Definite(false), Definite(false)) => Definite(false)
      case (UnknownCol, _) | (_, UnknownCol) => UnknownCol
      case _ => NullVal
    }
    case Not(c) => ev(c, get).map(!_)
    case _ => UnknownCol // unsupported → keep; residual decides
  }

  private def cmpR(x: Option[Any], v: Any)(p: Int => Boolean): R = x match {
    case None => UnknownCol
    case Some(null) => NullVal
    case Some(a) => cmp(a, v).fold[R](UnknownCol)(c => Definite(p(c)))
  }

  private def strR(x: Option[Any])(p: String => Boolean): R = x match {
    case None => UnknownCol
    case Some(null) => NullVal
    case Some(s: String) => Definite(p(s))
    case Some(other) => Definite(p(other.toString))
  }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    case (x: Number, y: Number) => Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
    case (x: String, y) => Some(x.compareTo(y.toString))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => Some(x.compareTo(y))
    case _ => None
  }
}
