package graft.plans

import scala.util.Try
import scala.util.chaining._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, AttributeReference, Cast, Coalesce, Divide, EqualTo, Expression, Greatest, GreaterThan, GreaterThanOrEqual, If, In, InSet, IsNotNull, IsNull, KnownNotNull, Least, LessThan, LessThanOrEqual, Literal, Or, TruncDate, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

import graft.pipeline.ZoneMaps
import graft.sources.GraftRelation

/** Connector AGGREGATE PUSHDOWN for `graft` tables — the Delta/Iceberg
  * count-from-stats fast path surfaced to plain SQL: an ungrouped,
  * unfiltered `COUNT(*)` / `COUNT(col)` / `MIN(col)` / `MAX(col)` over
  * a [[GraftRelation]] collapses to a [[LocalRelation]] holding the
  * answer from the version's metadata
  * ([[graft.pipeline.MergeTable.metaAggregate]]) — per-file row counts
  * and null counts sum exactly, per-file numeric min/max fold exactly, so
  * the rewritten plan scans ZERO data files (the zone sidecar is
  * O(files) driver metadata). At 100 TB this turns the most common
  * audit queries (`SELECT COUNT(*) FROM corpus`) from a full-corpus
  * pass into a manifest read.
  *
  * Strictly exactness-preserving, rewrite-or-leave: the rule fires only
  * when EVERY aggregate is one of the four shapes (no DISTINCT, no
  * FILTER clause, bare column children), the child is the relation
  * itself (possibly through a column-pruning Project), and the metadata
  * answer is computable. The metadata aggregate refuses pending
  * merge-on-read ledgers, non-numeric columns and zone-less files — any
  * refusal (or any unexpected failure) leaves the original plan to run
  * as a normal scan, so the rewrite can change cost, never results. The
  * answer comes from the relation's OWN resolved version: every path
  * reads the relation's [[graft.pipeline.MergeTable.Snapshot]] (files,
  * delete ledger and zones, loaded once per relation), and the subset
  * relation a hybrid scans shares it, so a concurrent commit cannot
  * move the table under the query.
  *
  * FILTERED `COUNT(*)` / `COUNT(col)` (the Iceberg inclusive-metrics
  * hybrid): when the WHERE tree is inside the file-decidable algebra
  * (And/Or over range, equality, In/InSet, IsNull/IsNotNull leaves on
  * ordered primitives), each file is decided against its zones —
  * FullyIn files count from metadata (`rows`, or `rows − nullCount`
  * for `COUNT(col)`), FullyOut files contribute nothing, and ONLY the
  * Boundary files are scanned, exactly, through a subset-scoped copy
  * of the relation ([[GraftRelation]] `only`), their counts added to
  * the metadata sums. A filter outside the algebra, an undecidable
  * file set (nothing to save), or any pending ledger falls back to
  * the plain scan. At 100 TB this is the difference between an audit
  * count touching two straddling files and a full-corpus pass.
  */
object GraftMetaAggregate extends Rule[LogicalPlan] {

  /** The graft relation under `plan`, if `plan` is exactly the relation
    * or a pure column-pruning Project over it. Subset-scoped relations
    * (the hybrid rewrite's own inner scan) are excluded — they must
    * never re-match. */
  private def graftChild(plan: LogicalPlan): Option[(LogicalRelation, GraftRelation)] =
    plan match {
      case lr: LogicalRelation => lr.relation match {
        case g: GraftRelation if g.only.isEmpty => Some((lr, g))
        case _ => None
      }
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        graftChild(child)
      case _ => None
    }

  /** `Filter(cond, <graft relation>)` under `plan`, through pure
    * column-pruning Projects on either side of the Filter. */
  private[plans] def filteredGraft(plan: LogicalPlan)
      : Option[(Expression, LogicalRelation, GraftRelation)] = plan match {
    case Filter(cond, child) =>
      graftChild(child).map { case (lr, g) => (cond, lr, g) }
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      filteredGraft(child)
    case _ => None
  }

  private sealed trait MetaAgg
  private case object RowCount extends MetaAgg
  private final case class NonNull(col: String) extends MetaAgg
  private final case class MinOf(col: String, dt: DataType) extends MetaAgg
  private final case class MaxOf(col: String, dt: DataType) extends MetaAgg
  /** SUM/AVG over an INTEGRAL column (round 15 — the stats rung the
    * sidecar's format-4 `col#sum` lines exist for): per-file exact
    * sums fold additively in BigDecimal, so the rewrite reproduces the
    * scan bit-for-bit (a float/double sum would be fp-order-dependent
    * — those never construct these shapes). AVG is SUM/COUNT at the
    * merge, the decomposition Spark's own partial aggregation uses. */
  private final case class SumOf(col: String, dt: DataType) extends MetaAgg
  private final case class AvgOf(col: String, dt: DataType) extends MetaAgg

  /** The column a slot reads (None for `COUNT(*)`). */
  private def columnOf(m: MetaAgg): Option[String] = m match {
    case RowCount => None
    case NonNull(c) => Some(c)
    case MinOf(c, _) => Some(c)
    case MaxOf(c, _) => Some(c)
    case SumOf(c, _) => Some(c)
    case AvgOf(c, _) => Some(c)
  }

  /** The metadata shape of one aggregate expression, if it has one. */
  private def metaOf(e: Expression): Option[MetaAgg] = e match {
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        // COUNT(*) parses as Count(1): all-foldable non-null children
        case c: Count if c.children.forall(ch =>
            ch.foldable && ch.eval() != null) => Some(RowCount)
        case c: Count => c.children match {
          case Seq(a: AttributeReference) => Some(NonNull(a.name))
          case _ => None
        }
        case m: Min => m.child match {
          case a: AttributeReference => Some(MinOf(a.name, a.dataType))
          case _ => None
        }
        case m: Max => m.child match {
          case a: AttributeReference => Some(MaxOf(a.name, a.dataType))
          case _ => None
        }
        case s: Sum => s.child match {
          case a: AttributeReference if isIntegralMeta(a.dataType) =>
            Some(SumOf(a.name, a.dataType))
          case _ => None
        }
        case av: Average => av.child match {
          case a: AttributeReference if isIntegralMeta(a.dataType) =>
            Some(AvgOf(a.name, a.dataType))
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  /** Every AggregateExpression inside an alias child, each with its
    * metadata shape — plus the guarantee that the SURROUNDING scalar
    * structure is deterministic, so the rewrite can reproduce it by
    * substituting the computed aggregate values and evaluating (or, on
    * the hybrid path, by grafting the merged expressions back in).
    * Round 16: the optimizer collapses projections INTO the aggregate,
    * so `SELECT unix_micros(MIN(ts))` or `MAX(n) - MIN(n)` reach this
    * rule as wrapped aliases — requiring a bare Alias(Min(..)) missed
    * them and the whole query fell back to a scan. None when the alias
    * holds no aggregate at all or any inner aggregate is out of the
    * metadata algebra. */
  private def metaSlots(e: Expression)
      : Option[Seq[(AggregateExpression, MetaAgg)]] = {
    val aes = e.collect { case ae: AggregateExpression => ae }
    if (aes.isEmpty || !e.deterministic) None
    else {
      val shapes = aes.map(metaOf)
      if (shapes.forall(_.isDefined)) Some(aes.zip(shapes.map(_.get)))
      else None
    }
  }

  /** The single `COUNT(DISTINCT col)` shape (round 14 — the next
    * stats-ladder rung): Some((attr)) when the whole aggregate list is
    * one distinct count over a bare ordered-primitive column. DISTINCT
    * is answerable from metadata on CONSTANT files — a file whose
    * stored min == max holds exactly one non-null value (for strings
    * the truncation-widened bounds pinch the true values to equality),
    * so its entire distinct contribution is that one value; nulls are
    * irrelevant (SQL DISTINCT ignores them). */
  private def distinctCountOf(agg: Aggregate): Option[AttributeReference] =
    agg.aggregateExpressions match {
      case Seq(Alias(ae: AggregateExpression, _))
          if ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case c: Count => c.children match {
            case Seq(a: AttributeReference) if isOrderedPrim(a.dataType) =>
              Some(a)
            case _ => None
          }
          case _ => None
        }
      case _ => None
    }

  /** A file's single non-null value, when its zone proves it constant:
    * Some(None) = all-null (contributes NOTHING to a distinct set),
    * Some(Some(v)) = every non-null row is `v`, None = undecidable.
    * Unlike [[groupOf]] this tolerates nulls alongside the constant —
    * DISTINCT ignores them, where a GROUP BY would need the null
    * group's exact count. */
  private def constOf(dt: DataType, z: Option[ZoneMaps.Zone]): Option[Option[Any]] =
    z match {
      case None => None
      case Some(zz) if zz.allNull => Some(None)
      case Some(zz) =>
        if (dt == StringType) {
          if (zz.kind == "str" && zz.min != null && zz.max != null &&
              ZoneMaps.cpCompare(zz.min, zz.max) == 0) Some(Some(zz.min))
          else None
        } else if (zz.kind == "long" || zz.kind == "double") {
          Try {
            val lo = internal(dt, zz.min)
            val hi = internal(dt, zz.max)
            if (cmpVals(dt, lo, hi) == 0) Some(Some(lo)) else None
          }.toOption.flatten
        } else None
    }

  /** Zone min/max strings are exact plain-decimal renderings of the
    * column's values; converting back is exact for every type a zone
    * can carry (`toXExact` throws on any surprise — caught, no
    * rewrite). Float/Double round-trip exactly because their toString
    * is shortest-round-trip and BigDecimal parses it exactly. */
  private[plans] def internal(dt: DataType, s: String): Any =
    if (s == null) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType =>
        // timestamps: zones store the epoch-micros long — Spark's own
        // internal value for both the UTC-adjusted and NTZ flavors
        BigDecimal(s).toLongExact
      case IntegerType | DateType => BigDecimal(s).toIntExact
      case ShortType => BigDecimal(s).toShortExact
      case ByteType => BigDecimal(s).toByteExact
      case DoubleType => BigDecimal(s).toDouble
      case FloatType => BigDecimal(s).toFloat
      case other => throw new IllegalArgumentException(
        s"no exact metadata rendering for $other")
    }

  // ---- filtered COUNT(*): the inclusive-metrics hybrid -----------------

  /** One conjunct of a filter, in file-decidable form: a (possibly
    * one-sided, strictness-carrying) range on one column, or a
    * not-null probe. Values live in the COLUMN'S OWN domain (Long /
    * Double / Float / …, or String in code-point order) — comparing in
    * decimal space would mis-decide float/double boundaries where the
    * zone's shortest-round-trip rendering differs from the literal's
    * exact expansion. */
  private final case class RangeCond(
      col: String, dt: DataType,
      lo: Option[(Any, Boolean)], hi: Option[(Any, Boolean)])
  private final case class NotNullCond(col: String)

  private[plans] def isOrderedPrim(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType | StringType => true
    // date/timestamp (round 16): internal values are epoch numbers
    // (days Int; micros Long) and zones store exactly those — the
    // whole range/top-k/min-max lattice composes over event time
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Compare two values of `dt` (the column's domain). Strings compare
    * in code-point order — the order zones, parquet stats and Spark's
    * UTF8String share. */
  private[plans] def cmpVals(dt: DataType, a: Any, b: Any): Int = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType => java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case StringType => ZoneMaps.cpCompare(a.asInstanceOf[String], b.asInstanceOf[String])
    case other => throw new IllegalArgumentException(s"unorderable $other")
  }

  /** A comparison leaf's (attribute, literal-at-the-column's-type), in
    * either operand order; None for anything else (casts included —
    * a cast means the literal is NOT in the column's domain). NaN
    * literals refuse: zone folds poison NaN-bearing stats, and NaN
    * comparison semantics don't transfer to range logic. */
  private def attrLit(a: Expression, b: Expression): Option[(AttributeReference, Any, Boolean)] =
    (a, b) match {
      case (ar: AttributeReference, l: Literal)
          if l.dataType == ar.dataType && l.value != null && notNan(l) =>
        Some((ar, litVal(ar.dataType, l.value), false))
      case (l: Literal, ar: AttributeReference)
          if l.dataType == ar.dataType && l.value != null && notNan(l) =>
        Some((ar, litVal(ar.dataType, l.value), true)) // operands flipped
      case _ => None
    }

  private def notNan(l: Literal): Boolean = l.value match {
    case d: java.lang.Double => !d.isNaN
    case f: java.lang.Float => !f.isNaN
    case _ => true
  }

  private def litVal(dt: DataType, v: Any): Any = dt match {
    case StringType => v.toString // UTF8String → String
    case _ => v
  }

  /** A comparison leaf as a range condition; None when out of the
    * decidable algebra. */
  private def leafRange(e: Expression): Option[RangeCond] = e match {
    case EqualTo(a, b) => attrLit(a, b).collect {
      case (ar, v, _) if isOrderedPrim(ar.dataType) =>
        RangeCond(ar.name, ar.dataType, Some((v, true)), Some((v, true)))
    }
    case GreaterThan(a, b) => attrLit(a, b).collect {
      case (ar, v, flip) if isOrderedPrim(ar.dataType) =>
        if (flip) RangeCond(ar.name, ar.dataType, None, Some((v, false)))
        else RangeCond(ar.name, ar.dataType, Some((v, false)), None)
    }
    case GreaterThanOrEqual(a, b) => attrLit(a, b).collect {
      case (ar, v, flip) if isOrderedPrim(ar.dataType) =>
        if (flip) RangeCond(ar.name, ar.dataType, None, Some((v, true)))
        else RangeCond(ar.name, ar.dataType, Some((v, true)), None)
    }
    case LessThan(a, b) => attrLit(a, b).collect {
      case (ar, v, flip) if isOrderedPrim(ar.dataType) =>
        if (flip) RangeCond(ar.name, ar.dataType, Some((v, false)), None)
        else RangeCond(ar.name, ar.dataType, None, Some((v, false)))
    }
    case LessThanOrEqual(a, b) => attrLit(a, b).collect {
      case (ar, v, flip) if isOrderedPrim(ar.dataType) =>
        if (flip) RangeCond(ar.name, ar.dataType, Some((v, true)), None)
        else RangeCond(ar.name, ar.dataType, None, Some((v, true)))
    }
    case _ => None
  }

  /** The literal membership list of an In/InSet leaf on an ordered
    * primitive column, in the column's own domain; None = out of the
    * algebra. `InSet` values are already internal (UTF8String / boxed
    * primitives) — `litVal` normalizes both. */
  private def inList(e: Expression): Option[(AttributeReference, Seq[Any])] = e match {
    case In(a: AttributeReference, list)
        if isOrderedPrim(a.dataType) && list.nonEmpty && list.forall {
          case l: Literal => l.dataType == a.dataType && l.value != null && notNan(l)
          case _ => false
        } =>
      Some((a, list.map { case l: Literal => litVal(a.dataType, l.value) }))
    case InSet(a: AttributeReference, hset)
        if isOrderedPrim(a.dataType) && hset.nonEmpty && !hset.contains(null) &&
          !hset.exists {
            case d: java.lang.Double => d.isNaN
            case f: java.lang.Float => f.isNaN
            case _ => false
          } =>
      Some((a, hset.toSeq.map(litVal(a.dataType, _))))
    case _ => None
  }

  /** Is every node of `e` inside the file-decidable algebra? The cheap
    * pre-check that keeps the metadata pass from running (and then
    * finding every file Boundary) on filters it can't decide. */
  private[plans] def supportedExpr(e: Expression): Boolean = e match {
    case And(a, b) => supportedExpr(a) && supportedExpr(b)
    case Or(a, b) => supportedExpr(a) && supportedExpr(b)
    case IsNotNull(_: AttributeReference) => true
    case IsNull(_: AttributeReference) => true
    case _ => leafRange(e).isDefined || inList(e).isDefined
  }

  /** Attribute names `e` constrains (the columns whose zones the
    * decision needs). */
  private def attrsOf(e: Expression): Seq[String] =
    e.collect { case a: AttributeReference => a.name }.distinct

  // ---- grouped metadata aggregates ----------------------------------------

  /** dt is a type whose zone min/max round-trips exactly through
    * [[internal]] — the MIN/MAX-from-metadata precondition (string
    * zones are truncated BOUNDS, never exact values). Date/timestamp
    * qualify since round 16: their zones carry the exact epoch numbers
    * (days / micros — the harvest normalizes millis and poisons nanos
    * and INT96, so a "long" zone on these columns is always exact). */
  private def isNumericMeta(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType => true
    case DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Types whose per-file min/max can fold into a MIN/MAX aggregate:
    * the numeric/temporal lattice (zone endpoints are exact), plus
    * (round 17) STRINGS — whose zone bounds are exact only when the
    * harvest's truncation did not fire, so each file's contribution
    * additionally checks the format-5 exactness markers
    * ([[ZoneMaps.Zone.minExact]]/`maxExact`); an inexact bound makes
    * that file Boundary (scan), never a fabricated value. */
  private def isMinMaxMeta(dt: DataType): Boolean =
    isNumericMeta(dt) || dt == StringType

  /** Types whose per-file sums fold EXACTLY (BigDecimal addition of
    * integer sums) — the SUM/AVG pushdown precondition. Float/double
    * are out: fp addition is non-associative, so a metadata fold could
    * not reproduce a scan's result bit-for-bit. */
  private def isIntegralMeta(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** One file's SUM/AVG contribution from its format-4 `col#sum`
    * sidecar line: (exact sum as BigDecimal — null when the file holds
    * no non-null value, SQL SUM's NULL — and the non-null count, AVG's
    * denominator). None (→ Boundary scan) for files without one —
    * pre-format-4 sidecars and read-time footer harvests never carry
    * sums. */
  private def sumContrib(
      c: String, fz: Map[String, ZoneMaps.Zone], rows: Long)
      : Option[Either[Long, Any]] =
    fz.get(ZoneMaps.sumKey(c)).collect {
      case z if z.kind == "sum" && z.nullCount >= 0L && z.nullCount <= rows =>
        Right((if (z.allNull) null else BigDecimal(z.min), rows - z.nullCount))
    }

  /** Exact long of a metadata sum fold; throws (→ Try fallback to the
    * scan, which under ANSI also errors on overflow) past Long range. */
  private def exactLong(v: Any): Long = v.asInstanceOf[BigDecimal].toLongExact

  /** The final metadata-only value of one slot — the zero-scan
    * LocalRelation answer. AVG divides the exact sum by the non-null
    * count in double, the evaluation Spark's Average performs
    * (bit-equal whenever the running sum is double-exact, i.e. within
    * 2^53 — beyond that a scan's own answer is already
    * partition-order-dependent). */
  private def slotFinal(m: MetaAgg, cnt: Long, mval: Any): Any = m match {
    case RowCount | NonNull(_) => cnt
    case SumOf(_, _) => if (mval == null) null else exactLong(mval)
    case AvgOf(_, _) =>
      if (cnt == 0L) null else exactLong(mval).toDouble / cnt.toDouble
    case _ => mval
  }

  /** A grouping key the metadata pass can decide per file: a bare
    * ordered-primitive attribute, or (round 16) a MONOTONIC time
    * truncation of one — `CAST(ts AS DATE)`, `date_trunc(unit, ts)`,
    * `trunc(date, fmt)`. Monotonicity is the correctness hinge: a
    * non-decreasing g makes g(zone.min) == g(zone.max) PROVE g is
    * constant across the whole file, which is false for cyclic
    * extractors (hour(), month() wrap daily/yearly and would silently
    * mis-group a file spanning one cycle) — so only structural floors
    * qualify. Key values are computed by substituting the zone
    * endpoint into the ORIGINAL expression and evaluating it, so the
    * rewrite reproduces Spark's own session-zone semantics exactly
    * ("events per day" over a time-clustered table answers from
    * zones). */
  private final case class GroupKey(expr: Expression, src: AttributeReference)

  private def groupKeyOf(e: Expression): Option[GroupKey] = {
    // a CHAIN of monotone floors over one temporal attribute —
    // compositions of monotones are monotone, so
    // CAST(date_trunc('week', ts) AS DATE) qualifies too
    def mono(x: Expression): Option[AttributeReference] = x match {
      case a: AttributeReference
          if a.dataType == TimestampType ||
            a.dataType == TimestampNTZType || a.dataType == DateType =>
        Some(a)
      case Cast(inner, DateType, _, _)
          if inner.dataType == TimestampType ||
            inner.dataType == TimestampNTZType => mono(inner)
      case t: TruncTimestamp => (t.format, t.timestamp) match {
        case (Literal(_, StringType), inner) => mono(inner)
        case _ => None
      }
      case t: TruncDate => (t.date, t.format) match {
        case (inner, Literal(_, StringType)) => mono(inner)
        case _ => None
      }
      case _ => None
    }
    e match {
      case a: AttributeReference if isOrderedPrim(a.dataType) =>
        Some(GroupKey(a, a))
      case _ => mono(e).flatMap { a =>
        // session-ZONED timestamps truncate through instant→local
        // conversion, which is monotone only when the session zone has
        // no backward transitions (a rollback crossing a truncation
        // boundary — e.g. a historical midnight fall-back — maps later
        // instants into an EARLIER group, so equal truncated endpoints
        // would no longer prove file-constancy). Fixed-offset zones
        // (UTC, GMT±X) are transition-free; DateType/TimestampNTZType
        // sources have no zone dependence at all (round-16 ADVICE).
        if (a.dataType == TimestampType && !sessionZoneIsFixedOffset) None
        else Some(GroupKey(e, a))
      }
    }
  }

  /** Is the session time zone fixed-offset (no DST/historical
    * transitions)? The admission gate for time-derived grouping keys
    * over session-zoned timestamps. */
  private def sessionZoneIsFixedOffset: Boolean =
    Try(java.time.ZoneId
      .of(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      .getRules.isFixedOffset).getOrElse(false)

  /** The key's value with `v` (the zone endpoint, internal form)
    * substituted for the source attribute — an invalid trunc unit
    * yields null for EVERY input, which folds as the null group,
    * still exact. */
  private def evalKey(k: GroupKey, v: Any): Any =
    k.expr.transform {
      case a: AttributeReference if a.exprId == k.src.exprId =>
        Literal(v, k.src.dataType)
    }.eval(null)

  /** [[groupOf]] lifted to derived keys: a bare attribute needs the
    * zone CONSTANT; a monotonic truncation needs only the truncated
    * ENDPOINTS equal. */
  private def groupOfKey(
      k: GroupKey, fz: Map[String, ZoneMaps.Zone]): Option[Option[Any]] =
    if (k.expr eq k.src) groupOf(k.src.dataType, fz.get(k.src.name))
    else fz.get(k.src.name) match {
      case None => None
      case Some(z) if z.allNull => Some(None)
      case Some(z) if z.nullCount == 0L &&
          (z.kind == "long" || z.kind == "double") =>
        Try {
          val gLo = evalKey(k, internal(k.src.dataType, z.min))
          val gHi = evalKey(k, internal(k.src.dataType, z.max))
          if (gLo == gHi) Some(Option(gLo)) else None
        }.toOption.flatten
      case _ => None
    }

  /** The analyzer EXTRACTS complex grouping expressions into a child
    * Project (`… AS _groupingexpression#N`), so `GROUP BY CAST(ts AS
    * DATE)` reaches this rule as a bare attribute over an impure
    * Project. When every extracted alias is a monotone key chain, hand
    * back the substitution map (alias exprId → its chain) and the plan
    * BELOW the extraction — the graft-relation walk continues from
    * there; otherwise the child passes through untouched. */
  private def groupedTarget(agg: Aggregate)
      : (Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression],
        LogicalPlan) =
    agg.child match {
      case Project(pl, inner) if pl.exists(_.isInstanceOf[Alias]) &&
          pl.forall {
            case _: AttributeReference => true
            case al: Alias => groupKeyOf(al.child).isDefined
            case _ => false
          } =>
        (pl.collect { case al: Alias => al.exprId -> al.child }.toMap, inner)
      case other => (Map.empty, other)
    }

  /** One output slot of a grouped metadata aggregate: a group key
    * (Left(i) = index into the grouping keys), or a
    * metadata-answerable shape (counts, and — round 14 — numeric
    * MIN/MAX, exact on group-constant files because a file's zone
    * min/max IS that group's min/max when every row is the group).
    * Round 14: ANY number of grouping columns — a file decides when it
    * is constant in EVERY group key (the [[MergeTable
    * .clusterByCols]] lexicographic layout makes that most files). */
  /** One grouped output column: Left(i) = the i-th grouping key, or
    * Right((alias, slots)) = an aggregate-bearing alias with its FLAT
    * inner slots — (round 17) the same wrapped-alias admission as the
    * ungrouped path, so `unix_micros(MAX(ts))` or `MAX(n) - MIN(n)`
    * per group push down too; each reconstruction path substitutes the
    * per-slot results back through the alias's scalar structure. */
  private type GroupedSlot = Either[Int, (Alias, Seq[(AggregateExpression, MetaAgg)])]

  private def shapeOk(m: MetaAgg): Boolean = m match {
    case RowCount | NonNull(_) => true
    case MinOf(_, dt) => isMinMaxMeta(dt)
    case MaxOf(_, dt) => isMinMaxMeta(dt)
    case SumOf(_, dt) => isIntegralMeta(dt)
    case AvgOf(_, dt) => isIntegralMeta(dt)
  }

  private def groupedShapes(agg: Aggregate)
      : Option[(Seq[GroupKey], Seq[GroupedSlot])] = {
    val (defs, _) = groupedTarget(agg)
    def resolve(e: Expression): Expression = e.transformUp {
      case a: AttributeReference if defs.contains(a.exprId) => defs(a.exprId)
    }
    val keys = agg.groupingExpressions.map { e =>
      groupKeyOf(resolve(e)).getOrElse(return None)
    }
    if (keys.isEmpty) return None
    val slots: Seq[Option[GroupedSlot]] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        val ra = resolve(a)
        val i = keys.indexWhere(_.expr.semanticEquals(ra))
        if (i >= 0) Some(Left(i)) else None
      case al @ Alias(e, _) =>
        val ki = keys.indexWhere(_.expr.semanticEquals(resolve(e)))
        if (ki >= 0) Some(Left(ki))
        else metaSlots(e) match {
          case Some(ss) if ss.forall(s => shapeOk(s._2)) =>
            Some(Right((al, ss)))
          case _ => None
        }
      case _ => None
    }
    if (slots.forall(_.isDefined) &&
        slots.flatten.exists(_.isRight))
      Some((keys, slots.flatten))
    else None
  }

  /** Per-slot metadata contribution of one fully-decided file:
    * Left(n) = additive count, Right(v) = a min/max candidate in the
    * column's domain (null = the file holds no non-null value — folds
    * as "no candidate", exactly SQL's null-skipping MIN/MAX). None =
    * this file cannot decide this slot from metadata → Boundary. */
  private def contribOf(
      shapes: Seq[MetaAgg], fz: Map[String, ZoneMaps.Zone],
      rows: Long): Option[Seq[Either[Long, Any]]] = {
    val cs = shapes.map {
      case RowCount => Some(Left(rows))
      case NonNull(c) => fz.get(c).collect {
        case z if z.nullCount >= 0L => Left(rows - z.nullCount)
      }
      case SumOf(c, _) => sumContrib(c, fz, rows)
      case AvgOf(c, _) => sumContrib(c, fz, rows)
      case MinOf(_, dt) if !isMinMaxMeta(dt) => None
      case MaxOf(_, dt) if !isMinMaxMeta(dt) => None
      case MinOf(c, dt) => fz.get(c) match {
        case Some(z) if z.allNull => Some(Right(null))
        // string zone mins fold only when EXACT (the stored string IS
        // a value the file holds — format-5 marker); a truncated
        // prefix is a pruning bound, not an answer -> Boundary
        case Some(z) if z.kind == "str" =>
          if (dt == StringType && z.minExact) Some(Right(z.min)) else None
        case Some(z) if z.kind == "long" || z.kind == "double" =>
          Try(internal(dt, z.min)).toOption.map(Right(_))
        case _ => None
      }
      case MaxOf(c, dt) => fz.get(c) match {
        case Some(z) if z.allNull => Some(Right(null))
        case Some(z) if z.kind == "str" =>
          if (dt == StringType && z.maxExact) Some(Right(z.max)) else None
        case Some(z) if z.kind == "long" || z.kind == "double" =>
          Try(internal(dt, z.max)).toOption.map(Right(_))
        case _ => None
      }
    }
    if (cs.forall(_.isDefined)) Some(cs.flatten) else None
  }

  /** Fold one file's contributions into per-slot accumulators: `cnt`
    * sums counts (and AVG denominators), `mval` folds min/max
    * candidates (null-skipping, in the column's own domain) and
    * BigDecimal sum accumulations. */
  private def foldContribs(
      shapes: Seq[MetaAgg], contribs: Seq[Either[Long, Any]],
      cnt: Array[Long], mval: Array[Any]): Unit =
    contribs.zipWithIndex.foreach {
      case (Left(n), i) => cnt(i) += n
      case (Right(v), i) => shapes(i) match {
        case SumOf(_, _) | AvgOf(_, _) =>
          val (s, nn) = v.asInstanceOf[(BigDecimal, Long)]
          cnt(i) += nn
          if (s != null)
            mval(i) =
              if (mval(i) == null) s
              else mval(i).asInstanceOf[BigDecimal] + s
        case MinOf(_, dt) =>
          if (v != null && (mval(i) == null || cmpVals(dt, v, mval(i)) < 0))
            mval(i) = v
        case MaxOf(_, dt) =>
          if (v != null && (mval(i) == null || cmpVals(dt, v, mval(i)) > 0))
            mval(i) = v
        case RowCount | NonNull(_) =>
          throw new IllegalStateException("count slot with a value")
      }
    }

  /** The group column's per-file verdict: Some(Some(v)) = every row of
    * the file is in group `v` (constant column — stored-min ==
    * stored-max forces it even under string truncation — with zero
    * nulls), Some(None) = every row is in the NULL group, None = mixed
    * (boundary). */
  private def groupOf(dt: DataType, z: Option[ZoneMaps.Zone]): Option[Option[Any]] =
    z match {
      case None => None
      case Some(zz) if zz.allNull => Some(None)
      case Some(zz) if zz.nullCount == 0L =>
        if (dt == StringType) {
          if (zz.kind == "str" && zz.min != null && zz.max != null &&
              ZoneMaps.cpCompare(zz.min, zz.max) == 0) Some(Some(zz.min))
          else None
        } else if (zz.kind == "long" || zz.kind == "double") {
          val lo = internal(dt, zz.min)
          val hi = internal(dt, zz.max)
          if (cmpVals(dt, lo, hi) == 0) Some(Some(lo)) else None
        } else None
      case _ => None
    }

  /** Scala value → catalyst internal value for a LocalRelation row. */
  private def catalystVal(dt: DataType, v: Any): Any =
    if (v == null) null
    else dt match {
      case StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(v.asInstanceOf[String])
      case _ => v
    }

  private[plans] sealed trait Decision
  private[plans] case object FullyIn extends Decision
  private[plans] case object FullyOut extends Decision
  private[plans] case object Boundary extends Decision

  /** Decide one condition against one file's zone. Soundness leans on
    * the zone contract: numeric bounds are EXACT values; string bounds
    * satisfy stored-min ≤ true-min and stored-max ≥ true-max (prefix
    * truncation widens outward, null max = unbounded). FullyIn demands
    * zero nulls — a null row satisfies no comparison. Anything
    * undecidable is Boundary. */
  private def decide(cond: Any, z: Option[ZoneMaps.Zone]): Decision = (cond, z) match {
    case (_, None) => Boundary // no zone — no evidence either way
    case (NotNullCond(_), Some(zz)) =>
      if (zz.allNull) FullyOut
      else if (zz.nullCount == 0L) FullyIn
      else Boundary
    case (RangeCond(_, dt, lo, hi), Some(zz)) =>
      if (zz.allNull) FullyOut // every row null → no row satisfies a cmp
      else if (dt == StringType && zz.kind != "str") Boundary
      else if (dt != StringType && zz.kind != "long" && zz.kind != "double") Boundary
      else {
        // zone bounds in the column's domain; zmax None = unbounded
        val (zmin, zmax) =
          if (dt == StringType) (zz.min: Any, Option(zz.max: Any))
          else (internal(dt, zz.min), Some(internal(dt, zz.max)))
        val outLow = lo.exists { case (v, inc) => zmax.exists { m =>
          val c = cmpVals(dt, m, v); c < 0 || (c == 0 && !inc) } }
        val outHigh = hi.exists { case (v, inc) =>
          val c = cmpVals(dt, zmin, v); c > 0 || (c == 0 && !inc) }
        if (outLow || outHigh) FullyOut
        else {
          val inLow = lo.forall { case (v, inc) =>
            val c = cmpVals(dt, zmin, v); c > 0 || (c == 0 && inc) }
          val inHigh = hi.forall { case (v, inc) => zmax.exists { m =>
            val c = cmpVals(dt, m, v); c < 0 || (c == 0 && inc) } }
          if (inLow && inHigh && zz.nullCount == 0L) FullyIn else Boundary
        }
      }
    case _ => Boundary
  }

  /** Decide the WHOLE filter tree against one file's zones, in
    * 3-valued-logic-safe terms: FullyIn = every row of the file
    * satisfies the predicate (counts from metadata), FullyOut = no row
    * does (contributes nothing), Boundary = must scan. The And/Or
    * folds are the standard interval-decision lattice: a FullyIn
    * disjunct decides an Or (every row satisfies THAT disjunct), a
    * FullyOut conjunct decides an And (no row can satisfy it —
    * null-valued rows satisfy neither, so "not FullyIn" never
    * over-counts). */
  private[plans] def decideExpr(e: Expression, fz: Map[String, ZoneMaps.Zone]): Decision =
    e match {
      case And(a, b) => (decideExpr(a, fz), decideExpr(b, fz)) match {
        case (FullyOut, _) | (_, FullyOut) => FullyOut
        case (FullyIn, FullyIn) => FullyIn
        case _ => Boundary
      }
      case Or(a, b) => (decideExpr(a, fz), decideExpr(b, fz)) match {
        case (FullyIn, _) | (_, FullyIn) => FullyIn
        case (FullyOut, FullyOut) => FullyOut
        case _ => Boundary
      }
      case IsNotNull(a: AttributeReference) =>
        decide(NotNullCond(a.name), fz.get(a.name))
      case IsNull(a: AttributeReference) => fz.get(a.name) match {
        case None => Boundary
        case Some(zz) =>
          if (zz.allNull) FullyIn
          else if (zz.nullCount == 0L) FullyOut
          else Boundary
      }
      case _ => inList(e) match {
        case Some((a, vals)) => decideIn(a.dataType, vals, fz.get(a.name))
        case None =>
          leafRange(e).map(rc => decide(rc, fz.get(rc.col))).getOrElse(Boundary)
      }
    }

  /** Membership decision: FullyOut when every list value provably
    * misses the file's [min, max] (string bounds widen outward, so
    * v < stored-min ⟹ v < true-min and v > stored-max ⟹ v > true-max);
    * FullyIn only for a constant file (stored-min == stored-max forces
    * every value equal even under truncation) whose value is in the
    * list, with zero nulls. */
  private def decideIn(dt: DataType, vals: Seq[Any], z: Option[ZoneMaps.Zone])
      : Decision = z match {
    case None => Boundary
    case Some(zz) =>
      if (zz.allNull) FullyOut
      else if (dt == StringType && zz.kind != "str") Boundary
      else if (dt != StringType && zz.kind != "long" && zz.kind != "double") Boundary
      else {
        val (zmin, zmaxO) =
          if (dt == StringType) (zz.min: Any, Option(zz.max: Any))
          else (internal(dt, zz.min), Some(internal(dt, zz.max)))
        val allOut = vals.forall(v => cmpVals(dt, v, zmin) < 0 ||
          zmaxO.exists(m => cmpVals(dt, v, m) > 0))
        if (allOut) FullyOut
        else if (zz.nullCount == 0L &&
            zmaxO.exists(m => cmpVals(dt, zmin, m) == 0) &&
            vals.exists(v => cmpVals(dt, v, zmin) == 0)) FullyIn
        else Boundary
      }
  }

  /** The graft relation under `plan` with its optional Filter. */
  private def graftTarget(plan: LogicalPlan)
      : Option[(Option[Expression], LogicalRelation, GraftRelation)] =
    filteredGraft(plan).map { case (c, lr, g) => (Option(c), lr, g) }
      .orElse(graftChild(plan).map { case (lr, g) =>
        (None: Option[Expression], lr, g) })

  /** Is `plan` an Aggregate THIS rule would attempt to answer from
    * metadata (ungrouped or single-column-grouped COUNT/MIN/MAX over a
    * graft relation, filter inside the decidable algebra)? Structural
    * only — no filesystem I/O — so [[Advisor]] can lint a plan where
    * the shape survived to execution (the rule was not injected, or
    * its metadata pass legitimately declined): a metadata-answerable
    * aggregate still scanning is either a session-setup bug or a
    * sidecar with nothing to decide, and both deserve a flag. */
  private[graft] def answerableShape(plan: LogicalPlan): Boolean = plan match {
    case agg: Aggregate if agg.groupingExpressions.nonEmpty &&
        groupedShapes(agg).isDefined &&
        graftTarget(groupedTarget(agg)._2).isDefined =>
      graftTarget(groupedTarget(agg)._2).get._1.forall(supportedExpr)
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        distinctCountOf(agg).isDefined && graftTarget(agg.child).isDefined =>
      graftTarget(agg.child).get._1.forall(supportedExpr)
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty &&
        graftTarget(agg.child).isDefined &&
        agg.aggregateExpressions.forall {
          case Alias(e, _) => metaSlots(e).exists(_.forall {
            case (_, RowCount | NonNull(_)) => true
            case (_, MinOf(_, dt)) => isMinMaxMeta(dt)
            case (_, MaxOf(_, dt)) => isMinMaxMeta(dt)
            case (_, SumOf(_, dt)) => isIntegralMeta(dt)
            case (_, AvgOf(_, dt)) => isIntegralMeta(dt)
          })
          case _ => false
        } =>
      graftTarget(agg.child).get._1.forall(supportedExpr)
    case _ => false
  }


  /** Rewrite-or-leave with a visible trace: a sidecar I/O error must
    * degrade to the ORIGINAL plan (correctness first), but silently —
    * round-15 verdict — is one notch too quiet; the swallowed
    * exception gets a debug line so an operator chasing a missing
    * pushdown can see why (the Advisor lints are the loud backstop). */
  private def orLeave(plan: LogicalPlan)(t: Try[LogicalPlan]): LogicalPlan =
    t match {
      case scala.util.Success(p) => p
      case scala.util.Failure(e) =>
        logDebug(s"GraftMetaAggregate: metadata rewrite degraded to the original plan: $e")
        plan
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // GROUPED metadata counts: COUNT(*) / COUNT(col) GROUP BY one
    // ordered-primitive column (optionally filtered). A file whose
    // group column is CONSTANT (or all-null — its own SQL group)
    // attributes its whole row count to that group from the sidecar;
    // only group-mixed or filter-boundary files scan, and a final
    // re-aggregation over a Union merges the scanned partial counts
    // with the metadata groups. On a lang-clustered corpus the
    // language histogram touches only the run-boundary files.
    case agg: Aggregate if agg.groupingExpressions.nonEmpty &&
        groupedShapes(agg).isDefined &&
        graftTarget(groupedTarget(agg)._2).isDefined =>
      val (keys, shapes) = groupedShapes(agg).get
      val nG = keys.size
      val (condO, lr, rel) = graftTarget(groupedTarget(agg)._2).get
      if (condO.exists(c => !supportedExpr(c))) agg
      else Try {
        // LEDGER-AWARE (round 14): a pending merge-on-read ledger no
        // longer vetoes the whole rewrite — files in a ledgered BUCKET
        // are forced Boundary (their physical rows may include deleted
        // ones; the subset scan applies the anti-join exactly), every
        // other bucket's files still decide from metadata. Keys ledger
        // into their own hash bucket, so a ledger-free bucket's rows
        // are provably untouched.
        val snap = rel.snapshot
        val files = snap.files
        val aliasSlots = shapes.collect { case Right(x) => x }
        val flatSlots: Seq[(AggregateExpression, MetaAgg)] =
          aliasSlots.flatMap(_._2)
        val aggs = flatSlots.map(_._2)
        val cols = (condO.toSeq.flatMap(attrsOf) ++ keys.map(_.src.name) ++
          aggs.flatMap(columnOf)).distinct
        val zones = snap.completeZones(cols, absentStale = false)
        // group tuple (each slot None = that column's SQL NULL group) →
        // per-slot accumulators: summed counts, folded min/max
        val metaGroups = scala.collection.mutable.LinkedHashMap
          .empty[Seq[Option[Any]], (Array[Long], Array[Any])]
        val boundary = Seq.newBuilder[String]
        files.foreach { r =>
          val fz = zones.getOrElse(r, Map.empty[String, ZoneMaps.Zone])
          val fdec = condO.map(decideExpr(_, fz)).getOrElse(FullyIn)
          if (fdec == FullyOut) () // no deleted-row risk: deletes only shrink
          else if (fdec != FullyIn || snap.ledgered(r))
            boundary += r
          else {
            // the file decides only when EVERY group key is
            // file-constant (or provably all-null) — then the whole
            // file is ONE group tuple and per-file stats are exact
            // per-group contributions. Derived time keys need only the
            // truncated ENDPOINTS equal (monotone floors).
            val gvs = keys.map(k => groupOfKey(k, fz))
            if (gvs.exists(_.isEmpty)) boundary += r
            else {
              val key = gvs.map(_.get)
              val rows = ZoneMaps.rowCount(fz).getOrElse(
                throw new IllegalStateException(s"no row count for $r"))
              contribOf(aggs, fz, rows) match {
                case Some(cs) =>
                  val (cnt, mval) = metaGroups.getOrElseUpdate(key,
                    (Array.fill(aggs.size)(0L),
                      Array.fill[Any](aggs.size)(null)))
                  foldContribs(aggs, cs, cnt, mval)
                case None => boundary += r
              }
            }
          }
        }
        val partial = boundary.result()
        require(partial.size < files.size,
          "no file decidable from metadata — nothing to save")
        def metaRow(gv: Seq[Option[Any]], cnt: Array[Long],
            mval: Array[Any]): Seq[Any] = {
          var ci = -1
          shapes.map {
            case Left(i) => catalystVal(keys(i).expr.dataType, gv(i).orNull)
            case Right((al, ss)) =>
              // substitute each inner slot's computed value (internal
              // form — string slots fold as java Strings) and evaluate
              // the alias's scalar wrapper, the ungrouped evalRow move
              val repl: Map[Expression, Expression] = ss.map {
                case (ae, _) =>
                  ci += 1
                  val v = slotFinal(aggs(ci), cnt(ci), mval(ci))
                  (ae: Expression) -> (Literal(
                    catalystVal(ae.dataType, v), ae.dataType): Expression)
              }.toMap
              al.child.transform {
                case ae: AggregateExpression => repl(ae)
              }.eval(null)
          }
        }
        if (partial.isEmpty)
          LocalRelation(agg.output, metaGroups.toSeq.map { case (gv, (c, v)) =>
            InternalRow.fromSeq(metaRow(gv, c, v)) }): LogicalPlan
        else {
          // pin the subset relation to THIS relation's resolved version:
          // rel.version may be -1 ("latest"), which a copy would
          // re-resolve against a table that advanced since construction
          // — metadata sums from the old version + boundary files from
          // the new one silently undercount (round-14 ADVICE)
          val subset = lr.copy(relation = rel.subset(partial))
          val pruned = Project(
            subset.output.filter(a => cols.contains(a.name)), subset)
          val filtered = condO.fold(pruned: LogicalPlan)(Filter(_, pruned))
          // AVG carries TWO partial columns through the Union — (sum,
          // count), the decomposition Spark's own partial aggregation
          // uses — so the final merge can divide totals; every other
          // slot is one column wide
          def widthOf(m: MetaAgg): Int = m match {
            case AvgOf(_, _) => 2
            case _ => 1
          }
          val aggAliases = aggs.zipWithIndex.flatMap {
            case (AvgOf(_, _), i) =>
              val ch = flatSlots(i)._1
                .aggregateFunction.asInstanceOf[Average].child
              Seq(
                Alias(Sum(ch).toAggregateExpression(),
                  s"__graft_boundary_gsum$i")(),
                Alias(Count(Seq(ch)).toAggregateExpression(),
                  s"__graft_boundary_gn$i")())
            case (_, i) =>
              Seq(Alias(flatSlots(i)._1, s"__graft_boundary_gcnt$i")())
          }
          // grouping by the key EXPRESSIONS (bare attributes stay
          // bare; a derived time key re-evaluates exactly over the
          // boundary subset), aliased so the Union side has stable
          // output attributes
          val innerKeys = keys.zipWithIndex.map { case (k, i) =>
            Alias(k.expr, s"__graft_g$i")()
          }
          val inner = Aggregate(keys.map(_.expr),
            (innerKeys: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression]) ++ aggAliases, filtered)
          // meta rows as a second Union branch: (g1..gn, a0, a1, …) —
          // count slots are LongType, min/max slots the column's type,
          // sum slots LongType (exact fold), avg slots (sum, count)
          val gMeta = keys.zipWithIndex.map { case (k, i) =>
            AttributeReference(s"__graft_g$i", k.expr.dataType,
              nullable = k.expr.nullable ||
                metaGroups.keys.exists(_(i).isEmpty))()
          }
          val mAttrs = aggs.zipWithIndex.flatMap {
            case (RowCount | NonNull(_), i) =>
              Seq(AttributeReference(s"__graft_meta_gcnt$i", LongType,
                nullable = false)())
            case (MinOf(_, dt), i) =>
              Seq(AttributeReference(s"__graft_meta_gcnt$i", dt,
                nullable = true)())
            case (MaxOf(_, dt), i) =>
              Seq(AttributeReference(s"__graft_meta_gcnt$i", dt,
                nullable = true)())
            case (SumOf(_, _), i) =>
              Seq(AttributeReference(s"__graft_meta_gsum$i", LongType,
                nullable = true)())
            case (AvgOf(_, _), i) => Seq(
              AttributeReference(s"__graft_meta_gsum$i", LongType,
                nullable = true)(),
              AttributeReference(s"__graft_meta_gn$i", LongType,
                nullable = false)())
          }
          val metaRel = LocalRelation(gMeta ++ mAttrs,
            metaGroups.toSeq.map { case (gv, (cnt, mval)) =>
              val slotVals = aggs.zipWithIndex.flatMap {
                case (RowCount | NonNull(_), i) => Seq(cnt(i): Any)
                case (SumOf(_, _), i) =>
                  Seq(if (mval(i) == null) null else exactLong(mval(i)): Any)
                case (AvgOf(_, _), i) => Seq(
                  if (mval(i) == null) null else exactLong(mval(i)): Any,
                  cnt(i): Any)
                case (MinOf(_, dt), i) => Seq(catalystVal(dt, mval(i)))
                case (MaxOf(_, dt), i) => Seq(catalystVal(dt, mval(i)))
                case (_, i) => Seq(mval(i))
              }
              InternalRow.fromSeq(
                keys.zipWithIndex.map { case (k, i) =>
                  catalystVal(k.expr.dataType, gv(i).orNull) } ++ slotVals)
            })
          val union = Union(Seq(inner, metaRel))
          val uo = union.output // (g1..gn, a0, a1, …)
          var off = nG
          var fi = -1
          /** The merged (boundary ⊕ metadata) aggregate of flat slot
            * `i` over the union's columns. */
          def mergedOf(i: Int, base: Int): Expression = aggs(i) match {
            case RowCount | NonNull(_) =>
              KnownNotNull(Coalesce(Seq(
                Sum(uo(base)).toAggregateExpression(),
                Literal(0L, LongType))))
            case MinOf(_, _) => Min(uo(base)).toAggregateExpression()
            case MaxOf(_, _) => Max(uo(base)).toAggregateExpression()
            // Sum of the per-branch partial sums: null-skipping and
            // null iff every partial is null — exactly SQL SUM
            case SumOf(_, _) => Sum(uo(base)).toAggregateExpression()
            case AvgOf(_, _) =>
              val totSum = Sum(uo(base)).toAggregateExpression()
              val totCnt = Coalesce(Seq(
                Sum(uo(base + 1)).toAggregateExpression(),
                Literal(0L, LongType)))
              If(EqualTo(totCnt, Literal(0L, LongType)),
                Literal(null, DoubleType),
                Divide(Cast(totSum, DoubleType), Cast(totCnt, DoubleType)))
          }
          val finalExprs = shapes.zip(agg.aggregateExpressions).map {
            case (Left(i), orig) =>
              Alias(uo(i), orig.name)(exprId = orig.exprId)
            case (Right((al, ss)), orig) =>
              // graft each inner slot's merged aggregate back through
              // the alias's scalar wrapper (round 17 — the ungrouped
              // hybrid's reconstruction, now per group)
              val repl: Map[Expression, Expression] = ss.map {
                case (ae, _) =>
                  fi += 1
                  val base = off
                  off += widthOf(aggs(fi))
                  (ae: Expression) -> mergedOf(fi, base)
              }.toMap
              // the guard matters: transform recurses INTO each
              // replacement, whose merged expression itself contains
              // aggregates (Sum/Min over the union) — an unguarded
              // match would look those up and miss
              Alias(al.child.transform {
                case ae: AggregateExpression if repl.contains(ae) => repl(ae)
              }, orig.name)(exprId = orig.exprId)
          }
          Aggregate(uo.take(nG), finalExprs, union): LogicalPlan
        }
      }.pipe(orLeave(agg))

    // COUNT(DISTINCT col) — the distinct-values stats rung: CONSTANT
    // files (stored min == max) contribute their single value, only
    // value-spanning / filter-boundary / ledgered files scan, and one
    // Union + distinct COUNT merges the two sides. On a clusterBy(col)
    // layout the cardinality audit touches run-boundary files only.
    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        distinctCountOf(agg).isDefined && graftTarget(agg.child).isDefined =>
      val a = distinctCountOf(agg).get
      val (condO, lr, rel) = graftTarget(agg.child).get
      if (condO.exists(c => !supportedExpr(c))) agg
      else Try {
        val snap = rel.snapshot
        val files = snap.files
        val cols = (condO.toSeq.flatMap(attrsOf) :+ a.name).distinct
        // insertion-ordered so the rewritten plan is deterministic
        val metaVals = scala.collection.mutable.LinkedHashSet.empty[Any]
        val boundary = Seq.newBuilder[String]
        files.foreach { r =>
          val fz = snap.zonesOf(r)
          val fdec = condO.map(decideExpr(_, fz)).getOrElse(FullyIn)
          if (fdec == FullyOut) () // deletes only shrink: still out
          else if (fdec != FullyIn || snap.ledgered(r))
            boundary += r
          else constOf(a.dataType, fz.get(a.name)) match {
            case Some(None) => () // all-null: DISTINCT ignores nulls
            case Some(Some(v)) => metaVals += v
            case None => boundary += r
          }
        }
        val partial = boundary.result()
        require(partial.size < files.size,
          "no file decidable from metadata — nothing to save")
        if (partial.isEmpty)
          LocalRelation(agg.output,
            Seq(InternalRow.fromSeq(Seq(metaVals.size.toLong)))): LogicalPlan
        else {
          // boundary DISTINCT values ∪ the metadata constants, counted
          // once — nulls from boundary files ride the union and the
          // final distinct COUNT ignores them, exactly SQL semantics.
          // Subset pinned to rel.v like every hybrid scan.
          val subset = lr.copy(relation = rel.subset(partial))
          val pruned = Project(
            subset.output.filter(x => cols.contains(x.name)), subset)
          val filtered = condO.fold(pruned: LogicalPlan)(Filter(_, pruned))
          val aOut = subset.output.find(_.exprId == a.exprId).getOrElse(
            throw new IllegalStateException(s"distinct column ${a.name} " +
              "not in relation output"))
          val inner = Aggregate(Seq(aOut), Seq(aOut), filtered)
          val mAttr = AttributeReference(
            "__graft_meta_dval", a.dataType, nullable = true)()
          val metaRel = LocalRelation(Seq(mAttr),
            metaVals.toSeq.map(v =>
              InternalRow.fromSeq(Seq(catalystVal(a.dataType, v)))))
          val union = Union(Seq(inner, metaRel))
          val orig = agg.aggregateExpressions.head.asInstanceOf[Alias]
          Aggregate(Nil, Seq(Alias(
            Count(Seq(union.output.head))
              .toAggregateExpression(isDistinct = true),
            orig.name)(exprId = orig.exprId)), union): LogicalPlan
        }
      }.pipe(orLeave(agg))

    case agg: Aggregate if agg.groupingExpressions.isEmpty &&
        agg.aggregateExpressions.nonEmpty &&
        graftTarget(agg.child).isDefined &&
        agg.aggregateExpressions.forall {
          case Alias(e, _) => metaSlots(e).exists(_.forall {
            case (_, RowCount | NonNull(_)) => true
            case (_, MinOf(_, dt)) => isMinMaxMeta(dt)
            case (_, MaxOf(_, dt)) => isMinMaxMeta(dt)
            case (_, SumOf(_, dt)) => isIntegralMeta(dt)
            case (_, AvgOf(_, dt)) => isIntegralMeta(dt)
          })
          case _ => false
        } =>
      val (condO, lr, rel) = graftTarget(agg.child).get
      if (condO.exists(c => !supportedExpr(c))) agg
      else Try {
          val snap = rel.snapshot
          // one alias may wrap SEVERAL aggregates in deterministic
          // scalar structure (unix_micros(MIN(ts)), MAX(n) - MIN(n)):
          // slots flatten in order, and each reconstruction path grafts
          // its per-slot results back through the alias expression
          val aliasSlots: Seq[(Alias, Seq[(AggregateExpression, MetaAgg)])] =
            agg.aggregateExpressions.map {
              case al: Alias => al -> metaSlots(al.child).get
              case other => throw new IllegalStateException(
                s"non-alias aggregate slot: $other")
            }
          val shapes: Seq[MetaAgg] = aliasSlots.flatMap(_._2.map(_._2))
          /** The output row: substitute slot i's computed value (in the
            * aggregate's OWN type domain) for its AggregateExpression
            * inside each alias, then evaluate the folded wrapper. */
          def evalRow(valueAt: Int => Any): Seq[Any] = {
            var off = -1
            aliasSlots.map { case (al, slots) =>
              val repl: Map[Expression, Expression] = slots.map {
                case (ae, _) =>
                  off += 1
                  // catalystVal: string slot values fold as java
                  // Strings but Literal/eval work on internal values
                  (ae: Expression) -> (Literal(
                    catalystVal(ae.dataType, valueAt(off)), ae.dataType)
                    : Expression)
              }.toMap
              al.child.transform {
                case ae: AggregateExpression => repl(ae)
              }.eval(null)
            }
          }
          // SUM/AVG need the per-file sum lines, which metaAggregate's
          // column summary does not carry — route them through the
          // per-file hybrid fold below (unfiltered → every file decides
          // FullyIn → still a zero-scan LocalRelation when every file
          // has a format-4 sum line)
          val needsSums = shapes.exists {
            case SumOf(_, _) | AvgOf(_, _) => true
            // string min/max need the PER-FILE zones (their exactness
            // markers decide which files may fold); the column-summary
            // zero-scan path below has no per-file view
            case MinOf(_, StringType) | MaxOf(_, StringType) => true
            case _ => false
          }
          if (condO.isEmpty && snap.pendingDeletes.isEmpty && !needsSums) {
            // ZERO-SCAN fast path: unfiltered, no pending ledger — one
            // metadata pass answers everything, the plan collapses to a
            // LocalRelation (the Delta/Iceberg count-from-stats move)
            val cols = shapes.flatMap(columnOf).distinct
            // column → (n_rows, n_nonnull, min_v, max_v)
            val stats: Map[String, (Long, Long, String, String)] =
              if (cols.isEmpty) Map.empty
              else snap.metaRows(cols).map(r => r.getString(0) ->
                  (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
                .toMap
            lazy val nRows: Long = stats.headOption.map(_._2._1)
              .getOrElse(snap.rowCount)
            val values = shapes.map {
              case RowCount => nRows
              case NonNull(c) => stats(c)._2
              case MinOf(c, dt) => internal(dt, stats(c)._3)
              case MaxOf(c, dt) => internal(dt, stats(c)._4)
              case SumOf(_, _) | AvgOf(_, _) => // routed to hybrid above
                throw new IllegalStateException("sum slot in zero-scan path")
            }
            LocalRelation(agg.output,
              Seq(InternalRow.fromSeq(evalRow(values))))
              : LogicalPlan
          } else {
            // HYBRID (Iceberg inclusive-metrics): decide each file —
            // FullyIn contributes from metadata (counts from row/null
            // counts, MIN/MAX from zone extremes, exact because every
            // row of the file qualifies), FullyOut contributes nothing,
            // Boundary scans. LEDGER-AWARE (round 14): files in a
            // bucket with pending merge-on-read deletes are forced
            // Boundary (the subset scan applies the anti-join exactly;
            // keys ledger into their own hash bucket, so every other
            // bucket is provably untouched) — a 100 TB table with ten
            // pending deletes keeps its pushdown.
            val files = snap.files
            // legacy lines (no #rows / unknown nullCount) → one footer
            // re-harvest of just those files, metadata I/O only
            val cols = (condO.toSeq.flatMap(attrsOf) ++
              shapes.flatMap(columnOf)).distinct
            val zones = snap.completeZones(cols, absentStale = false)
            val metaCnt = Array.fill(shapes.size)(0L)
            val metaVal = Array.fill[Any](shapes.size)(null)
            val boundary = Seq.newBuilder[String]
            files.foreach { r =>
              val fz = zones.getOrElse(r, Map.empty[String, ZoneMaps.Zone])
              val fdec = condO.map(decideExpr(_, fz)).getOrElse(FullyIn)
              if (fdec == FullyOut) () // deletes only shrink: still out
              else if (fdec != FullyIn || snap.ledgered(r))
                boundary += r
              else {
                val rows = ZoneMaps.rowCount(fz).getOrElse(
                  throw new IllegalStateException(s"no row count for $r"))
                contribOf(shapes, fz, rows) match {
                  case Some(cs) => foldContribs(shapes, cs, metaCnt, metaVal)
                  case None => boundary += r
                }
              }
            }
            val partial = boundary.result()
            require(partial.size < files.size,
              "no file decidable from metadata — nothing to save")
            def slotVal(i: Int): Any =
              slotFinal(shapes(i), metaCnt(i), metaVal(i))
            if (partial.isEmpty)
              LocalRelation(agg.output,
                Seq(InternalRow.fromSeq(evalRow(slotVal))))
                : LogicalPlan
            else {
              // boundary files scan exactly through a subset-scoped copy
              // of the relation — pinned to THIS relation's resolved
              // version (version = rel.v, never the -1 "latest" a copy
              // would re-resolve — round-14 ADVICE). Column-prune the
              // scan by hand: this rewrite runs AFTER the optimizer's
              // pruning batch, so without an explicit Project the V1
              // scan would read EVERY column (text included).
              val subset = lr.copy(relation = rel.subset(partial))
              val pruned = Project(
                subset.output.filter(a => cols.contains(a.name)), subset)
              val filtered = condO.fold(pruned: LogicalPlan)(Filter(_, pruned))
              // AVG decomposes to (SUM, COUNT) inner slots so the
              // metadata partial can merge before the divide; every
              // other slot reuses its original aggregate expression.
              // Slots are FLAT (one alias may carry several — wrapped
              // aliases, round 16); the final projection grafts each
              // slot's merged expression back into its alias wrapper.
              val flatSlots: Seq[(AggregateExpression, MetaAgg)] =
                aliasSlots.flatMap(_._2)
              val innerAliases: Seq[Seq[Alias]] =
                flatSlots.zipWithIndex.map {
                  case ((ae, AvgOf(_, _)), i) =>
                    val ch = ae.aggregateFunction
                      .asInstanceOf[Average].child
                    Seq(
                      Alias(Sum(ch).toAggregateExpression(),
                        s"__graft_boundary_sum$i")(),
                      Alias(Count(Seq(ch)).toAggregateExpression(),
                        s"__graft_boundary_n$i")())
                  case ((ae, _), i) =>
                    Seq(Alias(ae, s"__graft_boundary_count$i")())
                }
              val inner = Aggregate(Nil, innerAliases.flatten, filtered)
              // per-slot merged expression (boundary ⊕ metadata)
              def mergedOf(i: Int): Expression = {
                val ias = innerAliases(i)
                // the boundary SUM merges null-aware: null iff NEITHER
                // side holds a non-null value (SQL SUM), via
                // Coalesce(inner + meta, meta) — Add propagates an
                // all-null boundary to the metadata partial
                def mergedSum: Expression = {
                  val ia = ias.head.toAttribute
                  if (metaVal(i) == null) ia
                  else {
                    val ms = Literal(exactLong(metaVal(i)), LongType)
                    Coalesce(Seq(Add(ia, ms), ms))
                  }
                }
                shapes(i) match {
                  case RowCount | NonNull(_) =>
                    Add(ias.head.toAttribute, Literal(metaCnt(i), LongType))
                  case MinOf(_, dt) =>
                    // Least/Greatest skip nulls with the same NaN-
                    // largest ordering Min/Max use, so combining the
                    // boundary scan's exact extreme with the
                    // metadata fold preserves SQL semantics
                    Least(Seq(ias.head.toAttribute,
                      Literal(catalystVal(dt, metaVal(i)), dt)))
                  case MaxOf(_, dt) =>
                    Greatest(Seq(ias.head.toAttribute,
                      Literal(catalystVal(dt, metaVal(i)), dt)))
                  case SumOf(_, _) => mergedSum
                  case AvgOf(_, _) =>
                    val totCnt = Add(ias(1).toAttribute,
                      Literal(metaCnt(i), LongType))
                    If(EqualTo(totCnt, Literal(0L, LongType)),
                      Literal(null, DoubleType),
                      Divide(Cast(mergedSum, DoubleType),
                        Cast(totCnt, DoubleType)))
                }
              }
              var off = -1
              val finalExprs = aliasSlots.map { case (al, slots) =>
                val repl: Map[Expression, Expression] = slots.map {
                  case (ae, _) =>
                    off += 1
                    (ae: Expression) -> mergedOf(off)
                }.toMap
                Alias(al.child.transform {
                  case ae: AggregateExpression => repl(ae)
                }, al.name)(exprId = al.exprId)
              }
              Project(finalExprs, inner): LogicalPlan
            }
          }
        }.pipe(orLeave(agg))
  }
}
