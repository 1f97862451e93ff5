package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.sql.types.{Decimal, StructField}
import org.apache.spark.unsafe.types.UTF8String

/** Metadata-only `COUNT(*)` (Delta's OptimizeMetadataOnlyDeltaQuery):
  * an unfiltered, ungrouped `count(*)` over a loglake snapshot is
  * answered from the manifest — Σ per-file rows minus DV-masked rows,
  * both recorded exactly at commit time by the stats aggregate — and
  * the whole scan collapses to a [[LocalRelation]]. At 100 TB this is
  * the difference between a row-count dashboard query reading zero
  * bytes and reading every file's footer-to-last-page.
  *
  * Applies ONLY when every aggregate is a plain non-distinct,
  * unfiltered `count(literal≠null)` with no grouping, over a bare (or
  * projected) loglake relation — any Filter/join/grouping above the
  * scan leaves the plan untouched. Both snapshot read paths
  * participate: the native [[LogLakeFileIndex]] scan and the
  * DV-masking [[LogLakeDvRelation]] fallback (whose count subtracts
  * each file's deletion-vector cardinality). */
class LogLakeMetadataOnlyCountRule extends Rule[LogicalPlan] {

  import LogLakeMetadataOnlyCountRule._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a @ Aggregate(groupingExprs, aggExprs, child, _)
        if groupingExprs.isEmpty && aggExprs.nonEmpty =>
      val shapes = traverseOpt(aggExprs)(classify)
      val answered = shapes.flatMap { aggs =>
        scanWithPreds(child).flatMap { case (meta, preds) =>
          answer(meta, preds, aggs)
        }
      }
      answered match {
        case Some(values) =>
          LocalRelation(a.output, Seq(InternalRow.fromSeq(values)))
        case None => a
      }
    // GROUP BY <partition columns> + manifest-answerable aggregates:
    // per-tuple counts/min/max from the manifest's partition values and
    // per-file stats — the partition-dashboard query at zero data bytes
    // (Hive's metadata-only query, kept exact here because loglake
    // counts are manifest-exact through DVs). Partition-only Filters
    // below the Aggregate compose (admission per tuple).
    case a @ Aggregate(groupingExprs, aggExprs, child, _)
        if groupingExprs.nonEmpty &&
          groupingExprs.forall(_.isInstanceOf[AttributeReference]) =>
      val groupAttrs = groupingExprs.map(_.asInstanceOf[AttributeReference])
      // each output is a grouping attribute (possibly aliased) or a
      // manifest-answerable aggregate
      val shape: Option[Seq[Either[Attribute, MetaAgg]]] =
        traverseOpt(aggExprs) {
          case at: AttributeReference
              if groupAttrs.exists(_.semanticEquals(at)) => Some(Left(at))
          case Alias(at: AttributeReference, _)
              if groupAttrs.exists(_.semanticEquals(at)) => Some(Left(at))
          case e => classify(e).map(Right(_))
        }
      val answered = shape.flatMap { outs =>
        scanWithPreds(child).flatMap { case (meta, preds) =>
          groupedAnswer(meta, preds, groupAttrs, outs)
        }
      }
      answered match {
        case Some(rows) => LocalRelation(a.output, rows)
        case None => a
      }
  }

  /** One output row per live partition tuple. None (keep the scan) when
    * any grouping column isn't a partition column, any file misses a
    * tuple value, or ANY group's aggregates aren't manifest-answerable
    * — a partial collapse is never sound. */
  private def groupedAnswer(
      meta: (Seq[LogLake.AddFile], StructType, Seq[String]),
      preds: Seq[Expression], groupAttrs: Seq[AttributeReference],
      outs: Seq[Either[Attribute, MetaAgg]]): Option[Seq[InternalRow]] = {
    val (files, schema, partPhys) = meta
    val fieldByName = schema.fields.map(f => f.name -> f).toMap
    val gMeta = groupAttrs.map { a =>
      fieldByName.get(a.name).map(f => (a, f, LogLake.physName(f)))
        .getOrElse(return None)
    }
    if (!gMeta.forall(m => partPhys.contains(m._3))) return None
    if (!files.forall(f => gMeta.forall(m => f.partitionValues.contains(m._3))))
      return None
    val admitted = admit(files, schema, partPhys, preds).getOrElse(return None)
    val zone = Some(SQLConf.get.sessionLocalTimeZone)
    val byName = groupAttrs.map(_.name).zipWithIndex.toMap
    val aggsOnly = outs.collect { case Right(ag) => ag }
    val rows = admitted.groupBy(f => gMeta.map(m => f.partitionValues(m._3)))
      .toSeq.flatMap { case (tuple, fs) =>
        // a tuple with zero live rows (e.g. only empty or fully-DV'd
        // files) emits NO group, exactly like the scan it replaces
        if (fs.map(f => f.rows - f.dvRows).sum == 0L) None
        else {
          val typed = tuple.zip(gMeta).map { case (s, (_, fld, _)) =>
            if (s == LogLake.NullPartitionValue) null
            else Cast(Literal(UTF8String.fromString(s), StringType),
              fld.dataType, zone).eval(InternalRow.empty)
          }
          val vals = computeAggs(fs, schema, partPhys, aggsOnly)
            .getOrElse(return None)
          val it = vals.iterator
          Some(InternalRow.fromSeq(outs.map {
            case Left(at) => typed(byName(at.name))
            case Right(_) => it.next()
          }))
        }
      }
    Some(rows)
  }

  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = Seq.newBuilder[B]
    xs.foreach(x => f(x) match {
      case Some(b) => out += b
      case None => return None
    })
    Some(out.result())
  }

  private def classify(e: NamedExpression): Option[MetaAgg] = e match {
    case Alias(AggregateExpression(fn, _, false, None, _), _) => fn match {
      case Count(Seq(l: Literal)) if l.value != null => Some(CountStar)
      case Count(Seq(a: AttributeReference)) => Some(CountCol(a))
      case Min(a: AttributeReference) => Some(MinCol(a))
      case Max(a: AttributeReference) => Some(MaxCol(a))
      case _ => None
    }
    case _ => None
  }

  /** Walks pass-through Projects and deterministic Filters down to a
    * bare loglake snapshot scan; returns the scan's pinned metadata
    * plus the collected predicates (validated as partition-only later).
    * A Project BELOW a collected Filter must be a pure attribute prune
    * — anything computing could detach a predicate's references. */
  private def scanWithPreds(plan: LogicalPlan):
      Option[((Seq[LogLake.AddFile], StructType, Seq[String]), Seq[Expression])] = {
    def go(p: LogicalPlan, preds: Seq[Expression]):
        Option[((Seq[LogLake.AddFile], StructType, Seq[String]), Seq[Expression])] =
      p match {
        case Project(_, child) if preds.isEmpty => go(child, preds)
        case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
          go(child, preds)
        case Filter(cond, child)
            if cond.deterministic &&
              !cond.exists(_.isInstanceOf[SubqueryExpression]) =>
          go(child, preds :+ cond)
        case l: LogicalRelation =>
          val meta = l.relation match {
            case h: HadoopFsRelation => h.location match {
              case idx: LogLakeFileIndex => Some(idx.metaState)
              case _ => None
            }
            case r: LogLakeDvRelation => Some(r.metaState)
            case _ => None
          }
          meta.map(m => (m, preds))
        case _ => None
      }
    go(plan, Nil)
  }

  /** Files admitted by the predicates: Some(kept) iff every predicate
    * touches ONLY partition columns (evaluated exactly per live tuple,
    * typed through the declared partition types); None = not
    * metadata-answerable. */
  private def admit(files: Seq[LogLake.AddFile], schema: StructType,
      partPhys: Seq[String], preds: Seq[Expression]): Option[Seq[LogLake.AddFile]] = {
    if (preds.isEmpty) return Some(files)
    if (partPhys.isEmpty) return None
    val fieldByName = schema.fields.map(f => f.name -> f).toMap
    val attrs = preds.flatMap(_.collect {
      case a: AttributeReference => a }).distinctBy(_.exprId)
    val metas = attrs.map { a =>
      fieldByName.get(a.name).map(f => (a, f, LogLake.physName(f)))
    }
    if (metas.exists(_.isEmpty)) return None
    val bound = metas.flatten
    if (!bound.forall(m => partPhys.contains(m._3))) return None
    if (!files.forall(f => bound.forall(m => f.partitionValues.contains(m._3))))
      return None
    val zone = Some(SQLConf.get.sessionLocalTimeZone)
    val kept = files.groupBy(f => bound.map(m => f.partitionValues(m._3)))
      .toSeq.flatMap { case (tuple, fs) =>
        val byId = bound.zip(tuple).map { case ((a, fld, _), s) =>
          a.exprId -> (if (s == LogLake.NullPartitionValue) null
          else Cast(Literal(UTF8String.fromString(s), StringType),
            fld.dataType, zone).eval(InternalRow.empty))
        }.toMap
        val sat = preds.forall { p =>
          val b = p.transform {
            case a: AttributeReference => Literal(byId(a.exprId), a.dataType)
          }
          b.eval(InternalRow.empty) == true
        }
        if (sat) fs else Nil
      }
    Some(kept)
  }

  /** A stored bound that is SOUND for file skipping but not the exact
    * extreme value, so MIN/MAX must not answer with it:
    *  - TRUNCATED string stats ([[LogLake.StringTruncTag]]): a 32-cp
    *    prefix (or its prefix-increment);
    *  - a float/double ZERO: stored as canonical `0.0` whatever the
    *    data's sign (parquet footers widen zero bounds), and manifests
    *    written before that rule may hold `-0.0` from a scan that met
    *    either sign first. The scan returns the exact sign. */
  private def inexactBound(tag: String, s: String): Boolean =
    tag == LogLake.StringTruncTag ||
      (tag == "double" && s.toDoubleOption.contains(0d))

  /** Decodes a manifest stats rendering ([[LogLake.ColStats]] tag +
    * string) back to the column's INTERNAL Catalyst value. None = an
    * [[inexactBound]] or a tag/type pairing we can't reconstruct
    * exactly — keep the scan. */
  private def decodeStat(tag: String, s: String, dt: DataType): Option[Any] =
    if (inexactBound(tag, s)) None
    else (tag, dt) match {
      case ("string", StringType) => Some(UTF8String.fromString(s))
      case ("long", LongType) => Some(s.toLong)
      case ("long", IntegerType) => Some(s.toLong.toInt)
      case ("long", ShortType) => Some(s.toLong.toShort)
      case ("long", ByteType) => Some(s.toLong.toByte)
      case ("long", BooleanType) => Some(s == "1")
      case ("long", DateType) => Some(s.toLong.toInt)
      case ("long", TimestampType) => Some(s.toLong)
      case ("double", DoubleType) => Some(s.toDouble)
      case ("double", FloatType) => Some(s.toDouble.toFloat)
      case ("decimal", d: DecimalType) =>
        val dec = Decimal(new java.math.BigDecimal(s))
        if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
      case _ => None
    }

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Per-file (min, max, nullCount) for `attr`, from stats or — for a
    * partition column — from the file's tuple value (constant within
    * the file under identity partitioning). None = this file can't
    * answer for this column. */
  private def fileStats(f: LogLake.AddFile, attr: AttributeReference,
      phys: String, isPart: Boolean): Option[(Option[Any], Option[Any], Long)] = {
    f.stats.get(phys) match {
      case Some(s) if s.tpe == "null" => Some((None, None, s.nulls))
      // an inexact bound (truncated string, float zero) is refused on
      // its own but the null count is still exact — COUNT(col) stays
      // metadata-only; MIN/MAX must check `rows - nulls` before
      // treating a missing bound as "no values in this file"
      case Some(s) =>
        def bound(v: String): Option[Option[Any]] =
          decodeStat(s.tpe, v, attr.dataType) match {
            case None if !inexactBound(s.tpe, v) => None
            case exact => Some(exact)
          }
        for (lo <- bound(s.min); hi <- bound(s.max)) yield (lo, hi, s.nulls)
      case None if isPart && f.partitionValues.contains(phys) =>
        val sv = f.partitionValues(phys)
        if (sv == LogLake.NullPartitionValue) Some((None, None, f.rows))
        else {
          val zone = Some(SQLConf.get.sessionLocalTimeZone)
          Option(Cast(Literal(UTF8String.fromString(sv), StringType),
            attr.dataType, zone).eval(InternalRow.empty))
            .map(v => (Some(v), Some(v), 0L))
        }
      case None => None
    }
  }

  /** The answer row for the classified aggregates over the admitted
    * set, or None when any aggregate isn't manifest-answerable. */
  private def answer(meta: (Seq[LogLake.AddFile], StructType, Seq[String]),
      preds: Seq[Expression], aggs: Seq[MetaAgg]): Option[Seq[Any]] = {
    val (files, schema, partPhys) = meta
    admit(files, schema, partPhys, preds)
      .flatMap(computeAggs(_, schema, partPhys, aggs))
  }

  /** The aggregate values over an already-admitted file set. */
  private def computeAggs(admitted: Seq[LogLake.AddFile], schema: StructType,
      partPhys: Seq[String], aggs: Seq[MetaAgg]): Option[Seq[Any]] = {
    val needStats = aggs.exists {
      case CountStar => false
      case _ => true
    }
    // a DV-masked row could be the extremum or shift the null count
    if (needStats && admitted.exists(_.dvRows > 0L)) return None
    val fieldByName = schema.fields.map(f => f.name -> f).toMap
    val live = admitted.filter(_.rows > 0L)
    def colMeta(a: AttributeReference): Option[(String, Boolean)] =
      fieldByName.get(a.name).map { f =>
        val phys = LogLake.physName(f)
        (phys, partPhys.contains(phys))
      }
    val out = aggs.map {
      case CountStar => admitted.map(f => f.rows - f.dvRows).sum: Any
      case CountCol(a) =>
        val (phys, isPart) = colMeta(a).getOrElse(return None)
        live.map { f =>
          val (_, _, nulls) = fileStats(f, a, phys, isPart).getOrElse(return None)
          f.rows - nulls
        }.sum: Any
      case MinCol(a) =>
        val (phys, isPart) = colMeta(a).getOrElse(return None)
        val mins = live.flatMap { f =>
          val (lo, _, nulls) = fileStats(f, a, phys, isPart).getOrElse(return None)
          // a file with non-null values but no EXACT bound (truncated
          // string, float zero) cannot be skipped — refuse the rewrite
          if (lo.isEmpty && f.rows - nulls > 0L) return None
          lo
        }
        if (mins.isEmpty) null else mins.reduce((x, y) => if (cmp(x, y) <= 0) x else y)
      case MaxCol(a) =>
        val (phys, isPart) = colMeta(a).getOrElse(return None)
        val maxs = live.flatMap { f =>
          val (_, hi, nulls) = fileStats(f, a, phys, isPart).getOrElse(return None)
          if (hi.isEmpty && f.rows - nulls > 0L) return None
          hi
        }
        if (maxs.isEmpty) null else maxs.reduce((x, y) => if (cmp(x, y) >= 0) x else y)
    }
    Some(out)
  }

}

private[sources] object LogLakeMetadataOnlyCountRule {
  /** The manifest-answerable aggregate shapes: `count(*)`,
    * `count(col)` (non-null count via per-file null counts), and
    * `min(col)` / `max(col)` (per-file exact min/max, reduced under
    * the column's own ordering) — Delta's OptimizeMetadataOnlyDeltaQuery
    * surface. count(*) stays DV-exact (rows − dvRows); the other three
    * require a DV-FREE admitted set, since a masked row could hold the
    * extremum or shift the null count. */
  sealed trait MetaAgg
  case object CountStar extends MetaAgg
  final case class CountCol(a: AttributeReference) extends MetaAgg
  final case class MinCol(a: AttributeReference) extends MetaAgg
  final case class MaxCol(a: AttributeReference) extends MetaAgg
}
