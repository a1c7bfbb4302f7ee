package graft.plans

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{NumericType, StringType, TimestampType}

import graft.pipeline.Pipeline
import graft.sink.Footers.Bound
import graft.sink.SegmentStore

/** Catalyst optimizer rule: AUTOMATIC zone-map segment pruning.
  *
  * [[SegmentStore.readPruned]]/[[SegmentStore.readPrunedNumeric]] prune
  * explicitly — the caller must know about the zone map. This rule closes
  * the loop for plain `spark.read.parquet(store).filter(...)` users (and
  * SQL-only sessions via [[graft.functions.GraftExtensions]]): a Filter
  * directly over a `segment`-partitioned store whose files' footers bound
  * a predicate column gets `segment IN (admitted…)` injected, which Spark's
  * partition pruning turns into a directory-level scan cut — the same
  * mechanism Druid's broker uses segment metadata for at query routing.
  * The files and their `segment` values come from the relation's own
  * FileIndex, which Spark has already listed, so the prune covers exactly
  * what the scan will read (a file sink's `_spark_metadata` log included);
  * footers are cached, so planning launches no Spark job.
  *
  * Soundness: a conjunct `dim = v` / numeric range only ever EXCLUDES
  * segments whose merged [min, max] cannot contain matching rows; segments
  * without a bound for the column are kept (the admissions are
  * conservative). Only top-level AND conjuncts are consulted. A conjunct
  * that is itself a string disjunction — `dim IN (a,b,…)` (or its optimized
  * InSet form) or `dim = a OR dim = b` on ONE column, both common shapes of
  * Druid filter JSON — admits the UNION of the per-value admissions (sound:
  * any row matching the disjunct matches one of the values); mixed-column
  * OR trees are ignored.
  *
  * Plans already constraining `segment` are left untouched, which also
  * makes the rewrite a fixed point.
  */
class SegmentPruneRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if !cond.references.exists(_.name == Pipeline.SegmentCol) =>
      (rel.relation, segmentAttr(rel)) match {
        case (hfs: HadoopFsRelation, Some(seg)) =>
          admitted(hfs, cond) match {
            case Some(segs) =>
              val extra =
                if (segs.isEmpty) Literal.FalseLiteral
                else In(seg, segs.map(s => Literal.create(s, StringType)))
              Filter(And(cond, extra), rel)
            case None => f
          }
        case _ => f
      }
  }

  private def segmentAttr(rel: LogicalRelation): Option[AttributeReference] =
    rel.output.collectFirst {
      case a: AttributeReference
          if a.name == Pipeline.SegmentCol && a.dataType == StringType => a
    }

  /** The relation's files by `segment` value, as its listed FileIndex hands
    * them to the scan, sorted by segment; None unless it is a single-root
    * listed index with `segment` a string partition column valued in every
    * partition. */
  private def segmentFiles(hfs: HadoopFsRelation): Option[(String, Seq[(String, Seq[FileStatus])])] =
    (hfs.location, hfs.location.rootPaths.toList) match {
      case (index: PartitioningAwareFileIndex, root :: Nil) =>
        val i = index.partitionSchema.fields.indexWhere(f =>
          f.name == Pipeline.SegmentCol && f.dataType == StringType)
        val dirs = if (i < 0) Nil else index.listFiles(Nil, Nil)
        if (i < 0 || dirs.exists(_.values.isNullAt(i))) None
        else Some(root.toString -> dirs.groupBy(_.values.getUTF8String(i).toString)
          .toSeq.sortBy(_._1)
          .map { case (seg, ds) => seg -> ds.flatMap(_.files.map(_.fileStatus)) })
      case _ => None
    }

  /** Intersection of per-conjunct admitted segment lists; None when no
    * conjunct is answerable or every segment is admitted. Dim/metric
    * conjuncts read the segments' footer zone maps; a time-interval
    * conjunct on the bucket column needs only the segment names themselves
    * (dir names encode chunk starts — the Druid `intervals` clause answered
    * at planning, like the broker's segment timeline). */
  private def admitted(hfs: HadoopFsRelation, cond: Expression): Option[Seq[String]] = {
    val conjuncts = splitAnd(cond)
    val stringEq = conjuncts.collect {
      case EqualTo(a: AttributeReference, Literal(v, StringType)) if v != null =>
        (a.name, v.toString)
      case EqualTo(Literal(v, StringType), a: AttributeReference) if v != null =>
        (a.name, v.toString)
      // the filter DSL compiles selector/equality to `<=>` (never-NULL
      // contract): with a NON-NULL literal its admission set is the same
      // as EqualTo's (a null dim value matches neither, and zone-map
      // ranges never cover nulls) — without this, native-query selector
      // filters over store reads would silently skip pruning
      case EqualNullSafe(a: AttributeReference, Literal(v, StringType))
          if v != null => (a.name, v.toString)
      case EqualNullSafe(Literal(v, StringType), a: AttributeReference)
          if v != null => (a.name, v.toString)
    }
    val stringIn = collectStringDisjunctions(conjuncts)
    val numericBounds = collectNumericBounds(conjuncts)
    val tsBounds = collectTsBounds(conjuncts)
    if (stringEq.isEmpty && stringIn.isEmpty && numericBounds.isEmpty &&
        tsBounds.isEmpty)
      return None // nothing answerable — zero listing or footer cost

    val (root, segFiles) = segmentFiles(hfs) match {
      case Some(found) => found
      case None => return None
    }
    val names = segFiles.map(_._1)
    if (names.isEmpty) return None
    lazy val zones = SegmentStore.zoneMaps(spark, segFiles)
    def admit(ok: Map[String, Bound] => Boolean): Set[String] =
      zones.collect { case (seg, z) if ok(z) => seg }.toSet
    val lists =
      stringEq.map { case (d, v) => admit(z => SegmentStore.admitsRange(z.get(d), v, v)) } ++
      // disjunction: union of per-value admissions (each conservative)
      stringIn.map { case (d, vs) =>
        admit(z => vs.exists(v => SegmentStore.admitsRange(z.get(d), v, v))) } ++
      numericBounds.map { case (c, lo, hi) =>
        admit(z => SegmentStore.admitsNumeric(z.get(c), lo, hi)) } ++
      // parse dir names in the zone they were WRITTEN under (the sink's
      // marker; session-zone fallback for pre-marker stores) — a reader
      // session in a different zone would otherwise silently prune valid
      // boundary segments
      tsBounds.flatMap { case (lo, hi) =>
        timeAdmitted(names, SegmentStore.writerZone(spark, root).getId, lo, hi) }
    if (lists.isEmpty) return None
    val kept = lists.reduce(_ intersect _)
    // everything admitted → no rewrite: a full-store IN list would bloat the
    // plan (thousands of chunks) for zero pruning
    if (names.forall(kept)) None else Some(names.filter(kept))
  }

  /** Segments whose chunk can overlap [lo, hi] micros on the bucket column.
    * A chunk's rows satisfy start_i ≤ ts < start_{i+1} (equal fixed widths
    * per store; gaps only over-admit), so: admit iff start_i ≤ hi and the
    * NEXT chunk's start > lo (last chunk: unbounded above). Unparseable dir
    * names (not a graft store after all) → no time answer. */
  private def timeAdmitted(names: Seq[String], tz: String,
      lo: Long, hi: Long): Option[Set[String]] = {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd'T'HH.mm.ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone(tz))
    val starts = names.map { n =>
      try Some(fmt.parse(n).getTime * 1000L) catch { case _: Exception => None }
    }
    if (names.isEmpty || starts.exists(_.isEmpty)) return None
    val s = starts.map(_.get)
    Some(names.indices.collect {
      case i if s(i) <= hi && (i == names.size - 1 || s(i + 1) > lo) => names(i)
    }.toSet)
  }

  /** [lo, hi] micros over the bucket column from timestamp comparisons. */
  private def collectTsBounds(conjuncts: Seq[Expression]): Option[(Long, Long)] = {
    def tsAttr(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        a.name == Pipeline.TsCol && a.dataType == TimestampType
      case _ => false
    }
    def micros(l: Literal): Option[Long] = l.value match {
      case v: java.lang.Long if l.dataType == TimestampType => Some(v)
      case _ => None
    }
    var lo = Long.MinValue; var hi = Long.MaxValue; var seen = false
    conjuncts.foreach {
      case EqualTo(e, l: Literal) if tsAttr(e) =>
        micros(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v); seen = true }
      case EqualTo(l: Literal, e) if tsAttr(e) =>
        micros(l).foreach { v => lo = math.max(lo, v); hi = math.min(hi, v); seen = true }
      case GreaterThanOrEqual(e, l: Literal) if tsAttr(e) =>
        micros(l).foreach { v => lo = math.max(lo, v); seen = true }
      case GreaterThan(e, l: Literal) if tsAttr(e) =>
        micros(l).foreach { v => lo = math.max(lo, v); seen = true }
      case LessThanOrEqual(e, l: Literal) if tsAttr(e) =>
        micros(l).foreach { v => hi = math.min(hi, v); seen = true }
      case LessThan(e, l: Literal) if tsAttr(e) =>
        micros(l).foreach { v => hi = math.min(hi, v); seen = true }
      case GreaterThanOrEqual(l: Literal, e) if tsAttr(e) =>
        micros(l).foreach { v => hi = math.min(hi, v); seen = true }
      case GreaterThan(l: Literal, e) if tsAttr(e) =>
        micros(l).foreach { v => hi = math.min(hi, v); seen = true }
      case LessThanOrEqual(l: Literal, e) if tsAttr(e) =>
        micros(l).foreach { v => lo = math.max(lo, v); seen = true }
      case LessThan(l: Literal, e) if tsAttr(e) =>
        micros(l).foreach { v => lo = math.max(lo, v); seen = true }
      case _ => ()
    }
    if (seen) Some((lo, hi)) else None
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other     => Seq(other)
  }

  /** Single-column string disjunctions: `dim IN (a,b,…)`, its optimized
    * `InSet` form, and `dim = a OR dim = b [OR …]` Or-trees whose every
    * leaf is an equality on the SAME string column. Null values make the
    * conjunct unanswerable (null never matches an equality, but excluding
    * on it would be wrong for the IN-list's other values only if we
    * dropped them — simplest sound rule: skip). */
  private def collectStringDisjunctions(
      conjuncts: Seq[Expression]): Seq[(String, Seq[String])] = {
    def strLit(e: Expression): Option[String] = e match {
      case Literal(v, StringType) if v != null => Some(v.toString)
      case _ => None
    }
    def orLeaves(e: Expression): Seq[Expression] = e match {
      case Or(l, r) => orLeaves(l) ++ orLeaves(r)
      case other    => Seq(other)
    }
    conjuncts.flatMap {
      case In(a: AttributeReference, vs)
          if a.dataType == StringType && vs.nonEmpty &&
            vs.forall(strLit(_).isDefined) =>
        Some(a.name -> vs.flatMap(strLit))
      case InSet(a: AttributeReference, hset)
          if a.dataType == StringType && hset.nonEmpty && !hset.contains(null) =>
        Some(a.name -> hset.toSeq.map(_.toString))
      case o @ Or(_, _) =>
        val eqs = orLeaves(o).map {
          case EqualTo(a: AttributeReference, l: Literal)
              if a.dataType == StringType => strLit(l).map(a.name -> _)
          case EqualTo(l: Literal, a: AttributeReference)
              if a.dataType == StringType => strLit(l).map(a.name -> _)
          // `<=>` with a non-null literal — same admission as EqualTo
          case EqualNullSafe(a: AttributeReference, l: Literal)
              if a.dataType == StringType => strLit(l).map(a.name -> _)
          case EqualNullSafe(l: Literal, a: AttributeReference)
              if a.dataType == StringType => strLit(l).map(a.name -> _)
          case _ => None
        }
        if (eqs.forall(_.isDefined) &&
            eqs.flatten.map(_._1).distinct.size == 1)
          Some(eqs.flatten.head._1 -> eqs.flatten.map(_._2))
        else None
      case _ => None
    }
  }

  /** Per-attribute [lo, hi] from numeric comparisons with literals —
    * inclusive bounds (widening is sound: it only admits more segments). */
  private def collectNumericBounds(
      conjuncts: Seq[Expression]): Seq[(String, Double, Double)] = {
    def num(l: Literal): Option[Double] = l.value match {
      case null      => None
      case n: Number => Some(n.doubleValue())
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _         => None
    }
    def numericAttr(e: Expression): Option[String] = e match {
      case a: AttributeReference if a.dataType.isInstanceOf[NumericType] => Some(a.name)
      case _ => None
    }
    val bounds = scala.collection.mutable.Map.empty[String, (Double, Double)]
    def tighten(name: String, lo: Double, hi: Double): Unit = {
      val (clo, chi) = bounds.getOrElse(name,
        (Double.NegativeInfinity, Double.PositiveInfinity))
      bounds(name) = (math.max(clo, lo), math.min(chi, hi))
    }
    conjuncts.foreach {
      case EqualTo(e, l: Literal) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, v, v)
      case EqualTo(l: Literal, e) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, v, v)
      case GreaterThanOrEqual(e, l: Literal) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, v, Double.PositiveInfinity)
      case GreaterThan(e, l: Literal) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, v, Double.PositiveInfinity)
      case LessThanOrEqual(e, l: Literal) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, Double.NegativeInfinity, v)
      case LessThan(e, l: Literal) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, Double.NegativeInfinity, v)
      case GreaterThanOrEqual(l: Literal, e) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, Double.NegativeInfinity, v)
      case GreaterThan(l: Literal, e) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, Double.NegativeInfinity, v)
      case LessThanOrEqual(l: Literal, e) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, v, Double.PositiveInfinity)
      case LessThan(l: Literal, e) =>
        for (a <- numericAttr(e); v <- num(l)) tighten(a, v, Double.PositiveInfinity)
      case _ => ()
    }
    bounds.toSeq.map { case (n, (lo, hi)) => (n, lo, hi) }
  }
}
