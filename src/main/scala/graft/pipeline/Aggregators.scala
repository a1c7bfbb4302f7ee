package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.config.AggregatorSpec

/** Maps reference aggregator declarations (metricsSpec — SURVEY §2.4, upstream
  * serialized by druid/DruidBeamMaker.scala#taskBytes) to native Spark
  * aggregate Columns. All are `org.apache.spark.sql.functions` built-ins →
  * whole-stage codegen'd, partial+final split by HashAggregateExec for free —
  * no UDAFs in the hot path.
  */
object Aggregators {

  /** Exact-name reference (join-prefixed fields carry dots) — [[Cols]]. */
  private def col(name: String): Column = Cols.exact(name)

  /** Rewrite references to the event-time column `from` inside aggregators
    * (filtered-agg filter trees — full-DSL filterSpec, legacy
    * dimension==value pair, nested delegates — AND the aggregator's own
    * `fieldName`/`fields` inputs) to `to`. The aggregation cores overwrite
    * the time column with its granularity bucket before aggregating but
    * keep the raw value under [[Pipeline.RawTsCol]]; Druid evaluates BOTH
    * filtered-agg filters and aggregator inputs against the RAW row, so a
    * `longMax(fieldName=__time)` must read the preserved copy, not the
    * bucket start. (NativeSqlFuzzSpec regression for the filter half: an
    * interval-filtered agg under granularity day/all silently matched
    * nothing; review finding r7 for the input half.) */
  def remapFilterTime(spec: AggregatorSpec, from: String,
      to: String): AggregatorSpec = {
    val delegated = spec.aggregator match {
      case Some(d) => spec.copy(aggregator = Some(remapFilterTime(d, from, to)))
      case scala.None => spec
    }
    val inputs = delegated.copy(
      fieldName = delegated.fieldName.map(f => if (f == from) to else f),
      fields = delegated.fields.map(f => if (f == from) to else f))
    if (spec.aggType != "filtered") inputs
    else inputs.copy(
      filterSpec = inputs.filterSpec.map(Filters.renameColumn(_, from, to)),
      filterJson = inputs.filterJson.map(remapJsonTime(_, from, to)),
      filterDimension = inputs.filterDimension.map(d =>
        if (d == from) to else d))
  }

  /** JSON-tree twin of [[Filters.renameColumn]] for extraction-bearing
    * filter trees ([[AggregatorSpec.filterJson]]): rewrite every
    * `dimension`/`column` reference to `from` in a DEEP COPY. Expression
    * nodes whose text mentions `from` get the same loud rejection as the
    * parsed path — a silent stale reference would read the bucketed time. */
  private def remapJsonTime(n: com.fasterxml.jackson.databind.JsonNode,
      from: String, to: String): com.fasterxml.jackson.databind.JsonNode = {
    val copy = n.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
    def walk(x: com.fasterxml.jackson.databind.JsonNode): Unit = x match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        for (k <- Seq("dimension", "column"))
          if (o.hasNonNull(k) && o.get(k).isTextual && o.get(k).asText == from)
            o.put(k, to)
        // precise identifier check, same extraction the parsed path's
        // Filters.dimensions uses — a column merely CONTAINING the text
        // '$from' (or the literal inside a string constant) must not trip
        // the rejection (review finding r7)
        if (o.hasNonNull("expression") && o.get("expression").isTextual)
          require(!Filters.dimensions(
              graft.config.ExpressionFilter(o.get("expression").asText))
            .contains(from),
            s"an expression filter reading '$from' cannot be used where " +
              s"'$from' is rewritten (filtered aggregators under a " +
              "bucketing granularity); reference the raw time another way")
        // extractionFn subtrees carry no column refs; field/fields do
        o.properties.forEach(e => walk(e.getValue))
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        a.forEach(walk)
      case _ => ()
    }
    walk(copy)
    copy
  }

  def toColumn(spec: AggregatorSpec): Column = toColumn(spec, scala.None)

  /** `extractionFilter`: query-path compiler for extraction-bearing filter
    * JSON ([[AggregatorSpec.filterJson]] — DruidQueryCompiler.filterColumn).
    * Ingest callers leave it None and get a loud error if such a filter
    * slips past the LOAD-time guard. */
  def toColumn(spec: AggregatorSpec,
      extractionFilter: Option[com.fasterxml.jackson.databind.JsonNode => Column])
      : Column = spec.aggType match {
    case "count"     => count(lit(1)).as(spec.name)
    case "longSum"   => sum(field(spec)).cast(LongType).as(spec.name)
    case "doubleSum" => sum(field(spec).cast(DoubleType)).as(spec.name)
    case "longMin"   => min(field(spec)).cast(LongType).as(spec.name)
    case "longMax"   => max(field(spec)).cast(LongType).as(spec.name)
    case "doubleMin" => min(field(spec).cast(DoubleType)).as(spec.name)
    case "doubleMax" => max(field(spec).cast(DoubleType)).as(spec.name)
    // HLL sketch: mergeable approximate distinct (upstream `hyperUnique` /
    // `cardinality`). Exact variant (`exactCardinality`) exists so the DuckDB
    // oracle can hash-match; approx is the 100TB-scale path.
    // `fields` (plural) = Druid cardinality byRow: distinct dimension TUPLES
    // — the input becomes a struct, hashed as one value
    case "hyperUnique" | "cardinality" =>
      approx_count_distinct(cardinalityInput(spec)).as(spec.name)
    case "exactCardinality" => count_distinct(cardinalityInput(spec)).as(spec.name)
    // hyperUnique's mergeable-STORAGE form (Druid stores the sketch in the
    // segment, not the estimate): store partials carry the DataSketches HLL
    // binary, SegmentStore re-merges with hll_union_agg and estimates at
    // query time. Stores write hyperUnique/cardinality in this form
    // (SegmentStore.stored); one-shot queries keep approx_count_distinct.
    case "hllSketch" => hll_sketch_agg(hllInput(spec)).as(spec.name)
    // approxHistogram's mergeable-STORAGE form (Druid stores the histogram
    // sketch in the segment — SURVEY §2.4): per-batch partials carry the
    // centroid-histogram binary ([[graft.functions.HistSketch]]),
    // SegmentStore re-merges with hist_merge_agg and finalizes to quantiles
    // at query time. `accuracy` = max bins k (Druid's resolution knob).
    // Requires graft function registration (Pipeline.rollup registers).
    case "histogramSketch" =>
      call_function("hist_sketch_agg", field(spec).cast(DoubleType),
        lit(spec.accuracy.getOrElse(128))).as(spec.name)
    // thetaSketch: Druid's set-algebra sketch (distinct + intersection) in
    // its mergeable STORAGE form; input hashed from the string form like
    // hllSketch; `accuracy` = k (retained minimum hashes)
    case "thetaSketch" =>
      call_function("theta_sketch_agg", field(spec).cast(StringType),
        lit(spec.accuracy.getOrElse(4096))).as(spec.name)
    // arrayOfDoublesSketch (Druid datasketches-tuple): theta-style distinct
    // KEY sample where each retained key carries summed double metrics
    // (`fields` = metricColumns) — stored mergeable, re-merged by
    // tuple_union_agg (SegmentStore), finalized to the distinct estimate;
    // metric sums read via the ToMetricsSumEstimate post-agg
    case "arrayOfDoublesSketch" =>
      call_function("tuple_sketch_agg", field(spec).cast(StringType),
        tupleMetrics(spec),
        lit(spec.accuracy.getOrElse(graft.functions.TupleSketch.DefaultK)))
        .as(spec.name)
    case "approxHistogram" =>
      val probs = if (spec.probabilities.nonEmpty) spec.probabilities
                  else Seq(0.25, 0.5, 0.75, 0.95)
      percentile_approx(field(spec), array(probs.map(lit): _*),
        lit(spec.accuracy.getOrElse(10000))).as(spec.name)
    // Druid ANY family (string/long/doubleAny): "some value, cheapest wins"
    // — explicitly NO ordering guarantee, matching Druid; re-merges as
    // any_value of partials. No oracle (nondeterministic by contract).
    case "stringAny" => any_value(field(spec), lit(true)).as(spec.name)
    case "longAny" =>
      any_value(field(spec), lit(true)).cast(LongType).as(spec.name)
    case "doubleAny" =>
      any_value(field(spec), lit(true)).cast(DoubleType).as(spec.name)
    // doubleMean (Druid's mean aggregator): a finalized mean can't re-merge,
    // so the partial is the (sum, count) pair — re-merged by pointwise sum,
    // finalized to s/c at read (SegmentStore.mergeColumn)
    case "doubleMean" =>
      struct(sum(field(spec).cast(DoubleType)).as("s"),
        count(field(spec)).as("c")).as(spec.name)
    // frequentItems (Druid DataSketches frequent-items analog): mergeable
    // Misra-Gries heavy-hitters binary; `accuracy` = counter capacity k
    // (guarantee: items above n/(k+1) frequency always present)
    case "frequentItems" =>
      call_function("freq_sketch_agg", field(spec).cast(StringType),
        lit(spec.accuracy.getOrElse(64))).as(spec.name)
    // Druid first/last family (upstream double/long/stringFirst-Last
    // aggregators): Druid stores the (timestamp, value) PAIR in the segment
    // so partials re-merge. Here the partial IS the pair — a struct ordered
    // lexicographically by (t, v), so min/max of the struct selects the
    // earliest/latest row AND re-merges by the same min/max
    // (SegmentStore.mergeColumn). Ties on the full (t, v) pair carry the
    // same v, so the finalized output is always deterministic (Druid leaves
    // same-timestamp ties undefined). Null values don't participate.
    case "doubleFirst" => firstLast(lit(true), spec, first = true, DoubleType).as(spec.name)
    case "doubleLast"  => firstLast(lit(true), spec, first = false, DoubleType).as(spec.name)
    case "longFirst"   => firstLast(lit(true), spec, first = true, LongType).as(spec.name)
    case "longLast"    => firstLast(lit(true), spec, first = false, LongType).as(spec.name)
    case "stringFirst" => firstLast(lit(true), spec, first = true, StringType).as(spec.name)
    case "stringLast"  => firstLast(lit(true), spec, first = false, StringType).as(spec.name)
    case "filtered" =>
      val delegate = spec.aggregator.getOrElse(
        throw new IllegalArgumentException(s"filtered agg ${spec.name} lacks delegate"))
      // full DSL when present (any Druid filter wraps an aggregator);
      // legacy dimension==value pair otherwise; extraction-bearing trees
      // (filterJson) compile through the query path's filterColumn
      val cond = spec.filterJson match {
        case Some(j) => extractionFilter.getOrElse(
          throw new IllegalArgumentException(
            s"filtered agg ${spec.name}: extractionFn filters compile on " +
              "the query path only"))(j)
        case scala.None => spec.filterSpec.map(Filters.toColumn).getOrElse {
          require(spec.filterDimension.nonEmpty && spec.filterValue.nonEmpty,
            s"filtered agg ${spec.name} needs filterSpec or dimension+value")
          col(spec.filterDimension.get) === lit(spec.filterValue.get)
        }
      }
      // sum(when(cond, x)) — map-side partial filtered aggregation, no
      // separate pass over the data (SURVEY §2.4 `filtered` wrapper)
      filteredColumn(cond, delegate).as(spec.name)
    case other =>
      throw new IllegalArgumentException(s"unsupported aggregator type: $other")
  }

  private def filteredColumn(cond: Column, d: AggregatorSpec): Column = d.aggType match {
    case "count"     => count(when(cond, lit(1)))
    case "longSum"   => sum(when(cond, field(d))).cast(LongType)
    case "doubleSum" => sum(when(cond, field(d).cast(DoubleType)))
    case "longMin"   => min(when(cond, field(d))).cast(LongType)
    case "longMax"   => max(when(cond, field(d))).cast(LongType)
    case "doubleMin" => min(when(cond, field(d).cast(DoubleType)))
    case "doubleMax" => max(when(cond, field(d).cast(DoubleType)))
    case "hyperUnique" | "cardinality" =>
      approx_count_distinct(when(cond, cardinalityInput(d)))
    case "exactCardinality" => count_distinct(when(cond, cardinalityInput(d)))
    // stored-sketch forms: rows failing the predicate become nulls, which
    // every sketch agg skips — same map-side single-pass shape as the
    // numeric wrappers (Druid allows `filtered` around any aggregator)
    case "hllSketch" => hll_sketch_agg(when(cond, hllInput(d)))
    case "approxHistogram" =>
      val probs = if (d.probabilities.nonEmpty) d.probabilities
                  else Seq(0.25, 0.5, 0.75, 0.95)
      percentile_approx(when(cond, field(d)), array(probs.map(lit): _*),
        lit(d.accuracy.getOrElse(10000)))
    case "histogramSketch" =>
      call_function("hist_sketch_agg", when(cond, field(d).cast(DoubleType)),
        lit(d.accuracy.getOrElse(128)))
    case "thetaSketch" =>
      call_function("theta_sketch_agg", when(cond, field(d).cast(StringType)),
        lit(d.accuracy.getOrElse(4096)))
    case "arrayOfDoublesSketch" =>
      call_function("tuple_sketch_agg", when(cond, field(d).cast(StringType)),
        tupleMetrics(d),
        lit(d.accuracy.getOrElse(graft.functions.TupleSketch.DefaultK)))
    case "frequentItems" =>
      call_function("freq_sketch_agg", when(cond, field(d).cast(StringType)),
        lit(d.accuracy.getOrElse(64)))
    case "doubleMean" =>
      struct(sum(when(cond, field(d).cast(DoubleType))).as("s"),
        count(when(cond, field(d))).as("c"))
    case "stringAny" => any_value(when(cond, field(d)), lit(true))
    case "longAny"   => any_value(when(cond, field(d)), lit(true)).cast(LongType)
    case "doubleAny" => any_value(when(cond, field(d)), lit(true)).cast(DoubleType)
    case "doubleFirst" => firstLast(cond, d, first = true, DoubleType)
    case "doubleLast"  => firstLast(cond, d, first = false, DoubleType)
    case "longFirst"   => firstLast(cond, d, first = true, LongType)
    case "longLast"    => firstLast(cond, d, first = false, LongType)
    case "stringFirst" => firstLast(cond, d, first = true, StringType)
    case "stringLast"  => firstLast(cond, d, first = false, StringType)
    case other =>
      throw new IllegalArgumentException(s"filtered wrapper unsupported for: $other")
  }

  /** (t, v)-struct partial for the first/last family; `cond` is the
    * `filtered` wrapper predicate (lit(true) for the bare forms). Unnamed —
    * callers alias. */
  private def firstLast(cond: Column, spec: AggregatorSpec, first: Boolean,
      t: org.apache.spark.sql.types.DataType): Column = {
    val pair = when(cond && field(spec).isNotNull,
      struct(col(Pipeline.RawTsCol).as("t"), field(spec).cast(t).as("v")))
    if (first) min(pair) else max(pair)
  }

  /** Druid postAggregations → Column over metric columns (applied after
    * rollup/merge — [[Pipeline.postAggregate]] over FINALIZED metrics, and
    * [[graft.queries.DruidQueryCompiler]] over UNFINALIZED aggregator
    * output, where `aggTypes` maps aggregator name → aggType so the
    * finalizer post-aggs know what they are reading). Division follows
    * Druid: `/` yields 0 on a zero divisor; `quotient` is raw floating
    * division. Pure Column arithmetic — codegen'd, no extra pass; the
    * sketch finalizers evaluate the same expressions the SQL dialect
    * registers (theta_estimate / hist_quantiles / hll_sketch_estimate).
    */
  def postAggColumn(p: graft.config.PostAggregatorSpec): Column =
    postAggColumn(p, Map.empty)

  def postAggColumn(p: graft.config.PostAggregatorSpec,
      aggTypes: Map[String, String]): Column = {
    import org.apache.spark.sql.graft.GraftSqlBridge.{column => asCol, expression => ex}
    import graft.functions.{ThetaEstimate, ThetaSetOp, ThetaSketchUnion,
      HistQuantiles, HistRanks, HistPmf}
    // numeric consumers cast their operands; fieldAccess itself stays RAW so
    // sketch binaries / struct partials flow to the finalizer post-aggs
    def num(q: graft.config.PostAggregatorSpec): Column =
      postAggColumn(q, aggTypes).cast(DoubleType)
    def one(what: String): graft.config.PostAggregatorSpec = {
      require(p.fields.size == 1, s"$what postAgg ${p.name} needs exactly one field")
      p.fields.head
    }
    // datasketches-kll post-aggs share the quantiles family's contract —
    // normalize the KLL spellings onto the quantilesDoublesSketch cases
    // (same documented algorithm delta as the aggregator alias)
    val paType = p.paType match {
      case "KllDoublesSketchToQuantile"   => "quantilesDoublesSketchToQuantile"
      case "KllDoublesSketchToQuantiles"  => "quantilesDoublesSketchToQuantiles"
      case "KllDoublesSketchToRank"       => "quantilesDoublesSketchToRank"
      case "KllDoublesSketchToCDF"        => "quantilesDoublesSketchToCDF"
      case "KllDoublesSketchToHistogram"  => "quantilesDoublesSketchToHistogram"
      case other                          => other
    }
    paType match {
      case "fieldAccess" => col(p.fieldName.getOrElse(p.name))
      // Druid's finalizingFieldAccess: read the FINALIZED value of the
      // referenced aggregator. On the compiler path (unfinalized input) the
      // aggType map picks the finalizer; on the Pipeline path metrics are
      // already finalized at read, so the map is empty and this is a plain
      // numeric access.
      case "finalizingFieldAccess" =>
        val f = p.fieldName.getOrElse(p.name)
        aggTypes.getOrElse(f, "") match {
          case "thetaSketch" => asCol(ThetaEstimate(ex(col(f))))
          case "arrayOfDoublesSketch" =>
            asCol(graft.functions.TupleEstimate(ex(col(f))))
          case "hllSketch"   => hll_sketch_estimate(col(f)).cast(DoubleType)
          case "doubleMean"  => col(f).getField("s") / col(f).getField("c")
          case "doubleFirst" | "doubleLast" | "longFirst" | "longLast" =>
            col(f).getField("v").cast(DoubleType)
          case "stringFirst" | "stringLast" => col(f).getField("v")
          case "histogramSketch" => throw new IllegalArgumentException(
            s"finalizingFieldAccess on quantiles sketch '$f' — use " +
              "quantilesDoublesSketchToQuantile(s) to extract values")
          case _ => col(f).cast(DoubleType)
        }
      // Druid `expression` post-aggregator; language = Spark SQL (the
      // transformSpec dialect delta), evaluated over finalized metrics
      case "expression" => expr(p.expression.getOrElse(
        throw new IllegalArgumentException(
          s"expression postAgg ${p.name} needs an expression")))
      case "constant" => lit(p.value.getOrElse(
        throw new IllegalArgumentException(s"constant postAgg ${p.name} needs value")))
      case "arithmetic" =>
        val cs = p.fields.map(num)
        require(cs.nonEmpty, s"arithmetic postAgg ${p.name} needs fields")
        p.fn match {
          case "+" => cs.reduce(_ + _)
          case "-" => cs.reduce(_ - _)
          case "*" => cs.reduce(_ * _)
          case "/" => cs.reduce((a, b) => when(b === 0, lit(0.0)).otherwise(a / b))
          case "quotient" => cs.reduce(_ / _)
          case other => throw new IllegalArgumentException(
            s"unsupported postAgg fn '$other' (${p.name})")
        }
      // Druid double/longGreatest/Least post-aggregators
      case "doubleGreatest" | "longGreatest" | "doubleLeast" | "longLeast" =>
        val cs = p.fields.map(num)
        require(cs.size >= 2, s"${p.paType} postAgg ${p.name} needs 2+ fields")
        val g = if (p.paType.endsWith("Greatest")) greatest(cs: _*) else least(cs: _*)
        if (p.paType.startsWith("long")) g.cast(LongType) else g
      // DataSketches theta extension: set ops yield a derived SKETCH (feeds
      // further set ops or thetaSketchEstimate — the Druid contract)
      case "thetaSketchSetOp" =>
        val cs = p.fields.map(postAggColumn(_, aggTypes))
        require(cs.size >= 2, s"thetaSketchSetOp postAgg ${p.name} needs 2+ fields")
        p.func match {
          case "UNION" => cs.reduce((a, b) => asCol(ThetaSketchUnion(ex(a), ex(b))))
          case "INTERSECT" =>
            cs.reduce((a, b) => asCol(ThetaSetOp(ex(a), ex(b), intersect = true)))
          case "NOT" =>
            cs.reduce((a, b) => asCol(ThetaSetOp(ex(a), ex(b), intersect = false)))
          case other => throw new IllegalArgumentException(
            s"thetaSketchSetOp func must be UNION/INTERSECT/NOT, got '$other' (${p.name})")
        }
      case "thetaSketchEstimate" =>
        asCol(ThetaEstimate(ex(postAggColumn(one("thetaSketchEstimate"), aggTypes))))
      // DataSketches tuple extension (arrayOfDoublesSketch) finalizers:
      // distinct estimate, retained-entry count, per-metric sum estimates,
      // and sketch-valued set ops (UNION/INTERSECT/NOT, summaries sum)
      case "arrayOfDoublesSketchToEstimate" =>
        asCol(graft.functions.TupleEstimate(
          ex(postAggColumn(one("arrayOfDoublesSketchToEstimate"), aggTypes))))
      case "arrayOfDoublesSketchToNumEntries" =>
        asCol(graft.functions.TupleNumEntries(
          ex(postAggColumn(one("arrayOfDoublesSketchToNumEntries"), aggTypes))))
      case "arrayOfDoublesSketchToMetricsSumEstimate" =>
        asCol(graft.functions.TupleMetricsSum(
          ex(postAggColumn(one("arrayOfDoublesSketchToMetricsSumEstimate"), aggTypes))))
      case "arrayOfDoublesSketchSetOp" =>
        val cs = p.fields.map(postAggColumn(_, aggTypes))
        require(cs.size >= 2,
          s"arrayOfDoublesSketchSetOp postAgg ${p.name} needs 2+ fields")
        p.func match {
          case op @ ("UNION" | "INTERSECT" | "NOT") =>
            cs.reduce((a, b) => asCol(graft.functions.TupleSetOp(ex(a), ex(b), op)))
          case other => throw new IllegalArgumentException(
            s"arrayOfDoublesSketchSetOp operation must be UNION/INTERSECT/NOT, " +
              s"got '$other' (${p.name})")
        }
      // Druid's hyperUniqueCardinality: the estimate of a hyperUnique
      // aggregator. On the query path `hyperUnique` already aggregates to
      // the estimate (approx_count_distinct); the stored `hllSketch` form
      // carries the binary — pick by declared aggType.
      case "hyperUniqueCardinality" =>
        val f = p.fieldName.getOrElse(p.name)
        aggTypes.getOrElse(f, "") match {
          case "hllSketch" => hll_sketch_estimate(col(f)).cast(DoubleType)
          case _           => col(f).cast(DoubleType)
        }
      case "HLLSketchEstimate" =>
        val in = if (p.fields.nonEmpty) postAggColumn(one("HLLSketchEstimate"), aggTypes)
                 else col(p.fieldName.getOrElse(p.name))
        hll_sketch_estimate(in).cast(DoubleType)
      case "quantilesDoublesSketchToQuantile" =>
        val fr = p.fraction.getOrElse(throw new IllegalArgumentException(
          s"quantilesDoublesSketchToQuantile postAgg ${p.name} needs fraction"))
        val sk = postAggColumn(one("quantilesDoublesSketchToQuantile"), aggTypes)
        element_at(asCol(HistQuantiles(ex(sk), ex(array(lit(fr))))), 1)
      case "quantilesDoublesSketchToQuantiles" =>
        require(p.fractions.nonEmpty, s"quantilesDoublesSketchToQuantiles postAgg " +
          s"${p.name} needs fractions")
        val sk = postAggColumn(one("quantilesDoublesSketchToQuantiles"), aggTypes)
        asCol(HistQuantiles(ex(sk), ex(array(p.fractions.map(lit): _*))))
      // ToRank: normalized INCLUSIVE rank of `value` (mass ≤ value / N) —
      // exact in the sparse regime, the centroid-mass estimate otherwise
      case "quantilesDoublesSketchToRank" =>
        val v = p.value.getOrElse(throw new IllegalArgumentException(
          s"quantilesDoublesSketchToRank postAgg ${p.name} needs value"))
        val sk = postAggColumn(one("quantilesDoublesSketchToRank"), aggTypes)
        element_at(asCol(HistRanks(ex(sk), ex(array(lit(v))))), 1)
      // ToCDF: ranks at each split point + the trailing 1.0 (DataSketches
      // getCDF shape: m splits → m+1 values)
      case "quantilesDoublesSketchToCDF" =>
        require(p.splitPoints.nonEmpty, s"quantilesDoublesSketchToCDF postAgg " +
          s"${p.name} needs splitPoints")
        val sk = postAggColumn(one("quantilesDoublesSketchToCDF"), aggTypes)
        concat(asCol(HistRanks(ex(sk), ex(array(p.splitPoints.map(lit): _*)))),
          array(lit(1.0)))
      // ToHistogram: COUNTS over the m+1 bins the splits define (getPMF
      // inclusive convention scaled by N: [min,s1], (s1,s2], …, (sm,max] —
      // reconciles with ToCDF/ToRank's mass ≤ x at every split)
      case "quantilesDoublesSketchToHistogram" =>
        require(p.splitPoints.nonEmpty, s"quantilesDoublesSketchToHistogram " +
          s"postAgg ${p.name} needs splitPoints")
        val sk = postAggColumn(one("quantilesDoublesSketchToHistogram"), aggTypes)
        asCol(HistPmf(ex(sk), ex(array(p.splitPoints.map(lit): _*))))
      case other =>
        throw new IllegalArgumentException(s"unsupported postAggregator type: $other")
    }
  }

  /** arrayOfDoublesSketch metricColumns → array<double> input (null
    * elements count 0.0 in the agg). */
  private def tupleMetrics(spec: AggregatorSpec): Column = {
    require(spec.fields.nonEmpty,
      s"arrayOfDoublesSketch ${spec.name} needs metricColumns")
    array(spec.fields.map(f => col(f).cast(DoubleType)): _*)
  }

  /** Multi-field cardinality input: struct of the fields (byRow tuple);
    * single-field falls through to the plain column. */
  private def cardinalityInput(spec: AggregatorSpec): Column =
    if (spec.fields.size > 1) struct(spec.fields.map(col): _*)
    else if (spec.fields.size == 1) col(spec.fields.head)
    else field(spec)

  /** hll_sketch_agg input, which must be int/long/string/binary: the
    * string form of the field (Druid's hyperUnique hashes the string form),
    * or for a multi-field `cardinality` the xxhash64 of the tuple. */
  private def hllInput(spec: AggregatorSpec): Column =
    if (spec.fields.size > 1) xxhash64(spec.fields.map(col): _*)
    else cardinalityInput(spec).cast(StringType)

  /** Input columns an aggregator reads (for projection / schemaless exclusion). */
  def inputFields(spec: AggregatorSpec): Seq[String] =
    spec.fieldName.toSeq ++ spec.fields ++ spec.filterDimension.toSeq ++
      spec.filterSpec.toSeq.flatMap(Filters.dimensions) ++
      spec.filterJson.toSeq.flatMap(jsonFilterDims) ++
      spec.aggregator.toSeq.flatMap(inputFields)

  /** `dimension`/`column` refs of a raw extraction-filter tree. */
  private def jsonFilterDims(
      n: com.fasterxml.jackson.databind.JsonNode): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    def walk(x: com.fasterxml.jackson.databind.JsonNode): Unit = x match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        for (k <- Seq("dimension", "column"))
          if (o.hasNonNull(k) && o.get(k).isTextual) out += o.get(k).asText
        o.properties.forEach(e =>
          if (e.getKey != "extractionFn") walk(e.getValue))
      case a: com.fasterxml.jackson.databind.node.ArrayNode => a.forEach(walk)
      case _ => ()
    }
    walk(n)
    out.toSeq.distinct
  }

  private def field(spec: AggregatorSpec): Column = {
    val f = spec.fieldName.getOrElse(
      throw new IllegalArgumentException(s"aggregator ${spec.name} needs fieldName"))
    // the preserved raw event time reads as epoch MILLIS — Druid's numeric
    // form of __time (a bare timestamp→long cast would yield SECONDS);
    // remapFilterTime rewrites fieldName __time → RawTsCol at every
    // aggregation core, so this is the one resolution point
    if (f == Pipeline.RawTsCol) unix_millis(col(f)) else col(f)
  }
}
