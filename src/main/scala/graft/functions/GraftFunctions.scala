package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's native Catalyst expressions and of the store's
  * segment pruner ([[graft.plans.SegmentPruneRule]]).
  *
  * Two entry points install the same functions and the same rule:
  *  - [[GraftExtensions]]: `SparkSessionExtensions` provider — enable with
  *    `spark.sql.extensions=graft.functions.GraftExtensions` so every session
  *    (incl. SQL-only users) gets them from its start.
  *  - [[GraftFunctions.register]]: imperative per-session registration into
  *    an existing session; every store read calls it.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.injections.foreach(ext.injectFunction)
    DruidSqlFunctions.injections.foreach(ext.injectFunction)
    // automatic zone-map segment pruning for plain reads of graft stores
    ext.injectOptimizerRule(s => new graft.plans.SegmentPruneRule(s))
  }
}

object GraftFunctions {

  /** LOOKUP() maps at most this many entries inline as a CreateMap literal;
    * larger registered lookups go through the broadcast-HashMap probe. */
  val LookupInlineThreshold: Int = 10000

  private[graft] val injections
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim(a, b) takes 2 arguments")
        CosineSimilarity(args(0), args(1))
      }),
    (new FunctionIdentifier("lookup"),
      new ExpressionInfo("graft.queries.Lookups", "lookup"),
      (args: Seq[Expression]) => {
        // Druid SQL LOOKUP(expr, 'name'), two regimes by registered size:
        //  - config-sized maps resolve at analysis into a map literal (same
        //    plan shape as the inline extractionFn form);
        //  - above the threshold, a broadcast-HashMap probe (LookupValue):
        //    a 1M-entry CreateMap would bloat the plan tree and every task
        //    binary by megabytes and probe O(n) per row.
        // Missing key → null either way, like upstream; the optional third
        // argument is Druid 24+'s replaceMissingValueWith literal.
        require(args.length == 2 || args.length == 3,
          "lookup(expr, 'name'[, 'replaceMissingValueWith']) takes 2 or 3 arguments")
        val name = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(s, _)
              if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"lookup name must be a string literal, got $other")
        }
        val mapping = graft.queries.Lookups.get(name).getOrElse(
          throw new IllegalArgumentException(
            s"lookup '$name' is not registered " +
              s"(registered: ${graft.queries.Lookups.names.mkString(",")})"))
        import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, CreateMap, ElementAt, Literal}
        val key = Cast(args(0), org.apache.spark.sql.types.StringType)
        val looked = if (mapping.size > LookupInlineThreshold) {
          val spark = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
            throw new IllegalStateException("lookup() needs an active SparkSession"))
          val (version, bc) = graft.queries.Lookups.broadcastFor(spark, name)
          LookupValue(key, name, version, bc)
        } else {
          val entries = mapping.toSeq.sortBy { case (k, _) => k }
            .flatMap { case (k, v) => Seq(Literal(k), Literal(v)) }
          ElementAt(CreateMap(entries), key, scala.None, failOnError = false)
        }
        if (args.length == 2) looked
        else args(2) match {
          case lit @ Literal(s, _) if s != null => Coalesce(Seq(looked, lit))
          case other => throw new IllegalArgumentException(
            s"lookup replaceMissingValueWith must be a non-null literal, got $other")
        }
      }),
    (new FunctionIdentifier("adc_distance"),
      new ExpressionInfo(classOf[AdcDistance].getName, "adc_distance"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "adc_distance(codes, table) takes 2 arguments")
        AdcDistance(args(0), args(1))
      }),
    (new FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "pq_encode(vec, codebook) takes 2 arguments")
        PqEncode(args(0), args(1))
      }),
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash64(text) takes 1 argument")
        SimHash64(args(0))
      }),
    (new FunctionIdentifier("gear_chunks"),
      new ExpressionInfo(classOf[GearChunks].getName, "gear_chunks"),
      (args: Seq[Expression]) => {
        require(args.length >= 1 && args.length <= 4,
          "gear_chunks(text[, mask[, minLen, maxLen]]) takes 1-4 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"gear_chunks $what must be an integer literal, got $other")
        }
        val mask = if (args.length >= 2) intLit(args(1), "mask") else 64
        val (mn, mx) =
          if (args.length == 4) (intLit(args(2), "minLen"), intLit(args(3), "maxLen"))
          else if (args.length == 3) throw new IllegalArgumentException(
            "gear_chunks: minLen and maxLen must be given together")
          else (0, 0)
        GearChunks(args(0), mask, mn, mx)
      }),
    (new FunctionIdentifier("repetition_signals"),
      new ExpressionInfo(classOf[RepetitionSignals].getName, "repetition_signals"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "repetition_signals(words) takes 1 argument")
        RepetitionSignals(args(0))
      }),
    (new FunctionIdentifier("media_header"),
      new ExpressionInfo(classOf[MediaHeader].getName, "media_header"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "media_header(bytes) takes 1 argument")
        MediaHeader(args(0))
      }),
    (new FunctionIdentifier("synth_wav"),
      new ExpressionInfo(classOf[SynthWav].getName, "synth_wav"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "synth_wav(pcm, rate, channels, bits) takes 4 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"synth_wav $what must be an int literal, got $other")
        }
        SynthWav(args(0), intLit(args(1), "rate"),
          intLit(args(2), "channels"), intLit(args(3), "bits"))
      }),
    (new FunctionIdentifier("synth_bmp"),
      new ExpressionInfo(classOf[SynthImage].getName, "synth_bmp"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "synth_bmp(width, height) takes 2 arguments")
        SynthImage(args(0), args(1), kind = "bmp")
      }),
    (new FunctionIdentifier("synth_png"),
      new ExpressionInfo(classOf[SynthImage].getName, "synth_png"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "synth_png(width, height) takes 2 arguments")
        SynthImage(args(0), args(1), kind = "png")
      }),
    (new FunctionIdentifier("synth_jpeg"),
      new ExpressionInfo(classOf[SynthImage].getName, "synth_jpeg"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "synth_jpeg(width, height) takes 2 arguments")
        SynthImage(args(0), args(1), kind = "jpeg")
      }),
    (new FunctionIdentifier("synth_flac"),
      new ExpressionInfo(classOf[SynthFlac].getName, "synth_flac"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "synth_flac(samples, rate, channels, bits) takes 4 arguments")
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"synth_flac $what must be an int literal, got $other")
        }
        SynthFlac(args(0), intLit(args(1), "rate"),
          intLit(args(2), "channels"), intLit(args(3), "bits"))
      }),
    (new FunctionIdentifier("synth_mp3"),
      new ExpressionInfo(classOf[SynthMp3].getName, "synth_mp3"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "synth_mp3(frames) takes 1 argument")
        SynthMp3(args(0))
      }),
    (new FunctionIdentifier("synth_mp4"),
      new ExpressionInfo(classOf[SynthMp4].getName, "synth_mp4"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "synth_mp4(width, height, duration_ms) takes 3 arguments")
        SynthMp4(args(0), args(1), args(2))
      }),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sig(shingles, k) takes 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"minhash_sig k must be an integer literal, got $other")
        }
        MinHashSig(args(0), k)
      }),
    (new FunctionIdentifier("hist_sketch_agg"),
      new ExpressionInfo(classOf[HistSketchAgg].getName, "hist_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hist_sketch_agg(value, k) takes 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"hist_sketch_agg k must be an integer literal, got $other")
        }
        HistSketchAgg(args(0), k)
      }),
    (new FunctionIdentifier("hist_merge_agg"),
      new ExpressionInfo(classOf[HistSketchMergeAgg].getName, "hist_merge_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "hist_merge_agg(sketch) takes 1 argument")
        HistSketchMergeAgg(args(0))
      }),
    (new FunctionIdentifier("hist_quantiles"),
      new ExpressionInfo(classOf[HistQuantiles].getName, "hist_quantiles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hist_quantiles(sketch, probs) takes 2 arguments")
        HistQuantiles(args(0), args(1))
      }),
    (new FunctionIdentifier("hist_ranks"),
      new ExpressionInfo(classOf[HistRanks].getName, "hist_ranks"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hist_ranks(sketch, xs) takes 2 arguments")
        HistRanks(args(0), args(1))
      }),
    (new FunctionIdentifier("hist_pmf"),
      new ExpressionInfo(classOf[HistPmf].getName, "hist_pmf"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "hist_pmf(sketch, splits) takes 2 arguments")
        HistPmf(args(0), args(1))
      }),
    (new FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "theta_sketch_agg(value, k) takes 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"theta_sketch_agg k must be an integer literal, got $other")
        }
        ThetaSketchAgg(args(0), k)
      }),
    (new FunctionIdentifier("theta_union_agg"),
      new ExpressionInfo(classOf[ThetaUnionAgg].getName, "theta_union_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_union_agg(sketch) takes 1 argument")
        ThetaUnionAgg(args(0))
      }),
    (new FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "theta_estimate(sketch) takes 1 argument")
        ThetaEstimate(args(0))
      }),
    (new FunctionIdentifier("theta_intersect"),
      new ExpressionInfo(classOf[ThetaIntersect].getName, "theta_intersect"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "theta_intersect(a, b) takes 2 arguments")
        ThetaIntersect(args(0), args(1))
      }),
    (new FunctionIdentifier("theta_difference"),
      new ExpressionInfo(classOf[ThetaDifference].getName, "theta_difference"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "theta_difference(a, b) takes 2 arguments")
        ThetaDifference(args(0), args(1))
      }),
    (new FunctionIdentifier("alphanumeric_key"),
      new ExpressionInfo(classOf[AlphanumericKey].getName, "alphanumeric_key"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "alphanumeric_key(s) takes 1 argument")
        AlphanumericKey(args(0))
      }),
    (new FunctionIdentifier("tuple_sketch_agg"),
      new ExpressionInfo(classOf[TupleSketchAgg].getName, "tuple_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "tuple_sketch_agg(key, metrics, k) takes 3 arguments")
        val k = args(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"tuple_sketch_agg k must be an integer literal, got $other")
        }
        TupleSketchAgg(args(0), args(1), k)
      }),
    (new FunctionIdentifier("tuple_union_agg"),
      new ExpressionInfo(classOf[TupleUnionAgg].getName, "tuple_union_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "tuple_union_agg(sketch) takes 1 argument")
        TupleUnionAgg(args(0))
      }),
    (new FunctionIdentifier("tuple_estimate"),
      new ExpressionInfo(classOf[TupleEstimate].getName, "tuple_estimate"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "tuple_estimate(sketch) takes 1 argument")
        TupleEstimate(args(0))
      }),
    (new FunctionIdentifier("tuple_num_entries"),
      new ExpressionInfo(classOf[TupleNumEntries].getName, "tuple_num_entries"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "tuple_num_entries(sketch) takes 1 argument")
        TupleNumEntries(args(0))
      }),
    (new FunctionIdentifier("tuple_metrics_sum"),
      new ExpressionInfo(classOf[TupleMetricsSum].getName, "tuple_metrics_sum"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "tuple_metrics_sum(sketch) takes 1 argument")
        TupleMetricsSum(args(0))
      }),
    (new FunctionIdentifier("tuple_sketch_union"),
      new ExpressionInfo(classOf[TupleSetOp].getName, "tuple_sketch_union"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "tuple_sketch_union(a, b) takes 2 arguments")
        TupleSetOp(args(0), args(1), "UNION")
      }),
    (new FunctionIdentifier("tuple_sketch_intersect"),
      new ExpressionInfo(classOf[TupleSetOp].getName, "tuple_sketch_intersect"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "tuple_sketch_intersect(a, b) takes 2 arguments")
        TupleSetOp(args(0), args(1), "INTERSECT")
      }),
    (new FunctionIdentifier("tuple_sketch_not"),
      new ExpressionInfo(classOf[TupleSetOp].getName, "tuple_sketch_not"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "tuple_sketch_not(a, b) takes 2 arguments")
        TupleSetOp(args(0), args(1), "NOT")
      }),
    (new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomAgg].getName, "bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "bloom_agg(value, numBits, numHashes) takes 3 arguments")
        val lits = args.drop(1).map {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"bloom_agg numBits/numHashes must be integer literals, got $other")
        }
        BloomAgg(args(0), lits(0), lits(1))
      }),
    (new FunctionIdentifier("bloom_union_agg"),
      new ExpressionInfo(classOf[BloomUnionAgg].getName, "bloom_union_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "bloom_union_agg(sketch) takes 1 argument")
        BloomUnionAgg(args(0))
      }),
    (new FunctionIdentifier("freq_sketch_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "freq_sketch_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "freq_sketch_agg(item, k) takes 2 arguments")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"freq_sketch_agg k must be an integer literal, got $other")
        }
        FreqSketchAgg(args(0), k)
      }),
    (new FunctionIdentifier("freq_merge_agg"),
      new ExpressionInfo(classOf[FreqMergeAgg].getName, "freq_merge_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "freq_merge_agg(sketch) takes 1 argument")
        FreqMergeAgg(args(0))
      }),
    (new FunctionIdentifier("freq_topk"),
      new ExpressionInfo(classOf[FreqTopK].getName, "freq_topk"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "freq_topk(sketch, n) takes 2 arguments")
        FreqTopK(args(0), args(1))
      }),
    (new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bloom_might_contain(filter, value) takes 2 arguments")
        BloomMightContain(args(0), args(1))
      }))

  /** Sessions already registered — register() is called eagerly all over
    * (store reads, Verify, Bench, every spec) and each re-registration WARNs
    * ("replaced a previously registered function") into every artifact log.
    * Weak keys: a dropped session must not pin its state here. */
  private val registeredSessions =
    java.util.Collections.synchronizedSet(java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Imperative registration for sessions created without the extension —
    * graft's native expressions plus the Druid SQL dialect surface, and the
    * segment pruner as an extra optimization. Idempotent per session.
    * Same-named BUILTINS (Spark 4.1 ships its own
    * theta_sketch_agg/theta_union_agg/theta_sketch_estimate with an
    * incompatible sketch encoding) are dropped first and replaced
    * DELIBERATELY — graft's stored sketches must keep resolving to graft's
    * expressions — and dropping first keeps the replacement silent. */
  def register(spark: SparkSession): Unit = registeredSessions.synchronized {
    // the session is marked AFTER the loop completes: a concurrent first
    // caller must not proceed on a half-registered session (parallel
    // suites share one), and a mid-loop failure must not suppress retry
    if (registeredSessions.contains(spark)) return
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    (injections ++ DruidSqlFunctions.injections).foreach {
      case (ident, info, builder) =>
        registry.dropFunction(ident)
        registry.registerFunction(ident, info, builder)
    }
    // one pruner, bound to this session: a cloned session inherits its
    // parent's extra optimizations, and with them the parent's pruner
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[graft.plans.SegmentPruneRule]) :+
        new graft.plans.SegmentPruneRule(spark)
    registeredSessions.add(spark); ()
  }
}
