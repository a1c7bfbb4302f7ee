package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{GraftFunctions, TextFunctions}

/** [EXT] Training-data text pipeline (SURVEY §2.11 north star): exact dedup,
  * near-dup candidates, language-ID heuristic, quality scoring, token
  * counting, fingerprinting — over `documents` (and `events` for exact-dup
  * material, since the synthetic documents are all unique).
  *
  * Scale design: every op is a single scan + one hash shuffle on the dedup
  * key. MinHash/LSH (see [[graft.functions.MinHash]]) replaces the O(n²)
  * pairwise comparison with band-bucket joins — the only pairwise work left is
  * within buckets. The exact-jaccard query restricts to a doc_id prefix so the
  * oracle stays cheap; the MinHash path is the 100 TB route.
  */
object TextQueries {

  private val TokenPattern = TextFunctions.TokenPattern

  /** Gear-hash CDC chunking of the documents table → one (doc_id, source,
    * chunk) row per chunk, via the compiled [[graft.functions.GearChunks]]
    * expression: one codegen O(L) pass per document. (The original
    * higher-order-function formulation — per-char hash array + windowed
    * boundary filter + per-chunk substr — was CodegenFallback interpreted
    * per element and dominated every scale probe; GearChunksSpec pins
    * chunk-for-chunk equality against that formulation, and the DuckDB
    * oracles of both CDC queries pin the semantics end-to-end.) Shared by
    * `cdc_chunk_stats` and `cdc_containment_pairs`. */
  private def cdcChunkFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(graft.functions.GearChunks(col("text"), mask = 64)).as("chunk"))
  }

  /** Gopher repetition keep-thresholds (Rae et al. 2021 table A1), the
    * SINGLE definition shared by the shipped native-expression query, the
    * relational parity twin below, and RepetitionParitySpec — a threshold
    * tweak that touched only one copy would silently pass the parity test
    * while shipping different keeps (review r9). Percent of total
    * non-space chars: top{2,3,4}-gram ≤ 20/18/16, dup{5..10}-gram ≤
    * 15/14/13/12/11/10. */
  private[graft] val gopherTopThresholds: Seq[(Int, Int)] =
    Seq(2 -> 20, 3 -> 18, 4 -> 16)
  private[graft] val gopherDupThresholds: Seq[(Int, Int)] =
    Seq(5 -> 15, 6 -> 14, 7 -> 13, 8 -> 12, 9 -> 11, 10 -> 10)
  private[graft] val gopherSignalNames: Seq[String] =
    gopherTopThresholds.map { case (n, _) => s"top${n}_chars" } ++
      gopherDupThresholds.map { case (n, _) => s"dup${n}_chars" }

  /** The keep predicate over the signal columns + `total_chars` — integer
    * cross-multiplication, no float boundary. */
  private[graft] def gopherKeep: org.apache.spark.sql.Column =
    (gopherTopThresholds.map { case (n, t) =>
        col(s"top${n}_chars") * 100 <= col("total_chars") * t } ++
      gopherDupThresholds.map { case (n, t) =>
        col(s"dup${n}_chars") * 100 <= col("total_chars") * t })
      .reduce(_ && _)

  /** The r8 relational formulation of the Gopher repetition battery over
    * an arbitrary (doc_id, text) frame — kept as the parity twin of the
    * [[graft.functions.RepetitionSignals]] expression the shipped query
    * uses since r9 (RepetitionParitySpec pins row-identity; the DuckDB
    * oracle independently pins the expression). Shape: materialized words
    * array → codegen'd (n ∈ 2..10) × position explode (grams by
    * slice+concat_ws, never re-split) → (doc,n,gram) count → per-(doc,n)
    * aggregates → conditional pivot; ties break to the binary-largest
    * gram via max(struct(c, gram)). */
  private[graft] def gopherRepetitionRelational(
      docsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
      .withColumn("total_chars",
        length(translate(col("text"), " ", "")).cast(LongType))
    val grams = docs
      .select(col("doc_id"), col("w"),
        explode(typedlit((2 to 10).toArray)).as("n"))
      .filter(size(col("w")) >= col("n"))
      .select(col("doc_id"), col("n"), col("w"),
        explode(sequence(lit(1), size(col("w")) - (col("n") - 1))).as("i"))
      .select(col("doc_id"), col("n"),
        concat_ws(" ", slice(col("w"), col("i"), col("n"))).as("gram"))
    val counts = grams.groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .withColumn("gc",
        length(translate(col("gram"), " ", "")).cast(LongType))
    val per = counts.groupBy(col("doc_id"), col("n"))
      .agg(
        sum(when(col("c") >= 2, col("c") * col("gc")).otherwise(0L))
          .as("dup_chars"),
        max(struct(col("c"), col("gram"))).as("top"))
      .withColumn("top_chars", col("top.c") *
        length(translate(col("top.gram"), " ", "")).cast(LongType))
    def pick(n: Int, c: String) =
      coalesce(max(when(col("n") === n, col(c))), lit(0L))
    val wide = per.groupBy(col("doc_id"))
      .agg(
        pick(2, "top_chars").as("top2_chars"),
        pick(3, "top_chars").as("top3_chars"),
        pick(4, "top_chars").as("top4_chars"),
        pick(5, "dup_chars").as("dup5_chars"),
        pick(6, "dup_chars").as("dup6_chars"),
        pick(7, "dup_chars").as("dup7_chars"),
        pick(8, "dup_chars").as("dup8_chars"),
        pick(9, "dup_chars").as("dup9_chars"),
        pick(10, "dup_chars").as("dup10_chars"))
    val joined = docs.select(col("doc_id"), col("total_chars"))
      .join(wide, Seq("doc_id"), "left")
      .select(Seq(col("doc_id"), col("total_chars")) ++
        gopherSignalNames.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    joined.withColumn("keep_repetition", gopherKeep.cast("int"))
  }

  /** Span-dedup gram key over a tokens column `l` at position `pos`
    * (shared by span_dedup_stats / span_dedup_clean — one definition,
    * review finding r8). DEFAULT (r9, was flag-gated in r8): ONE chained
    * codegen'd xxhash64 over the W element_at's — no gram string is ever
    * built, the gram-keyed shuffle ships (doc_id, pos, long). Neither
    * query's OUTPUT carries a gram string, so the hashed key is safe to
    * default (the dup_passage precedent, r8) and the DuckDB twins stay
    * unchanged — correctness is exact modulo 64-bit fingerprint
    * collisions between distinct grams (envelope: COVERAGE.md "hashed
    * shuffle keys"; at 10¹¹ gram positions, expected collisions are
    * single digits, and one collision merely marks one extra window as
    * duplicated). spark.graft.spanDedup.stringGramKey=true restores the
    * audit path that shuffles the literal 10-word gram
    * (HashKeyParitySpec pins row-identity in both directions). */
  private def spanGramKey(s: org.apache.spark.sql.SparkSession,
      w: Int): org.apache.spark.sql.Column =
    if (s.conf.getOption("spark.graft.spanDedup.stringGramKey")
        .contains("true"))
      array_join(slice(col("l"), (col("pos") + 1).cast("int"), lit(w)), " ")
    else xxhash64((1 to w).map(k =>
      element_at(col("l"), (col("pos") + k).cast("int"))): _*)

  /** (doc_id, pos, gk) for every w-gram position of `toks` (doc_id, l, n).
    *
    * Hashed default (r11): the gram keys are computed INSIDE the explode —
    * posexplode over a transform(sequence(...), xxhash64(...)) — instead of
    * exploding positions and hashing in a projection above the generate.
    * Same values, same types; measured 2.2× on dup_passage_stats (set-mode
    * A/B min-of-7: 1.41 → 0.64 s), where the old shape carried the full
    * token ARRAY through the generate output of the dominant stage. The
    * string audit arm (spark.graft.spanDedup.stringGramKey=true) keeps the
    * r9 shape — [[spanGramKey]] — and stays oracle-portable.
    */
  private def spanGrams(s: org.apache.spark.sql.SparkSession,
      toks: org.apache.spark.sql.DataFrame, w: Int): org.apache.spark.sql.DataFrame = {
    val base = toks.filter(col("n") >= w)
    if (s.conf.getOption("spark.graft.spanDedup.stringGramKey")
        .contains("true"))
      base.select(col("doc_id"), col("l"),
          explode(sequence(lit(0L), col("n") - w)).as("pos"))
        .select(col("doc_id"), col("pos"), spanGramKey(s, w).as("gk"))
    else
      base.select(col("doc_id"),
          posexplode(transform(sequence(lit(0L), col("n") - w),
            p => xxhash64((1 to w).map(k =>
              element_at(col("l"), (p + k).cast("int"))): _*)))
            .as(Seq("pos", "gk")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("gk"))
  }

  val all: Seq[QueryDef] = Seq(

    // -- exact dedup: hash-groupBy, keep min id (events has real dups) ------
    QueryDef("dedup_exact_groups", (s, dir) => {
      Tables.t(s, dir, "events")
        .groupBy(col("event_type"), col("props"))
        .agg(count(lit(1)).as("copies"), min(col("event_id")).as("keeper_id"))
        .filter(col("copies") > 1)
    },
    Some("""SELECT event_type, props, count(*) AS copies,
             CAST(min(event_id) AS BIGINT) AS keeper_id
            FROM events GROUP BY 1, 2 HAVING count(*) > 1""")),

    // -- exact dedup keep-first via window (row_number dedup idiom) ---------
    QueryDef("dedup_keep_first", (s, dir) => {
      val w = Window.partitionBy(col("event_type"), col("props")).orderBy(col("event_id"))
      Tables.t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("distinct_payloads"))
    },
    Some("""SELECT event_type, count(*) AS distinct_payloads
            FROM (SELECT event_type,
                    row_number() OVER (PARTITION BY event_type, props
                                       ORDER BY event_id) AS rn
                  FROM events) WHERE rn = 1 GROUP BY 1""")),

    // -- content fingerprint (md5) dedup over documents ---------------------
    QueryDef("doc_fingerprint", (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("source"),
          substring(md5(col("text")), 1, 16).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"), count_distinct(col("fp")).as("distinct_fp"))
    },
    Some("""SELECT source, count(*) AS docs,
             CAST(count(DISTINCT substr(md5(text), 1, 16)) AS BIGINT) AS distinct_fp
            FROM documents GROUP BY 1""")),

    // -- exact n-gram (word-set) jaccard near-dup pairs on a bounded prefix -
    QueryDef("ngram_jaccard_pairs", (s, dir) => {
      val docs = Tables.t(s, dir, "documents")
        .filter(col("doc_id") < 200)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("words"))
      val a = docs.select(col("doc_id").as("doc_a"), col("words").as("wa"))
      val b = docs.select(col("doc_id").as("doc_b"), col("words").as("wb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("jac",
          size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(array_union(col("wa"), col("wb"))))
        .filter(col("jac") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
    },
    Some("""WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
                       FROM documents WHERE doc_id < 200)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.words, b.words))), 4) AS jac
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                  len(list_distinct(list_concat(a.words, b.words))) >= 0.5""")),

    // -- EDIT-DISTANCE near-dup pairs: the character-level family (rewrites
    // /OCR noise/boilerplate tweaks that shingle-set jaccard under-scores).
    // Candidate generation is a LENGTH-BANDED equi self-join — |len(a) −
    // len(b)| is a lower bound on levenshtein, so docs can only pair within
    // ±1 bucket of width = the ED threshold; the probe side explodes to its
    // 3 candidate buckets and the join stays a hash join on the bucket id
    // (each qualifying pair matches exactly once after the doc_a < doc_b
    // orientation filter). At 100 TB this banding is the whole story: the
    // quadratic verify runs only inside ±1-bucket cells, and Spark's
    // 3-arg levenshtein threshold short-circuits the DP early (−1 when the
    // distance exceeds it), so cost per candidate is O(len·k) not O(len²).
    // Planted-dup margin measured at sf0.01: true rewrites sit at ED=4,
    // the nearest non-dup tier at ED≥39 — threshold 20 splits them.
    QueryDef("edit_distance_near_dups", (s, dir) => {
      val k = 20
      val docs = Tables.t(s, dir, "documents").filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text"), col("n_chars"),
          expr(s"n_chars div $k").as("bkt"))
      val a = docs.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("n_chars").as("la"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("jb"))
      val b = docs.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("n_chars").as("lb"), col("bkt").as("jb"))
      a.join(b, "jb")
        .filter(col("doc_a") < col("doc_b") &&
          abs(col("la") - col("lb")) <= k)
        .withColumn("ed", levenshtein(col("ta"), col("tb"), k))
        .filter(col("ed") >= 0 && col("ed") <= k)
        .select(col("doc_a"), col("doc_b"), col("ed").cast("long").as("ed"))
    },
    Some("""WITH t AS (SELECT doc_id, text, n_chars FROM documents
                       WHERE doc_id < 400)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              CAST(levenshtein(a.text, b.text) AS BIGINT) AS ed
            FROM t a JOIN t b ON a.doc_id < b.doc_id
              AND abs(a.n_chars - b.n_chars) <= 20
            WHERE levenshtein(a.text, b.text) <= 20""")),

    // -- CONTENT-DEFINED CHUNKING (FastCDC/rsync family): variable-size
    // chunk boundaries from a gear-style rolling hash, then chunk-hash
    // dedup stats — the blob-level member of the dedup family (near-
    // identical documents share most chunks even when fixed-size blocks
    // would all shift). The structural trick that keeps it relational:
    // with boundary mask 64 = 2^6, the gear recurrence h_i = 2·h_{i-1} +
    // g(c_i) satisfies h_i mod 64 = Σ_{k=0..5} 2^k·g(c_{i-k}) mod 64 —
    // the boundary test depends ONLY on the last 6 chars, so it is a
    // per-position windowed expression (no prefix scan), one Scan→Project
    // per doc at any scale. Expected chunk ≈ 64 chars; chunks partition
    // the text exactly (char conservation is part of the oracle) --------
    QueryDef("cdc_chunk_stats", (s, dir) => {
      cdcChunkFrame(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          count_distinct(md5(col("chunk"))).as("distinct_chunks"),
          sum(length(col("chunk"))).cast(LongType).as("chunk_chars"))
    },
    Some("""WITH b AS (
              SELECT doc_id, source, text, len(text) AS L,
                CASE WHEN len(text) >= 6 THEN
                  list_filter(range(6, len(text)),
                    i -> ( 32*(ascii(substr(text, i-5, 1))*167+13)
                         + 16*(ascii(substr(text, i-4, 1))*167+13)
                         +  8*(ascii(substr(text, i-3, 1))*167+13)
                         +  4*(ascii(substr(text, i-2, 1))*167+13)
                         +  2*(ascii(substr(text, i-1, 1))*167+13)
                         +    (ascii(substr(text, i,   1))*167+13)) % 64 = 0)
                ELSE [] END AS bnd
              FROM documents),
            c AS (
              SELECT doc_id, source,
                unnest(list_transform(range(1, len(bnd)+2),
                  k -> substr(text,
                         CASE WHEN k = 1 THEN 1 ELSE bnd[k-1]+1 END,
                         (CASE WHEN k = len(bnd)+1 THEN L ELSE bnd[k] END)
                         - (CASE WHEN k = 1 THEN 1 ELSE bnd[k-1]+1 END) + 1))) AS chunk
              FROM b)
            SELECT source,
              count(*) AS n_chunks,
              CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS distinct_chunks,
              CAST(sum(len(chunk)) AS BIGINT) AS chunk_chars
            FROM c GROUP BY 1""")),

    // -- CDC cross-document CONTAINMENT: doc pairs sharing content-defined
    // chunks — storage-style dedup detection. Whole-doc MinHash misses
    // partial overlap (a doc quoting half of another); chunk-hash sharing
    // finds it, because gear boundaries are content-anchored and survive
    // insertions shifting the copied region. Scale shape: distinct
    // (doc, chunk-hash) → document-frequency filter (df ∈ [2, 50]: unique
    // chunks pair with nothing, stop-chunks — boilerplate shared by
    // everything — would pair quadratically, same df-cut rationale as
    // stop-shingle removal) → equi-join on the hash → per-pair count.
    // Never all-pairs; quadratic work only inside bounded df buckets.
    QueryDef("cdc_containment_pairs", (s, dir) => {
      // cached for ONE materialization (CacheScope releases it after the
      // first action — advice r7): the chunking (the dominant cost —
      // per-char interpreted lambdas) feeds THREE plan branches (the df
      // aggregation and both self-join sides); without the cache each
      // branch re-chunks the corpus. (doc_id, hash) pairs — corpus-
      // chunk-count rows, spilling to disk at scale.
      graft.pipeline.CacheScope.withCached(cdcChunkFrame(s, dir)
        .filter(length(col("chunk")) >= 20) // trivial slivers match noise
        .select(col("doc_id"), md5(col("chunk")).as("h"))
        .distinct()
      ) { hashed =>
      val df = hashed.groupBy(col("h"))
        .agg(count(lit(1)).as("d"))
        .filter(col("d") >= 2 && col("d") <= 50)
      val ok = hashed.join(df.select(col("h")), Seq("h"))
      val a = ok.select(col("h"), col("doc_id").as("doc_a"))
      val b = ok.select(col("h"), col("doc_id").as("doc_b"))
      a.join(b, Seq("h")).filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).cast(LongType).as("shared_chunks"))
        .filter(col("shared_chunks") >= 2)
      }
    },
    Some("""WITH b AS (
              SELECT doc_id, text, len(text) AS L,
                CASE WHEN len(text) >= 6 THEN
                  list_filter(range(6, len(text)),
                    i -> ( 32*(ascii(substr(text, i-5, 1))*167+13)
                         + 16*(ascii(substr(text, i-4, 1))*167+13)
                         +  8*(ascii(substr(text, i-3, 1))*167+13)
                         +  4*(ascii(substr(text, i-2, 1))*167+13)
                         +  2*(ascii(substr(text, i-1, 1))*167+13)
                         +    (ascii(substr(text, i,   1))*167+13)) % 64 = 0)
                ELSE [] END AS bnd
              FROM documents),
            c AS (
              SELECT doc_id,
                unnest(list_transform(range(1, len(bnd)+2),
                  k -> substr(text,
                         CASE WHEN k = 1 THEN 1 ELSE bnd[k-1]+1 END,
                         (CASE WHEN k = len(bnd)+1 THEN L ELSE bnd[k] END)
                         - (CASE WHEN k = 1 THEN 1 ELSE bnd[k-1]+1 END) + 1))) AS chunk
              FROM b),
            hd AS (SELECT DISTINCT doc_id, md5(chunk) AS h FROM c
                   WHERE len(chunk) >= 20),
            keep AS (SELECT h FROM hd GROUP BY h
                     HAVING count(*) BETWEEN 2 AND 50),
            ok AS (SELECT hd.doc_id, hd.h FROM hd JOIN keep USING (h))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS shared_chunks
            FROM ok a JOIN ok b ON a.h = b.h AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2""")),

    // -- near-dup DEDUP: pair graph → connected components → survivors.
    // The oracle computes the same components with a recursive CTE, so the
    // distributed min-label propagation is hash-checked end-to-end (the
    // full dedup operator, not just pair enumeration).
    QueryDef("dedup_near_components", (s, dir) => {
      val docs = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
      val w = docs.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("words"))
      val a = w.select(col("doc_id").as("doc_a"), col("words").as("wa"))
      val b = w.select(col("doc_id").as("doc_b"), col("words").as("wb"))
      val pairs = a.join(b, col("doc_a") < col("doc_b"))
        .filter(size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))) >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      graft.functions.Dedup.assignCanonical(docs, "doc_id", pairs, "doc_a", "doc_b")
    },
    Some("""WITH RECURSIVE
            t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
                  FROM documents WHERE doc_id < 200),
            e AS (SELECT a.doc_id AS src, b.doc_id AS dst
                  FROM t a JOIN t b ON a.doc_id <> b.doc_id
                  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.words, b.words))) >= 0.5),
            reach(id, root) AS (
              SELECT doc_id, doc_id FROM t
              UNION
              SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.id)
            SELECT CAST(id AS BIGINT) AS doc_id,
                   CAST(min(root) AS BIGINT) AS canonical,
                   CAST(CASE WHEN id = min(root) THEN 1 ELSE 0 END AS INT) AS is_survivor
            FROM reach GROUP BY id""")),

    // -- END-TO-END CURATION PIPELINE: the [EXT] operators composed the way
    // a training-data pipeline uses them — language gate → quality gate →
    // near-dup dedup (connected components, survivors only) → per-language
    // token stats. The ENTIRE composition is hash-checked against one
    // DuckDB query (recursive CTE for the dedup stage).
    QueryDef("curation_pipeline", (s, dir) => {
      val padded = concat(lit(" "), col("text"), lit(" "))
      val enScore = Seq("the", "and", "of", "is")
        .map(w => when(padded.contains(s" $w "), 1).otherwise(0)).reduce(_ + _)
      val nPunct = length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))
      val base = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
        .withColumn("n_words", size(split(col("text"), " ")))
        .filter(enScore >= 1 && col("n_words") >= 30 &&
          nPunct.cast("double") / length(col("text")) < 0.1)
        .select(col("doc_id"), col("lang"), col("text"), col("n_words"))
      val w = base.select(col("doc_id"), array_distinct(split(col("text"), " ")).as("words"))
      val a = w.select(col("doc_id").as("doc_a"), col("words").as("wa"))
      val b = w.select(col("doc_id").as("doc_b"), col("words").as("wb"))
      val pairs = a.join(b, col("doc_a") < col("doc_b"))
        .filter(size(array_intersect(col("wa"), col("wb"))).cast("double") /
          size(array_union(col("wa"), col("wb"))) >= 0.5)
        .select(col("doc_a"), col("doc_b"))
      val canon = graft.functions.Dedup.assignCanonical(base, "doc_id", pairs, "doc_a", "doc_b")
      base.join(canon.filter(col("is_survivor") === 1).select(col("doc_id")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("survivors"), round(avg(col("n_words")), 4).as("avg_words"))
    },
    Some("""WITH RECURSIVE
            base AS (
              SELECT doc_id, lang, text,
                     len(string_split(text, ' ')) AS n_words,
                     list_distinct(string_split(text, ' ')) AS words
              FROM documents
              WHERE doc_id < 200
                AND (' ' || text || ' ' LIKE '% the %' OR ' ' || text || ' ' LIKE '% and %'
                     OR ' ' || text || ' ' LIKE '% of %' OR ' ' || text || ' ' LIKE '% is %')
                AND len(string_split(text, ' ')) >= 30
                AND CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                    / length(text) < 0.1),
            e AS (SELECT a.doc_id AS src, b.doc_id AS dst
                  FROM base a JOIN base b ON a.doc_id <> b.doc_id
                  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.words, b.words))) >= 0.5),
            reach(id, root) AS (
              SELECT doc_id, doc_id FROM base
              UNION
              SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.id),
            canon AS (SELECT id, min(root) AS canonical FROM reach GROUP BY id)
            SELECT b.lang, count(*) AS survivors, round(avg(b.n_words), 4) AS avg_words
            FROM base b JOIN canon c ON b.doc_id = c.id
            WHERE c.canonical = b.doc_id
            GROUP BY 1""")),

    // -- deterministic stratified sampling: per-stratum rate via key modulo
    // (reproducible across runs and engines — the training-data sampling
    // primitive; a salted xxhash64 threshold is the production form, modulo
    // here so DuckDB can mirror it exactly)
    QueryDef("stratified_sample", (s, dir) => {
      val thr = when(col("event_type") === "purchase", 10)
        .when(col("event_type") === "click", 3).otherwise(1)
      Tables.t(s, dir, "events")
        .filter(col("event_id") % 10 < thr)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("sampled"),
          round(sum(col("value")), 2).as("sampled_value"))
    },
    Some("""SELECT event_type, count(*) AS sampled,
             round(sum(value), 2) AS sampled_value
            FROM events
            WHERE event_id % 10 < (CASE event_type WHEN 'purchase' THEN 10
                                   WHEN 'click' THEN 3 ELSE 1 END)
            GROUP BY 1""")),

    // -- leakage-safe train/val/test split: the bucket is a pure function of
    // the CONTENT fingerprint (md5 → first 8 hex digits → mod 20 → 80/10/10),
    // so every exact clone of a text lands in the same split BY CONSTRUCTION
    // — train/test leakage through duplicated documents is impossible, the
    // assignment is reproducible across runs/engines (the DuckDB twin
    // recomputes the identical md5 arithmetic), and at 100 TB it is one
    // map-side expression + one (source, split) aggregation. Extend the key
    // to a near-dup cluster representative (dedup_near_components) when
    // paraphrase-level leakage matters — that variant inherits MinHash's
    // no-oracle status, so the fingerprint form is the oracled baseline. --
    QueryDef("leakage_safe_split", (s, dir) => {
      val b = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long") % 20
      val split = when(b < 16, "train").when(b < 18, "val").otherwise("test")
      Tables.t(s, dir, "documents")
        .withColumn("split", split)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("docs"),
          countDistinct(md5(col("text"))).as("distinct_texts"))
    },
    Some("""SELECT source,
             CASE WHEN b < 16 THEN 'train' WHEN b < 18 THEN 'val'
                  ELSE 'test' END AS split,
             count(*) AS docs, count(DISTINCT fp) AS distinct_texts
            FROM (SELECT source, md5(text) AS fp,
                    CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 20 AS b
                  FROM documents) t
            GROUP BY 1, 2""")),

    // -- length-distribution histogram (corpus stats primitive) -------------
    QueryDef("length_histogram", (s, dir) => {
      Tables.t(s, dir, "documents")
        .withColumn("bucket", least(floor(col("n_chars") / 200), lit(9L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    },
    Some("""SELECT CAST(least(floor(n_chars / 200), 9) AS BIGINT) AS bucket,
             count(*) AS docs,
             CAST(min(n_chars) AS INT) AS min_chars, CAST(max(n_chars) AS INT) AS max_chars
            FROM documents GROUP BY 1""")),

    // -- language-ID heuristic (stopword n-gram voting) ---------------------
    QueryDef("lang_id_heuristic", (s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val padded = concat(lit(" "), col("text"), lit(" "))
      def hits(words: Seq[String]) =
        words.map(w => when(padded.contains(s" $w "), 1).otherwise(0))
          .reduce(_ + _)
      d.withColumn("en_score", hits(Seq("the", "and", "of", "is")))
        .withColumn("guess", when(col("en_score") >= 1, "en").otherwise("other"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("docs"))
    },
    Some("""SELECT lang,
             CASE WHEN (CASE WHEN ' ' || text || ' ' LIKE '% the %' THEN 1 ELSE 0 END +
                        CASE WHEN ' ' || text || ' ' LIKE '% and %' THEN 1 ELSE 0 END +
                        CASE WHEN ' ' || text || ' ' LIKE '% of %' THEN 1 ELSE 0 END +
                        CASE WHEN ' ' || text || ' ' LIKE '% is %' THEN 1 ELSE 0 END) >= 1
                  THEN 'en' ELSE 'other' END AS guess,
             count(*) AS docs
            FROM documents GROUP BY 1, 2""")),

    // -- quality scoring: length / punct / stopword ratios ------------------
    QueryDef("text_quality_scores", (s, dir) => {
      val d = Tables.t(s, dir, "documents")
      val nWords = size(split(col("text"), " "))
      val nPunct = length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))
      d.select(col("lang"), nWords.as("n_words"), nPunct.as("n_punct"),
          col("n_chars"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          round(avg(col("n_words")), 4).as("avg_words"),
          round(avg(col("n_punct").cast("double") / col("n_chars")), 6).as("punct_ratio"),
          round(avg(col("n_chars").cast("double") / col("n_words")), 4).as("chars_per_word"))
    },
    Some("""SELECT lang, count(*) AS docs,
             round(avg(len(string_split(text, ' '))), 4) AS avg_words,
             round(avg(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                       / n_chars), 6) AS punct_ratio,
             round(avg(CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))), 4) AS chars_per_word
            FROM documents GROUP BY 1""")),

    // -- BPE-ish token counting ---------------------------------------------
    QueryDef("token_counts", (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).as("tokens"),
          col("n_chars"))
        .groupBy(col("source"))
        .agg(sum(col("tokens")).cast(LongType).as("total_tokens"),
          round(avg(col("n_chars").cast("double") / col("tokens")), 4).as("chars_per_token"))
    },
    Some(s"""SELECT source,
              CAST(sum(len(regexp_extract_all(text, '$TokenPattern'))) AS BIGINT) AS total_tokens,
              round(avg(CAST(n_chars AS DOUBLE) /
                len(regexp_extract_all(text, '$TokenPattern'))), 4) AS chars_per_token
             FROM documents GROUP BY 1""")),

    // -- whitespace token count + longest word ------------------------------
    QueryDef("word_stats", (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_words"),
          array_max(transform(split(col("text"), " "), w => length(w))).as("max_word_len"),
          element_at(split(col("text"), " "), 1).as("first_word"))
        .filter(col("doc_id") < 100)
    },
    Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_words,
             CAST(list_max(list_transform(string_split(text, ' '), w -> length(w))) AS INT)
               AS max_word_len,
             string_split(text, ' ')[1] AS first_word
            FROM documents WHERE doc_id < 100""")),

    // -- text normalization + masking (r3): the pre-dedup canonicalization
    // pass every curation pipeline runs (lowercase, collapse whitespace,
    // mask digit runs) — all codegen'd string expressions, one scan --------
    QueryDef("text_normalize_mask", (s, dir) => {
      val norm = regexp_replace(
        regexp_replace(lower(trim(col("text"))), "[0-9]+", "<num>"),
        "\\s+", " ")
      Tables.t(s, dir, "documents")
        .select(col("source"), norm.as("norm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          count_distinct(col("norm")).as("distinct_norm"),
          sum(length(col("norm"))).cast(LongType).as("norm_chars"))
    },
    Some("""SELECT source, count(*) AS docs,
             CAST(count(DISTINCT regexp_replace(regexp_replace(lower(trim(text)),
               '[0-9]+', '<num>', 'g'), '\s+', ' ', 'g')) AS BIGINT) AS distinct_norm,
             CAST(sum(length(regexp_replace(regexp_replace(lower(trim(text)),
               '[0-9]+', '<num>', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS norm_chars
            FROM documents GROUP BY 1""")),

    // -- repetition-ratio quality signals (r3, Gopher-style): duplicate-word
    // fraction and top-word fraction per doc — higher-order array lambdas,
    // no UDFs (the O(w²) top-word count is per-row over ~150-word docs) -----
    QueryDef("repetition_stats", (s, dir) => {
      val words = split(col("text"), " ")
      val total = size(words)
      val dupFrac = lit(1.0) - size(array_distinct(words)).cast("double") / total
      val topFrac = array_max(transform(array_distinct(words),
        w => size(filter(words, x => x === w)))).cast("double") / total
      Tables.t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          round(dupFrac, 6).as("dup_word_frac"),
          round(topFrac, 6).as("top_word_frac"))
    },
    Some("""SELECT doc_id,
             round(1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS dup_word_frac,
             round(CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
                 w -> len(list_filter(string_split(text, ' '), x -> x = w)))) AS DOUBLE)
               / len(string_split(text, ' ')), 6) AS top_word_frac
            FROM documents WHERE doc_id < 50""")),

    // -- Gopher repetition-signal BATTERY (r5, Rae et al. 2021 Table A1 —
    // completes the §A.1.1 repetition filters beyond repetition_stats'
    // word-level pair): top-{2,3,4}-gram char mass (occurrences of the most
    // frequent word n-gram × its non-space chars) and dup-{5..10}-gram char
    // mass (total char mass of n-grams occurring ≥2×; every occurrence
    // counted — documented delta vs positional coverage marking). All
    // numerators/denominators emitted as INTEGER char counts and the keep
    // flag is integer cross-multiplied against Gopher's thresholds
    // (top2≤.20, top3≤.18, top4≤.16, dup5..10 ≤ .15/.14/.13/.12/.11/.10),
    // so no float boundary can flip a verdict between engines. Per-row
    // array lambdas over ~100-word docs — plan = Scan→Project, no shuffle,
    // embarrassingly parallel at any corpus size. Most-frequent-gram ties
    // break to the lexicographically LARGEST gram on both sides ------------
    QueryDef("gopher_repetition_signals", (s, dir) => {
      // r9 PROMOTION to a native expression: every (doc, n, gram) count
      // key is DOC-LOCAL, so the r8 relational shape (9-way codegen'd
      // posexplode → (doc,n,gram) count → pivot) paid a ~17-of-24 s hash
      // aggregation at ×30 for counts each document can compute alone
      // (phase split in artifacts/SCALE_r9_gopher.json). RepetitionSignals is one compiled
      // O(9·L) pass per doc — prefix-summed char lengths + per-n hash-map
      // counts, exact tie-break included — with NO row fan-out and NO
      // shuffle; the projection stays inside whole-stage codegen. The r8
      // relational formulation remains below as the parity twin
      // ([[gopherRepetitionRelational]], RepetitionParitySpec) and the
      // DuckDB oracle is unchanged. ×30: 24.3 → (see SCALE_r9). The r8
      // lesson (interpreted HOFs re-evaluating per element) does NOT
      // apply: this is compiled code, linear by construction.
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("text"), split(col("text"), " ").as("w"))
        .withColumn("total_chars",
          length(translate(col("text"), " ", "")).cast(LongType))
      docs.select(col("doc_id"), col("total_chars"),
          call_function("repetition_signals", col("w")).as("r"))
        .select(col("doc_id"), col("total_chars"), col("r.*"))
        .withColumn("keep_repetition", gopherKeep.cast("int"))
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS words,
                   CAST(length(replace(text, ' ', '')) AS BIGINT) AS total_chars
                FROM documents),
            g AS (SELECT doc_id, n,
                   unnest(CASE WHEN len(words) >= n
                     THEN list_transform(range(1, len(words) - n + 2),
                          i -> array_to_string(words[i:i+n-1], ' '))
                     ELSE [] END) AS gram
                  FROM d CROSS JOIN
                    (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n)),
            c AS (SELECT doc_id, n, gram, count(*) AS c,
                   CAST(length(replace(gram, ' ', '')) AS BIGINT) AS gc
                  FROM g GROUP BY ALL),
            per AS (SELECT doc_id, n,
                   sum(CASE WHEN c >= 2 THEN c * gc ELSE 0 END) AS dup_chars,
                   max(CASE WHEN rn = 1 THEN c * gc END) AS top_chars
                  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
                          ORDER BY c DESC, gram DESC) AS rn FROM c)
                  GROUP BY 1, 2),
            p AS (SELECT doc_id,
                   CAST(coalesce(max(CASE WHEN n=2 THEN top_chars END), 0) AS BIGINT) AS top2_chars,
                   CAST(coalesce(max(CASE WHEN n=3 THEN top_chars END), 0) AS BIGINT) AS top3_chars,
                   CAST(coalesce(max(CASE WHEN n=4 THEN top_chars END), 0) AS BIGINT) AS top4_chars,
                   CAST(coalesce(max(CASE WHEN n=5 THEN dup_chars END), 0) AS BIGINT) AS dup5_chars,
                   CAST(coalesce(max(CASE WHEN n=6 THEN dup_chars END), 0) AS BIGINT) AS dup6_chars,
                   CAST(coalesce(max(CASE WHEN n=7 THEN dup_chars END), 0) AS BIGINT) AS dup7_chars,
                   CAST(coalesce(max(CASE WHEN n=8 THEN dup_chars END), 0) AS BIGINT) AS dup8_chars,
                   CAST(coalesce(max(CASE WHEN n=9 THEN dup_chars END), 0) AS BIGINT) AS dup9_chars,
                   CAST(coalesce(max(CASE WHEN n=10 THEN dup_chars END), 0) AS BIGINT) AS dup10_chars
                  FROM per GROUP BY 1)
            SELECT d.doc_id, d.total_chars,
                   top2_chars, top3_chars, top4_chars,
                   dup5_chars, dup6_chars, dup7_chars, dup8_chars,
                   dup9_chars, dup10_chars,
                   CAST(CASE WHEN top2_chars * 100 <= total_chars * 20
                          AND top3_chars * 100 <= total_chars * 18
                          AND top4_chars * 100 <= total_chars * 16
                          AND dup5_chars * 100 <= total_chars * 15
                          AND dup6_chars * 100 <= total_chars * 14
                          AND dup7_chars * 100 <= total_chars * 13
                          AND dup8_chars * 100 <= total_chars * 12
                          AND dup9_chars * 100 <= total_chars * 11
                          AND dup10_chars * 100 <= total_chars * 10
                        THEN 1 ELSE 0 END AS INT) AS keep_repetition
            FROM d JOIN p USING (doc_id)""")),

    // -- benchmark decontamination (r3): remove training docs sharing any
    // 5-word shingle with the held-out set (doc_id % 100 == 0 stands in for
    // the benchmark). The benchmark shingle set is the BROADCAST side — the
    // C4/Dolma-style decontamination join shape at any corpus size ----------
    QueryDef("decontaminate_ngram_overlap", (s, dir) => {
      // fanOut: dup-heavy corpora compress to few input partitions and would
      // serialize the 5-gram explosion on one core (Parallelism scaladoc).
      // Shingles participate ONLY as join/set keys here, so they are keyed
      // by ONE chained codegen'd xxhash64 over the 5 words (the r8
      // dup_passage_stats pattern) — no interpreted strictShingles HOF, no
      // 60 B gram strings in the explode, the broadcast set is 8 B longs.
      // Output (per-source survivor counts) is identical modulo ~n²/2⁶⁴
      // hash collisions; the DuckDB twin keeps the string form.
      val docs = graft.pipeline.Parallelism.fanOut(
        Tables.t(s, dir, "documents"), col("doc_id"),
        rowsPerPartition = 1024L) // r11 set-mode A/B: width 5 beat width 32 here (1.46 vs 1.83 s)
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
      // r11: gram hashes computed INSIDE the explode (transform lambda) —
      // the old posexplode+project shape carried the token array through
      // the generate output; measured 2.2x on dup_passage's identical stage
      val sh = toks.filter(col("n") >= 5)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), col("n") - 4), i => xxhash64(
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2),
            element_at(col("w"), i + 3),
            element_at(col("w"), i + 4)))).as("s"))
      val bench = sh.filter(col("doc_id") % 100 === 0).select(col("s")).distinct()
      val contaminated = sh.filter(col("doc_id") % 100 =!= 0)
        .join(broadcast(bench), Seq("s")).select(col("doc_id")).distinct()
      docs.filter(col("doc_id") % 100 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("survivors"))
    },
    Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
                       FROM documents),
              sh AS (SELECT doc_id, array_to_string(words[i:i+4], ' ') AS s
                     FROM w, unnest(range(1, greatest(len(words) - 3, 1))) AS t(i)),
              b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
              bad AS (SELECT DISTINCT t.doc_id FROM sh t JOIN b ON t.s = b.s
                      WHERE t.doc_id % 100 <> 0)
            SELECT source, count(*) AS survivors FROM documents d
            WHERE doc_id % 100 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM bad)
            GROUP BY 1"""), headline = true),

    // -- decontamination, Bloom-prefiltered: same answer as the exact query
    // (Bloom has NO false negatives; false positives are removed by the
    // exact verify join on the surviving sliver). The 100 TB shape: a
    // benchmark set too big to broadcast raw compresses to a ~128 KB filter
    // binary built in ONE scan (bloom_agg partials OR map-side), and the
    // training corpus never shuffles for the prefilter ----------------------
    QueryDef("decontaminate_bloom", (s, dir) => {
      GraftFunctions.register(s)
      val docs = graft.pipeline.Parallelism.fanOut(
        Tables.t(s, dir, "documents"), col("doc_id"),
        rowsPerPartition = 1024L) // r11 set-mode A/B: width 5 beat width 32 here (1.46 vs 1.83 s)
      val sh = docs.select(col("doc_id"),
        explode(graft.functions.MinHash.strictShingles(col("text"), 5)).as("s"))
      val bench = sh.filter(col("doc_id") % 100 === 0).select(col("s")).distinct()
      // the one driver-side value: a bounded 2^20-bit filter binary (~128 KB)
      val bloomBytes = bench
        .agg(call_function("bloom_agg", col("s"), lit(1 << 20), lit(7)).as("b"))
        .head().getAs[Array[Byte]](0)
      val candidates = sh.filter(col("doc_id") % 100 =!= 0)
        .filter(call_function("bloom_might_contain", lit(bloomBytes), col("s")))
      val contaminated = candidates.join(broadcast(bench), Seq("s"))
        .select(col("doc_id")).distinct()
      docs.filter(col("doc_id") % 100 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("survivors"))
    },
    Some("""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words
                       FROM documents),
              sh AS (SELECT doc_id, array_to_string(words[i:i+4], ' ') AS s
                     FROM w, unnest(range(1, greatest(len(words) - 3, 1))) AS t(i)),
              b AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
              bad AS (SELECT DISTINCT t.doc_id FROM sh t JOIN b ON t.s = b.s
                      WHERE t.doc_id % 100 <> 0)
            SELECT source, count(*) AS survivors FROM documents d
            WHERE doc_id % 100 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM bad)
            GROUP BY 1""")),

    // -- token-budget sequence packing (r3): assign docs to fixed-budget
    // training bins by running token count — contiguous streaming packing,
    // per source shard so the window parallelizes (global packing would
    // serialize; per-shard is how a 100 TB corpus actually packs) -----------
    QueryDef("sequence_packing", (s, dir) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("tokens"))
        .withColumn("bin",
          floor(coalesce(sum(col("tokens")).over(w), lit(0L)) / 2000).cast(LongType))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("docs"), sum(col("tokens")).cast(LongType).as("bin_tokens"))
    },
    Some("""SELECT source, CAST(floor(coalesce(cum_before, 0) / 2000) AS BIGINT) AS bin,
             count(*) AS docs, CAST(sum(tokens) AS BIGINT) AS bin_tokens
            FROM (SELECT source, doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
                    sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
                      PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
                  FROM documents)
            GROUP BY 1, 2""")),

    // -- overlapping passage chunking (r4): fixed 64-token windows at
    // stride 48 (16-token overlap) — the retrieval/training passage-window
    // staple. Pure per-row explode: sequence() generates chunk starts,
    // slice() takes the window — NO shuffle anywhere, so the plan is
    // embarrassingly parallel at any corpus size (chunk_id is derivable,
    // never a window function). Chunk text stays exact for the oracle; at
    // 100 TB the chunk_text column would be the downstream tokenizer's
    // input split, same shape -----------------------------------------------
    QueryDef("passage_chunking", (s, dir) => {
      Tables.t(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n_tok", size(col("toks")))
        .filter(col("n_tok") >= 1)
        .select(col("doc_id"), col("n_tok"), col("toks"),
          explode(sequence(lit(0), col("n_tok") - 1, lit(48))).as("start"))
        .select(col("doc_id"),
          (col("start") / 48).cast(LongType).as("chunk_id"),
          least(lit(64), col("n_tok") - col("start")).cast(LongType)
            .as("chunk_tokens"),
          array_join(slice(col("toks"), col("start") + 1,
            least(lit(64), col("n_tok") - col("start"))), " ").as("chunk_text"))
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS l,
                     len(string_split(text, ' ')) AS n
              FROM documents
              WHERE doc_id % 3 = 0 AND len(string_split(text, ' ')) >= 1)
            SELECT doc_id,
             CAST(u.s // 48 AS BIGINT) AS chunk_id,
             CAST(least(64, n - u.s) AS BIGINT) AS chunk_tokens,
             array_to_string(l[u.s + 1 : u.s + 64], ' ') AS chunk_text
            FROM toks, UNNEST(range(0, n, 48)) AS u(s)""")),

    // -- Gopher quality-rule battery (r4, Rae et al. 2021 §A.1.1): the full
    // document-filter rule set as per-doc booleans + an overall keep flag.
    // Every ratio test is an INTEGER cross-multiplication (3·words ≤ chars ≤
    // 10·words, 5·alpha ≥ 4·words) so Spark and the oracle can never disagree
    // on a float boundary. Pure per-row array lambdas — one scan, no shuffle
    // below the final doc_id order, 100 TB-parallel by construction ----------
    QueryDef("gopher_quality_filter", (s, dir) => {
      val words = split(col("text"), " ")
      val nWords = size(words)
      // sum of word lengths (single-space corpus: n_chars - (n_words-1))
      val wordChars = aggregate(transform(words, w => length(w)),
        lit(0), (acc, x) => acc + x)
      val nAlpha = size(filter(words, w => w.rlike("[a-z]")))
      val nStop = size(filter(
        array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
          .map(lit): _*),
        sw => array_contains(words, sw)))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), nWords.as("n_words"), wordChars.as("word_chars"),
          nAlpha.as("n_alpha"), nStop.as("n_stop"))
        .select(col("doc_id"), col("n_words"),
          (col("n_words") >= 50 && col("n_words") <= 100000).as("ok_count"),
          (col("word_chars") >= col("n_words") * 3 &&
            col("word_chars") <= col("n_words") * 10).as("ok_word_len"),
          (col("n_alpha") * 5 >= col("n_words") * 4).as("ok_alpha"),
          (col("n_stop") >= 2).as("ok_stop"))
        .withColumn("keep",
          col("ok_count") && col("ok_word_len") && col("ok_alpha") && col("ok_stop"))
    },
    Some("""WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS ws,
                     len(string_split(text, ' ')) AS n
              FROM documents)
            SELECT doc_id, CAST(n AS INT) AS n_words,
             n >= 50 AND n <= 100000 AS ok_count,
             list_sum(list_transform(ws, x -> length(x))) >= n * 3 AND
               list_sum(list_transform(ws, x -> length(x))) <= n * 10 AS ok_word_len,
             len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) * 5 >= n * 4 AS ok_alpha,
             len(list_filter(['the','be','to','of','and','that','have','with'],
               sw -> list_contains(ws, sw))) >= 2 AS ok_stop,
             (n >= 50 AND n <= 100000) AND
               (list_sum(list_transform(ws, x -> length(x))) >= n * 3 AND
                list_sum(list_transform(ws, x -> length(x))) <= n * 10) AND
               (len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) * 5 >= n * 4) AND
               (len(list_filter(['the','be','to','of','and','that','have','with'],
                 sw -> list_contains(ws, sw))) >= 2) AS keep
            FROM w""")),

    // -- PII redaction (r4): regex-mask emails and phone numbers before
    // training. The synthetic corpus carries no PII, so the query PLANTS it
    // deterministically from doc_id (same construction in the oracle), then
    // redacts — the operator under test is the regex rewrite, per-row
    // codegen'd string expressions, no shuffle anywhere. Patterns stay in the
    // char-class subset where Java regex and RE2 agree ----------------------
    QueryDef("pii_redaction", (s, dir) => {
      val emailRe = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "555-[0-9]{4}"
      val planted = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now"))
      Tables.t(s, dir, "documents")
        .select(col("doc_id"), planted.as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).as("n_email"),
          regexp_count(col("t"), lit(phoneRe)).as("n_phone"),
          regexp_replace(regexp_replace(col("t"), emailRe, "[EMAIL]"),
            phoneRe, "[PHONE]").as("redacted"))
    },
    Some("""WITH p AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id || '@example.com or 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' now' AS t
              FROM documents)
            SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT)
               AS n_email,
             CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS INT) AS n_phone,
             regexp_replace(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}',
               '[EMAIL]', 'g'), '555-[0-9]{4}', '[PHONE]', 'g') AS redacted
            FROM p""")),

    // -- DUPLICATE-PASSAGE detection (the exact-substring dedup shape of
    // Lee et al. 2021, arXiv:2107.06499, word-gram approximation): a 5-gram
    // position is "duplicated" when the same 5-gram occurs in ≥2 distinct
    // docs; per doc report the fraction of gram positions that are
    // duplicated and flag docs above 20%. Plan shape: one shuffle keyed by
    // the gram to count distinct docs (partial aggregation map-side), one
    // join back on the same key, one per-doc aggregation — no pairwise doc
    // comparison anywhere, so the cost is O(total gram positions), not
    // O(docs²). At 100 TB the gram string in the shuffle is replaced by its
    // xxhash64 fingerprint (collision odds ~n²/2⁶⁴); the string form here
    // keeps the oracle comparison exact. `flagged` compares in exact
    // integer arithmetic (dup·5 ≥ n) — no float threshold ambiguity.
    QueryDef("dup_passage_stats", (s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      // r8 rewrite, found when the noop-forced harness exposed the old
      // shape at 298 s / ×100 (count() timing had optimizer-pruned it to
      // ~0 in every earlier bench): the old plan ran count_distinct per
      // gram (an Expand + two aggs over corpus-position STRING rows) and
      // then re-shuffled the full position table to join ndocs back on the
      // ~60 B gram string. Now: (1) the gram string never rides a shuffle —
      // xxhash64 keys it immediately (engine-internal key; the oracle twin
      // groups the strings, identical output absent ~n²/2⁶⁴ collisions —
      // the line_dedup_stats r7 precedent); (2) ONE corpus shuffle
      // pre-aggregates positions to distinct (doc_id, gh) with the
      // per-doc occurrence count; (3) ndocs is a plain count over those
      // already-distinct rows (no Expand), map-side-combining down to the
      // distinct-gram table, which joins back AQE-broadcastable on
      // dup-heavy corpora; (4) the per-doc agg runs over distinct
      // (doc, gram) rows, not positions. ×100: 298 s → see SCALE_r8.
      // grams NEVER materialize as strings: strictShingles is a HOF
      // (transform+slice+concat_ws) whose lambdas run INTERPRETED — at
      // ×100 that is 27M interpreted sub-array copies + 60 B string
      // builds before the hash. Instead: codegen'd posexplode over
      // positions + ONE chained xxhash64 of the 5 words (key-equivalent
      // to hashing the joined gram: equal iff the 5 words are equal,
      // modulo 2⁻⁶⁴ chain collisions).
      // fanOut (r10): the gram branch's split+explode+hash+partial-agg is
      // the dominant stage and ran on the scan's partitioning — one row
      // group = one core (the Parallelism scaladoc pattern). The plain-doc
      // branch below keeps the raw scan: no per-row work to parallelize.
      val toksDp = graft.pipeline.Parallelism.fanOut(docs, col("doc_id"),
        rowsPerPartition = 512L) // r11 density: ~60 gram hashes per row
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("n", size(col("w")))
      // r11 (verdict r10 #7): gram hashes computed INSIDE the explode — a
      // transform(sequence(...), chained xxhash64) emits a LONG ARRAY and
      // the generate explodes 8-byte longs, where the r8 shape exploded
      // positions and carried the full token array through the generate
      // output to a hash projection above it. Values identical (same
      // chained xxhash64 per position). Set-mode A/B min-of-7:
      // 1.41 -> 0.64 s; whole distributions separate.
      val grams = toksDp.filter(col("n") >= 5)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), col("n") - 4), i => xxhash64(
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2),
            element_at(col("w"), i + 3),
            element_at(col("w"), i + 4)))).as("gh"))
      // cached for ONE materialization: perDocGram feeds byGram AND the
      // join — uncached, the corpus explode+shuffle subtree runs twice
      // (AQE does not reuse exchanges across branches; measured +85 s
      // at ×100)
      graft.pipeline.CacheScope.withCached(
        grams.groupBy(col("doc_id"), col("gh")).agg(count(lit(1)).as("c"))
      ) { perDocGram =>
      val byGram = perDocGram.groupBy(col("gh"))
        .agg(count(lit(1)).as("ndocs"))
      val per = perDocGram.join(byGram, Seq("gh"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"),
          sum(when(col("ndocs") >= 2, col("c")).otherwise(0L)).as("dup_grams"))
      docs.select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
          round(col("dup_grams").cast("double") / col("n_grams"), 6).as("dup_frac"),
          when(col("dup_grams") * 5 >= col("n_grams"), 1).otherwise(0)
            .cast("int").as("flagged"))
      }
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
                       FROM documents),
              sh AS (SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
                     FROM w, unnest(range(1, len(words) - 3)) AS t(i)
                     WHERE len(words) >= 5),
              g AS (SELECT gram, count(DISTINCT doc_id) AS ndocs
                    FROM sh GROUP BY 1),
              per AS (SELECT sh.doc_id, count(*) AS n_grams,
                        sum(CASE WHEN g.ndocs >= 2 THEN 1 ELSE 0 END) AS dup_grams
                      FROM sh JOIN g USING (gram) GROUP BY 1)
            SELECT d.doc_id,
              CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
              CAST(coalesce(per.dup_grams, 0) AS BIGINT) AS dup_grams,
              round(CAST(per.dup_grams AS DOUBLE) / per.n_grams, 6) AS dup_frac,
              CAST(CASE WHEN per.dup_grams * 5 >= per.n_grams THEN 1 ELSE 0 END
                   AS INT) AS flagged
            FROM documents d LEFT JOIN per USING (doc_id)"""),
    headline = true),

    // -- EXACT-SUBSTRING SPAN DEDUP, stats half (r7 — the REMOVAL step of
    // Lee et al. 2021, arXiv:2107.06499 §3, word-gram approximation of the
    // suffix-array pass): every 10-word gram occurrence is ranked globally
    // by (doc_id, pos); the FIRST occurrence of each duplicated gram
    // survives, every later occurrence marks its [pos, pos+10) token window
    // as duplicated; overlapping/adjacent marked windows merge into maximal
    // spans (gaps-and-islands over a running max-end), which is exactly the
    // paper's "remove all but one copy of every duplicated substring"
    // contract at word granularity. Plan shape: one shuffle keyed by the
    // gram (rank + occurrence count in ONE window pass over that key), one
    // doc-keyed window pass for the island merge, one per-doc agg — no
    // pairwise doc comparison, O(total gram positions) end to end. At
    // 100 TB the gram string in the shuffle key is replaced by its
    // xxhash64 fingerprint (the string form here keeps the oracle
    // portable), and the doc-keyed window is cheap because marked windows
    // per doc are few. Keep-first needs a GLOBAL total order on
    // occurrences — (doc_id, pos) is Lee et al.'s arbitrary-but-fixed
    // choice, and makes every column exact-integer for the oracle.
    QueryDef("span_dedup_stats", (s, dir) => {
      val W = 10
      val docs = Tables.t(s, dir, "documents")
      // fanOut (r10): the W-gram explode+hash is the dominant map stage and
      // ran on the scan's partitioning — one row group = one core; no-op on
      // multi-file corpora (Parallelism scaladoc). The final left-join
      // branch re-derives toks from the raw scan — cheap, no explode.
      val toks = graft.pipeline.Parallelism.fanOut(docs, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .withColumn("n", size(col("l")).cast("long"))
      // 100 TB shape, DEFAULT-ON since r9 (verdict r8 #4): see
      // [[spanGramKey]] — the gram-keyed shuffle ships longs; the string
      // audit path lives under spark.graft.spanDedup.stringGramKey.
      // A/B measured in SCALE_r8 (stats 25.7→15.2 s at ×100).
      val grams = spanGrams(s, toks, W)
      val byGram = Window.partitionBy(col("gk"))
      val ranked = grams
        .withColumn("rn", row_number().over(byGram.orderBy(col("doc_id"), col("pos"))))
        .withColumn("occ", count(lit(1)).over(byGram))
      val marked = ranked.filter(col("occ") >= 2 && col("rn") >= 2)
        .select(col("doc_id"), col("pos"), (col("pos") + W).as("fin"))
      // islands: a marked window starts a NEW span iff it begins past the
      // running max end of everything before it (adjacency merges too —
      // contiguous duplicated text is one removable region)
      val prev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val run = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spans = marked
        .withColumn("brk",
          when(col("pos") > coalesce(max(col("fin")).over(prev), lit(-1L)), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(run))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("s"), max(col("fin")).as("e"))
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"), sum(col("e") - col("s")).as("dup_tokens"))
      toks.select(col("doc_id"), col("n"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").as("n_tok"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n"), 5)
            .as("dup_frac"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l,
                     len(string_split(text, ' ')) AS n FROM documents),
            grams AS (SELECT doc_id, u.s AS pos,
                        array_to_string(l[u.s + 1 : u.s + 10], ' ') AS g
                      FROM toks, UNNEST(range(0, n - 10 + 1)) AS u(s)),
            ranked AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY g
                           ORDER BY doc_id, pos) AS rn,
                         count(*) OVER (PARTITION BY g) AS occ
                       FROM grams),
            marked AS (SELECT doc_id, pos, pos + 10 AS fin
                       FROM ranked WHERE occ >= 2 AND rn >= 2),
            islands AS (SELECT doc_id, pos, fin,
                          CASE WHEN pos > coalesce(max(fin) OVER (
                                 PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                               -1) THEN 1 ELSE 0 END AS brk
                        FROM marked),
            numbered AS (SELECT doc_id, pos, fin,
                           sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                             AS island
                         FROM islands),
            spans AS (SELECT doc_id, island, min(pos) AS s, max(fin) AS e
                      FROM numbered GROUP BY 1, 2),
            per_doc AS (SELECT doc_id, count(*) AS n_spans,
                          sum(e - s) AS dup_tokens
                        FROM spans GROUP BY 1)
            SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tok,
              CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
              round(CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / t.n, 5) AS dup_frac
            FROM toks t LEFT JOIN per_doc p USING (doc_id)""")),

    // -- EXACT-SUBSTRING SPAN DEDUP, rewrite half (r7; r9 REWRITE): the
    // CLEANED corpus the stats query describes — drop every token position
    // covered by a non-first duplicated-gram occurrence, reassemble the
    // remainder in order, and fingerprint it (md5 is the portable
    // cross-engine digest; a doc that is ENTIRELY duplicate text keeps its
    // row with kept_tokens=0 and a NULL digest rather than vanishing).
    // Plan shape (r9, verdict r8 #7): the same gram-keyed shuffle as the
    // stats half builds MERGED removal spans per doc (few rows per doc —
    // the stats half's gaps-and-islands pass), the span lists collect
    // per-doc (a SPAN-sized shuffle), and the kept text is rebuilt IN-ROW
    // by slicing the token array at the span complement (zip_with over
    // spans+sentinels → slice per gap → flatten) — the corpus is never
    // exploded to a per-token table. The r7→r8 shape anti-joined a
    // corpus-TOKEN-sized position table and collect_list'd every kept
    // token back through a doc-keyed shuffle: 1.8 GB shuffled both ways
    // at ×100 (69 s). Here the only corpus-sized motion is the one
    // doc-keyed join of the corpus against its span lists (AQE-broadcast
    // when dup docs are sparse; co-located under doc_id bucketing at
    // scale). A/B in SCALE_r9.
    QueryDef("span_dedup_clean", (s, dir) => {
      val W = 10
      val docs = Tables.t(s, dir, "documents")
      // fanOut measured a WASH here (r10 A/B min-of-6: 0.993 vs 1.004 s —
      // unlike the stats half, the rebuild join + md5 dominate, not the
      // gram explode); deliberately left alone
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("l"))
        .withColumn("n", size(col("l")).cast("long"))
      // same hashed-gram-key default as span_dedup_stats — see
      // [[spanGramKey]]
      val grams = spanGrams(s, toks, W)
      val byGram = Window.partitionBy(col("gk"))
      val marked = grams
        .withColumn("rn", row_number().over(byGram.orderBy(col("doc_id"), col("pos"))))
        .withColumn("occ", count(lit(1)).over(byGram))
        .filter(col("occ") >= 2 && col("rn") >= 2)
        .select(col("doc_id"), col("pos"), (col("pos") + W).as("fin"))
      // merged maximal spans — identical islands pass to span_dedup_stats
      // (the union of covered windows IS the union of merged spans)
      val prev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val run = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val spans = marked
        .withColumn("brk",
          when(col("pos") > coalesce(max(col("fin")).over(prev), lit(-1L)), 1L)
            .otherwise(0L))
        .withColumn("island", sum(col("brk")).over(run))
        .groupBy(col("doc_id"), col("island"))
        .agg(min(col("pos")).as("s"), max(col("fin")).as("e"))
      val spanLists = spans.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("sp"))
      val emptySp = array().cast("array<struct<s:bigint,e:bigint>>")
      toks.join(spanLists, Seq("doc_id"), "left")
        .withColumn("sp", coalesce(col("sp"), emptySp))
        // complement gaps: sentinels (−,0] and [n,n) bracket the sorted
        // spans; each gap (a.e, b.s) keeps slice(l, a.e+1, b.s−a.e)
        .withColumn("kept", flatten(zip_with(
          concat(array(struct(lit(0L).as("s"), lit(0L).as("e"))), col("sp")),
          concat(col("sp"), array(struct(col("n").as("s"), col("n").as("e")))),
          (a, b) => slice(col("l"), (a.getField("e") + 1).cast("int"),
            (b.getField("s") - a.getField("e")).cast("int")))))
        .select(col("doc_id"), col("n").as("n_tok"),
          size(col("kept")).cast("long").as("kept_tokens"),
          when(size(col("kept")) > 0,
            md5(array_join(col("kept"), " "))).as("clean_md5"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l,
                     len(string_split(text, ' ')) AS n FROM documents),
            grams AS (SELECT doc_id, u.s AS pos,
                        array_to_string(l[u.s + 1 : u.s + 10], ' ') AS g
                      FROM toks, UNNEST(range(0, n - 10 + 1)) AS u(s)),
            ranked AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY g
                           ORDER BY doc_id, pos) AS rn,
                         count(*) OVER (PARTITION BY g) AS occ
                       FROM grams),
            covered AS (SELECT DISTINCT doc_id, c.p AS pos
                        FROM ranked, UNNEST(range(pos, pos + 10)) AS c(p)
                        WHERE occ >= 2 AND rn >= 2),
            positions AS (SELECT doc_id, l, u.p AS pos
                          FROM toks, UNNEST(range(0, n)) AS u(p)),
            kept AS (SELECT p.doc_id, p.pos, p.l[p.pos + 1] AS w
                     FROM positions p ANTI JOIN covered c
                       ON c.doc_id = p.doc_id AND c.pos = p.pos),
            agg AS (SELECT doc_id, count(*) AS kept_tokens,
                      md5(string_agg(w, ' ' ORDER BY pos)) AS clean_md5
                    FROM kept GROUP BY 1)
            SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tok,
              CAST(coalesce(a.kept_tokens, 0) AS BIGINT) AS kept_tokens,
              a.clean_md5
            FROM toks t LEFT JOIN agg a USING (doc_id)""")),

    // -- SOURCE MIXING with temperature α=0.5 (the multilingual-pretraining
    // exponential-smoothing rule, p_s ∝ T_s^α — XLM-R / mT5 shape) plus the
    // deterministic resample realizing those weights. Determinism strategy:
    // everything that crosses the oracle boundary stays in EXACT integer
    // arithmetic — w_s = floor(sqrt(tokens_s)) (IEEE sqrt is correctly
    // rounded, so floor∘sqrt is bit-deterministic), the normalizer is an
    // INTEGER sum (order-free, unlike a float sum), per-source sampling
    // rates are integer per-mille via integer division, and the sample
    // predicate is doc_id % 1000 < rate. Plan shape: one small groupBy for
    // totals, weights table broadcast back onto the corpus — the corpus
    // itself never shuffles for the resample.
    QueryDef("source_mixing_weights", (s, dir) => {
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
      val totals = docs.groupBy(col("source"))
        .agg(sum(col("tokens")).as("tokens"))
        .withColumn("w", floor(sqrt(col("tokens").cast("double"))).cast("long"))
      val withNorm = totals
        .crossJoin(broadcast(totals.agg(sum(col("w")).as("norm"))))
        .withColumn("weight", round(col("w").cast("double") / col("norm"), 6))
        .withColumn("rate_permille", expr("w * 1000L div norm"))
      val sampled = docs
        .join(broadcast(withNorm.select(col("source"), col("rate_permille"))),
          Seq("source"))
        .filter(col("doc_id") % 1000 < col("rate_permille"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("sampled_docs"),
          sum(col("tokens")).as("sampled_tokens"))
      withNorm.join(sampled, Seq("source"), "left")
        .select(col("source"), col("tokens"), col("weight"), col("rate_permille"),
          coalesce(col("sampled_docs"), lit(0L)).as("sampled_docs"),
          coalesce(col("sampled_tokens"), lit(0L)).as("sampled_tokens"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
                       FROM documents),
              t AS (SELECT source, CAST(sum(tokens) AS BIGINT) AS tokens,
                      CAST(floor(sqrt(CAST(sum(tokens) AS DOUBLE))) AS BIGINT) AS w
                    FROM d GROUP BY 1),
              n AS (SELECT CAST(sum(w) AS BIGINT) AS norm FROM t),
              r AS (SELECT t.source, t.tokens,
                      round(CAST(t.w AS DOUBLE) / n.norm, 6) AS weight,
                      CAST((t.w * 1000) // n.norm AS BIGINT) AS rate_permille
                    FROM t, n),
              sm AS (SELECT d.source, count(*) AS sampled_docs,
                       CAST(sum(d.tokens) AS BIGINT) AS sampled_tokens
                     FROM d JOIN r ON d.source = r.source
                     WHERE d.doc_id % 1000 < r.rate_permille GROUP BY 1)
            SELECT r.source, r.tokens, r.weight, r.rate_permille,
              CAST(coalesce(sm.sampled_docs, 0) AS BIGINT) AS sampled_docs,
              CAST(coalesce(sm.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
            FROM r LEFT JOIN sm USING (source)""")),

    // -- UNIGRAM LOG-PROBABILITY quality scores (the KenLM-proxy filter a
    // curation pipeline runs when no LM is available — CCNet uses a real
    // LM, the unigram form is its self-contained analog): corpus word
    // frequencies (one shuffle) → per-doc mean log p(w). Low scorers are
    // rare-word salad / junk; high scorers are stopword soup. The freq
    // table is vocabulary-sized — broadcast at this SF, SMJ at web scale.
    // Determinism: ln is within 1 ulp in both engines (~1e-16) and the
    // distributed mean's summation-order wobble is ~1e-13 — round(…,5)
    // sits 8 orders of magnitude above both.
    QueryDef("unigram_logprob_scores", (s, dir) => {
      // fanOut (r10): `words` is derived twice (freq build + score join)
      // and each derivation's split+explode ran on the scan's one-row-group
      // partitioning — single-core map sides (Parallelism scaladoc)
      val docs = graft.pipeline.Parallelism.fanOut(
        Tables.t(s, dir, "documents"), col("doc_id"))
      // Hashed word keys were tried and REVERTED (r11, measured): unlike
      // bigram (struct-of-strings explode) or dup_passage (token array
      // carried through the generate), unigram's explode(split(...)) is
      // already a bare string-array explode, and the corpus side never
      // rides an exchange (freq broadcasts; the doc agg partial-aggregates
      // map-side) — so hashing only ADDED an interpreted transform pass:
      // set-mode A/B min-of-7 0.430 s string vs 0.535 s hashed.
      val words = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val total = freq.agg(sum(col("c")).as("n"))
      // explicit hint (r11): freq is vocab-sized (Heaps-sublinear); without
      // the hint the planner sizes the CORPUS side from width-scaled scan
      // bytes and can build the broadcast from the exploded corpus on
      // clone-compressed inputs (the bigram ×1000 failure mode)
      words.join(broadcast(freq), Seq("w"))
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(log(col("c").cast("double") / col("n"))), 5)
            .as("mean_logprob"))
    },
    Some("""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                           FROM documents),
              freq AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
              t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq)
            SELECT doc_id, count(*) AS n_tokens,
              round(avg(ln(CAST(c AS DOUBLE) / n)), 5) AS mean_logprob
            FROM words JOIN freq USING (w), t
            GROUP BY 1"""),
    headline = true),

    // -- DSIR importance scores (r4, Xie et al. 2023 data-selection shape):
    // hashed-unigram importance weights ln(p_target/p_raw) with add-1
    // smoothing, averaged per doc. The target domain is source='src0'; the
    // bucket hash is an explicit character polynomial mod 64 written
    // identically in both engines (production would use xxhash64 — engine-
    // internal consistency is all that matters there; the oracle needs
    // cross-engine portability). Scale shape: the weight table is 64 rows
    // (broadcast), the corpus sees one explode + one broadcast join + one
    // doc-keyed agg — no corpus-sized shuffle beyond the final groupBy -----
    QueryDef("dsir_importance_scores", (s, dir) => {
      // fanOut (r10): `words` is derived twice (freq build + weight join)
      // and each explode ran single-core on the one-row-group scan
      val docs = graft.pipeline.Parallelism.fanOut(
        Tables.t(s, dir, "documents"), col("doc_id"))
      val bucket = (length(col("w")) * 31 +
        ascii(substring(col("w"), 1, 1)) * 7 +
        ascii(element_at(split(col("w"), ""), -1))) % 64
      val words = docs.select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .withColumn("b", bucket)
      val freq = words.groupBy(col("b")).agg(
        count(lit(1)).as("c_r"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("c_t"))
      val totals = freq.agg(sum(col("c_r")).as("tot_r"), sum(col("c_t")).as("tot_t"))
      val weights = freq.crossJoin(broadcast(totals))
        .select(col("b"),
          log(((col("c_t") + 1).cast("double") / (col("tot_t") + 64)) /
              ((col("c_r") + 1).cast("double") / (col("tot_r") + 64))).as("wt"))
      words.join(broadcast(weights), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(col("wt")), 5).as("dsir_score"))
    },
    Some("""WITH words AS (
              SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents),
            b AS (SELECT doc_id, source, w,
                    (length(w) * 31 + ascii(substr(w, 1, 1)) * 7 +
                     ascii(substr(w, length(w), 1))) % 64 AS b
                  FROM words),
            freq AS (SELECT b, count(*) AS c_r,
                       sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_t
                     FROM b GROUP BY 1),
            t AS (SELECT sum(c_r) AS tot_r, sum(c_t) AS tot_t FROM freq),
            wt AS (SELECT b, ln((CAST(c_t + 1 AS DOUBLE) / (tot_t + 64)) /
                                (CAST(c_r + 1 AS DOUBLE) / (tot_r + 64))) AS wt
                   FROM freq, t)
            SELECT doc_id, count(*) AS n_tokens,
              round(avg(wt), 5) AS dsir_score
            FROM b JOIN wt USING (b)
            GROUP BY 1""")),

    // -- TF-IDF keyword extraction: top-3 terms per doc. The RANKING is
    // exact-integer — (tf desc, df asc, word asc): same tf ⇒ the rarer
    // word wins, which is tf-idf's order whenever tf ties — so no float
    // comparison can flip ranks between engines; the tf·idf score itself
    // is emitted as a rounded display column. Two shuffles (doc-word tf,
    // word df) + a window per doc. The df side carries an EXPLICIT
    // broadcast hint: without it, AQE's incremental re-optimization can
    // flip the build side to whichever join input MATERIALIZES FIRST when
    // its compressed shuffle bytes clear the threshold — here the
    // 11.6M-row tf table lz4-collapses under a small vocabulary, and the
    // flip then streams the join through the vocab side's AQE-coalesced
    // SINGLE partition: one task sorts every (doc, word) pair (measured
    // at ×100: 5 s → 29 s, bimodal run-to-run by stage-completion order).
    // df is vocab-sized (Heaps-law sublinear in the corpus), the hint's
    // broadcast contract at 100 TB.
    QueryDef("tfidf_top_terms", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.t(s, dir, "documents")
      val n = docs.count() // corpus size: one scalar, exact
      // fanOut (r10): the tf explode ran on the scan's one-row-group
      // partitioning — single-core map side (Parallelism scaladoc)
      // cached for ONE materialization (r11, verdict r10 #4): tf feeds the
      // df branch AND the ranking join, and uncached the df branch
      // RE-DERIVES the full corpus explode + a second corpus-sized
      // exchange (OPTIMIZATION_r11.md change 7, ×100: the 446 MB shuffle was
      // tf-agg 158 MB + duplicate tf 119 MB + window 168 MB; AQE does not
      // reuse the exchange because the df branch prunes the count column).
      // Caching tf spends one corpus-sized spill-able write to save a full
      // corpus explode + shuffle — strictly less I/O and CPU at any scale.
      // HASHING the w key was evaluated and rejected by measurement: the
      // ranking tie-break (tf desc, df asc, w ASC) needs the term string
      // inside the window ordering anyway, and the probe shows the string
      // column is short — the hash saves no bytes on the two remaining
      // exchanges (which already ride partial-aggregated rows).
      val tfRaw = graft.pipeline.Parallelism.fanOut(docs, col("doc_id"))
        .select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      graft.pipeline.CacheScope.withCached(tfRaw) { tf =>
      val df_ = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("w").asc)
      tf.join(broadcast(df_), Seq("w"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("w").as("term"),
          col("tf"), col("df"),
          round(col("tf") * log(lit(n.toDouble) / col("df")), 5).as("score"))
      }
    },
    Some("""WITH tf AS (SELECT doc_id, w, count(*) AS tf
                        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                              FROM documents)
                        GROUP BY 1, 2),
              df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*) AS n FROM documents),
              ranked AS (SELECT tf.doc_id, tf.w, tf.tf, df.df,
                           row_number() OVER (PARTITION BY tf.doc_id
                             ORDER BY tf.tf DESC, df.df ASC, tf.w ASC) AS rank
                         FROM tf JOIN df USING (w))
            SELECT doc_id, CAST(rank AS INT) AS rank, w AS term, tf, df,
              round(tf * ln(CAST(n.n AS DOUBLE) / df), 5) AS score
            FROM ranked, n WHERE rank <= 3""")),

    // -- CCNet/RefinedWeb LINE-level dedup (r4): hash every "line" (the
    // synthetic corpus has no newlines, so a line = one disjoint 3-word
    // segment — same operator, different delimiter), count DISTINCT docs
    // per line across the corpus, and flag per-doc how much of it is
    // corpus-duplicated boilerplate. The keep rule is an integer
    // cross-multiplication (dup_lines·10 < n_lines·3 ⇔ <30% duplicated) so
    // no float boundary can flip it. Scale shape: per-row chunking, ONE
    // line-keyed shuffle (count-distinct partials map-side), one doc-keyed
    // agg — O(lines), never O(docs²); at 100 TB the shuffle key is
    // xxhash64(line) instead of the string (engine-internal hash, the
    // oracle needs the portable text key) -----------------------------------
    QueryDef("line_dedup_stats", (s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      // fanOut (r10): split+explode+slice+join ran on the scan's one-row-
      // group partitioning — single-core map side (Parallelism scaladoc)
      // Hashed line key — DEFAULT since r11 (the scale shape this query's
      // header always promised): the explode emits xxhash64(line) longs via
      // a transform over the start offsets, so (a) the generate output
      // carries no token array (the dup_passage 2.2x shape, r11) and (b)
      // the line-keyed exchange ships 8-byte longs, never line strings.
      // Output-identical modulo ~n²/2⁶⁴ collisions between distinct lines
      // (the bigram/span envelope, COVERAGE.md "hashed shuffle keys");
      // spark.graft.lineDedup.stringKey=true restores the literal-string
      // key for auditing (the DuckDB twin always groups the strings).
      val toksLd = graft.pipeline.Parallelism.fanOut(docs, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n_tok", size(col("toks")))
        .filter(col("n_tok") >= 1)
      val lines =
        if (s.conf.getOption("spark.graft.lineDedup.stringKey")
              .contains("true"))
          toksLd.select(col("doc_id"),
              col("toks"),
              explode(sequence(lit(0), col("n_tok") - 1, lit(3))).as("start"))
            .select(col("doc_id"),
              array_join(slice(col("toks"), col("start") + 1, lit(3)), " ")
                .as("line"))
        else toksLd.select(col("doc_id"),
          explode(transform(sequence(lit(0), col("n_tok") - 1, lit(3)),
            st => xxhash64(
              array_join(slice(col("toks"), st + 1, lit(3)), " ")))).as("line"))
      // one (line, doc) pre-aggregation replaces the countDistinct AND the
      // corpus-sized join of raw occurrence rows: occurrences collapse to
      // (line, doc_id, c) with map-side combine BEFORE any line-keyed
      // exchange, per-line doc counts ride a count-only window over the
      // deduped pairs, and the final doc rollup weighs by c — exactly the
      // original per-occurrence semantics (lines repeating WITHIN a doc
      // count each occurrence). ONE corpus chain: a freq-table JOIN here
      // would plan a second full scan+explode+agg of the corpus (measured
      // 4× slower at ×100 — AQE does not reuse the exchange across the
      // self-join branches), while the window re-reads the same shuffle.
      // A pathologically hot line (stopword-ish, millions of docs) makes
      // WindowExec buffer-and-spill that one partition — slow but bounded,
      // and strictly cheaper than re-deriving the corpus.
      val perDocLine = lines.groupBy(col("line"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      perDocLine
        .withColumn("n_docs",
          count(lit(1)).over(Window.partitionBy(col("line"))))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_lines"),
          sum(when(col("n_docs") >= 2, col("c")).otherwise(0L)).as("n_dup_lines"))
        .withColumn("dup_frac",
          round(col("n_dup_lines").cast("double") / col("n_lines"), 5))
        .withColumn("keep",
          (col("n_dup_lines") * 10 < col("n_lines") * 3).cast("int"))
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS l,
                     len(string_split(text, ' ')) AS n
              FROM documents WHERE len(string_split(text, ' ')) >= 1),
            lines AS (SELECT doc_id, array_to_string(l[u.s + 1 : u.s + 3], ' ') AS line
                      FROM toks, UNNEST(range(0, n, 3)) AS u(s)),
            freq AS (SELECT line, count(DISTINCT doc_id) AS n_docs
                     FROM lines GROUP BY 1),
            agg AS (SELECT doc_id, count(*) AS n_lines,
                      CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_dup_lines
                    FROM lines JOIN freq USING (line) GROUP BY 1)
            SELECT doc_id, n_lines, n_dup_lines,
              round(CAST(n_dup_lines AS DOUBLE) / n_lines, 5) AS dup_frac,
              CAST(CASE WHEN n_dup_lines * 10 < n_lines * 3 THEN 1 ELSE 0 END
                AS INT) AS keep
            FROM agg"""),
    headline = true),

    // -- near-dup survivor selection by QUALITY (r4; scan shape rebuilt
    // r10, verdict r9 #2): dedup pipelines keep the BEST document of each
    // duplicate cluster, not the lowest id — same component machinery as
    // dedup_near_components, survivor = argmax(n_chars, tie → min doc_id)
    // within the component. Ranking is exact-integer on both sides.
    // The ×300 superlinear term was SCAN MULTIPLICITY, not pair work: the
    // r9 body re-derived the filtered corpus projection for the pair
    // build, the component vertex list AND the quality join, and with the
    // probe's remapped ids defeating row-group skipping each derivation
    // was a full corpus scan (~5× wall for 3× rows, SCALE_r9_sweep300).
    // CacheScope pins ONE scan of the 200-row projection; everything
    // downstream reads the cache. The pair build stays the exact all-pairs
    // word-jaccard over the prefix — a RECORDED NEGATIVE from this round:
    // swapping it for MinHash-LSH banded candidates (8 bands × 4 rows over
    // word-set signatures) hash-mismatched the oracle at sf0.01 (146/200
    // rows), because word-set jaccard ≥ 0.5 pairs here are MODERATELY
    // similar docs, not planted clones — at j≈0.5 that banding collides
    // only ~1−(1−0.5⁴)⁸ ≈ 40% of pairs. LSH candidates are oracle-safe
    // only where qualifying pairs are near-identical (the shingle-space
    // regime minhash_near_dups measures); at 100 TB this query's candidate
    // route is that machinery at a threshold the banding actually covers.
    QueryDef("dedup_best_survivor", (s, dir) => {
      val raw = Tables.t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          array_distinct(split(col("text"), " ")).as("words"),
          col("n_chars"))
      graft.pipeline.CacheScope.withCached(raw) { docs =>
        val a = docs.select(col("doc_id").as("doc_a"), col("words").as("wa"))
        val b = docs.select(col("doc_id").as("doc_b"), col("words").as("wb"))
        val pairs = a.join(b, col("doc_a") < col("doc_b"))
          .filter(size(array_intersect(col("wa"), col("wb"))).cast("double") /
            size(array_union(col("wa"), col("wb"))) >= 0.5)
          .select(col("doc_a"), col("doc_b"))
        val comp = graft.functions.Dedup
          .assignCanonical(docs, "doc_id", pairs, "doc_a", "doc_b")
          .select(col("doc_id"), col("canonical"))
        val withQ = comp.join(docs.select(col("doc_id"), col("n_chars")),
          Seq("doc_id"))
        val byQuality = Window.partitionBy(col("canonical"))
          .orderBy(col("n_chars").desc, col("doc_id").asc)
        val best = withQ.withColumn("rn", row_number().over(byQuality))
          .filter(col("rn") === 1)
          .select(col("canonical"), col("doc_id").as("best_id"))
        withQ.join(best, Seq("canonical"))
          .select(col("doc_id"), col("canonical"), col("best_id"),
            (col("doc_id") === col("best_id")).cast("int").as("is_survivor"))
      }
    },
    Some("""WITH RECURSIVE
            t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
                  FROM documents WHERE doc_id < 200),
            e AS (SELECT a.doc_id AS src, b.doc_id AS dst
                  FROM t a JOIN t b ON a.doc_id <> b.doc_id
                  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.words, b.words))) >= 0.5),
            reach(id, root) AS (
              SELECT doc_id, doc_id FROM t
              UNION
              SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.id),
            comp AS (SELECT id AS doc_id, min(root) AS canonical
                     FROM reach GROUP BY id),
            q AS (SELECT c.doc_id, c.canonical, d.n_chars
                  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
            best AS (SELECT canonical, doc_id AS best_id,
                       row_number() OVER (PARTITION BY canonical
                         ORDER BY n_chars DESC, doc_id ASC) AS rn
                     FROM q)
            SELECT CAST(q.doc_id AS BIGINT) AS doc_id,
              CAST(q.canonical AS BIGINT) AS canonical,
              CAST(b.best_id AS BIGINT) AS best_id,
              CAST(CASE WHEN q.doc_id = b.best_id THEN 1 ELSE 0 END AS INT)
                AS is_survivor
            FROM q JOIN best b ON b.canonical = q.canonical AND b.rn = 1""")),

    // -- interpolated BIGRAM language-model score (r4): the KenLM-shaped
    // upgrade of unigram_logprob_scores — per bigram position,
    // ln(0.7·p(w2|w1) + 0.3·p(w2)), all probabilities estimated over the
    // corpus's bigram-position table so both engines see identical counts.
    // Scale shape: bigrams are per-row array ops (no window function over
    // the corpus); three count shuffles keyed by bigram/history/word +
    // joins back on the same keys; the position total broadcasts ----------
    QueryDef("bigram_logprob_scores", (s, dir) => {
      // fanOut (r10): both corpus explodes (cb build + score join) ran on
      // the scan's one-row-group partitioning — single-core map sides
      // (Parallelism scaladoc)
      val docs = graft.pipeline.Parallelism.fanOut(
        Tables.t(s, dir, "documents"), col("doc_id"))
      val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
        .withColumn("n", size(col("t")))
        .filter(col("n") >= 2)
      // ch / cu / nb derive from cb (vocab²-sized), NOT from pairs: the
      // corpus explode runs twice (cb build + final join) instead of four
      // times — the dominant cost at scale is the corpus scan, never the
      // count-table aggregation
      // cb is cached for ONE materialization (CacheScope releases it after
      // the first action — advice r7): it feeds ch, cu, nb AND the score
      // join; unpersisted, each derivation re-plans the full corpus
      // scan+explode+agg (5 scans measured in the plan dump — AQE does not
      // reuse the exchange across these branches)
      //
      // Hashed keys END TO END — DEFAULT since r9 for the score join
      // (verdict r8 #4: the ×100 lever, 55.5→28.6 s), extended r11 to the
      // cb BUILD side: the first corpus explode now emits
      // (bk, h1, h2) = (xxhash64(w1,w2), xxhash64(w1), xxhash64(w2)) longs
      // instead of two-string structs, so no bigram string ever rides a
      // generate output or an exchange (the dup_passage hash-inside-
      // explode shape, measured 2.2× there), and the whole count chain
      // (cb/ch/cu/bs) aggregates and joins on 8-byte longs. Grouping by
      // (bk, h1, h2) has exactly cb's cardinality (bk determines the
      // pair). Output-identical modulo 64-bit collisions between distinct
      // bigrams/words (~vocab⁴/2⁶⁴ odds — envelope in COVERAGE.md "hashed
      // shuffle keys"). spark.graft.bigram.stringJoinKey=true restores the
      // full literal-string chain for auditing (HashKeyParitySpec pins
      // both directions).
      if (s.conf.getOption("spark.graft.bigram.stringJoinKey").contains("true")) {
        val pairs = toks.select(col("doc_id"),
            explode(zip_with(
              slice(col("t"), lit(1), col("n") - 1),
              slice(col("t"), lit(2), col("n") - 1),
              (x, y) => struct(x.as("w1"), y.as("w2")))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        graft.pipeline.CacheScope.withCached(
          pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
        ) { cb =>
        val ch = cb.groupBy(col("w1")).agg(sum(col("cb")).as("ch"))
        val cu = cb.groupBy(col("w2")).agg(sum(col("cb")).as("cu"))
        val nb = cb.agg(sum(col("cb")).as("nb"))
        // the logprob term depends ONLY on the bigram, so it is computed
        // once per DISTINCT bigram on the count tables (AQE-broadcastable)
        // and the corpus-sized pair table joins the finished score exactly
        // ONCE — versus the naive shape where raw pairs ride through three
        // separate count joins. No pre-dedupe of pairs: when the score
        // table broadcasts (the common case — measured), a (doc, w1, w2)
        // pre-aggregation is a pure-overhead extra corpus shuffle.
        val bs0 = cb.join(ch, Seq("w1")).join(cu, Seq("w2"))
          .crossJoin(broadcast(nb))
          .select(col("w1"), col("w2"),
            log(lit(0.7) * col("cb").cast("double") / col("ch") +
              lit(0.3) * col("cu").cast("double") / col("nb")).as("term"))
        pairs.join(broadcast(bs0), Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(col("term")), 5).as("mean_logprob"))
        }
      } else {
        val hpairs = toks.select(
            explode(zip_with(
              slice(col("t"), lit(1), col("n") - 1),
              slice(col("t"), lit(2), col("n") - 1),
              (x, y) => struct(xxhash64(x, y).as("bk"),
                xxhash64(x).as("h1"), xxhash64(y).as("h2")))).as("p"))
          .select(col("p.bk").as("bk"), col("p.h1").as("h1"),
            col("p.h2").as("h2"))
        graft.pipeline.CacheScope.withCached(
          hpairs.groupBy(col("bk"), col("h1"), col("h2"))
            .agg(count(lit(1)).as("cb"))
        ) { cb =>
        val ch = cb.groupBy(col("h1")).agg(sum(col("cb")).as("ch"))
        val cu = cb.groupBy(col("h2")).agg(sum(col("cb")).as("cu"))
        val nb = cb.agg(sum(col("cb")).as("nb"))
        val bs = cb.join(ch, Seq("h1")).join(cu, Seq("h2"))
          .crossJoin(broadcast(nb))
          .select(col("bk"),
            log(lit(0.7) * col("cb").cast("double") / col("ch") +
              lit(0.3) * col("cu").cast("double") / col("nb")).as("term"))
        // EXPLICIT broadcast hint (r11): the score table is vocab²-sized
        // (Heaps-sublinear — the broadcast contract at any corpus size),
        // but the planner estimates the CORPUS side of this join from
        // column widths over the scan bytes, and the r11 longs-only
        // explode shrank that estimate below the threshold on a clone-
        // compressed corpus — Spark then built the broadcast from the
        // 500M-row exploded corpus and died on driver maxResultSize at
        // ×1000 (the tfidf r9 build-side-flip disease, fatal form). The
        // hint pins the build side to the score table, same as tfidf's df.
        toks.select(col("doc_id"),
            explode(zip_with(
              slice(col("t"), lit(1), col("n") - 1),
              slice(col("t"), lit(2), col("n") - 1),
              (x, y) => xxhash64(x, y))).as("bk"))
          .join(broadcast(bs), Seq("bk"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg(col("term")), 5).as("mean_logprob"))
        }
      }
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS l,
                     len(string_split(text, ' ')) AS n
              FROM documents WHERE len(string_split(text, ' ')) >= 2),
            p AS (SELECT doc_id, l[u.i] AS w1, l[u.i + 1] AS w2
                  FROM toks, UNNEST(range(1, n)) AS u(i)),
            cb AS (SELECT w1, w2, count(*) AS cb FROM p GROUP BY 1, 2),
            ch AS (SELECT w1, count(*) AS ch FROM p GROUP BY 1),
            cu AS (SELECT w2, count(*) AS cu FROM p GROUP BY 1),
            nb AS (SELECT count(*) AS nb FROM p)
            SELECT doc_id, count(*) AS n_bigrams,
              round(avg(ln(0.7 * CAST(cb AS DOUBLE) / ch +
                           0.3 * CAST(cu AS DOUBLE) / nb)), 5) AS mean_logprob
            FROM p JOIN cb USING (w1, w2) JOIN ch USING (w1)
                 JOIN cu USING (w2), nb
            GROUP BY 1"""),
    headline = true),

    // -- BPE pair counting (r5, Sennrich et al. 2016 — one merge round of
    // byte-pair encoding, the inner loop of tokenizer TRAINING): adjacent
    // character-pair counts weighted by corpus word frequency. The BPE
    // trick IS the scale shape: the corpus collapses to a vocabulary-sized
    // word-frequency table first (one explode + groupBy), and the pair
    // explosion runs over the VOCABULARY (≤ tens of thousands of rows at
    // any corpus size), never the corpus. Top-20 by (count desc, pair asc)
    // — exact integers, LIMIT under a total order -------------------------
    QueryDef("bpe_pair_counts", (s, dir) => {
      val words = Tables.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
        .filter(length(col("word")) >= 2)
      words
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).cast(LongType).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    },
    Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
                       FROM documents),
              f AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
              p AS (SELECT freq, unnest(list_transform(
                      range(1, length(word)),
                      i -> substr(word, i, 2))) AS pair
                    FROM f WHERE length(word) >= 2)
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
            FROM p GROUP BY 1 ORDER BY cnt DESC, pair ASC LIMIT 20""")),

    // -- FULL BPE TRAINING (r5c, Sennrich et al. 2016): the iterated merge
    // loop itself, not just one round — k=5 rounds of (pair-count argmax →
    // merge) over the vocabulary table, ordered (cnt DESC, pair ASC). The
    // dotted-sentinel representation ("low" → "·l··o··w·") turns a merge
    // into ONE plain string replace that is boundary- and overlap-safe
    // (graft.functions.Bpe), so the DuckDB twin recomputes the ENTIRE
    // training as 5 chained CTE rounds with scalar-subquery replaces —
    // verified against a reference Python BPE implementation. Scale: every
    // round touches only the vocabulary-sized table; the corpus collapsed
    // once -------------------------------------------------------------
    QueryDef("bpe_train_merges", (s, dir) => {
      import s.implicits._
      val vocab = Tables.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      graft.functions.Bpe.train(vocab, "word", "freq", 5)
        .map(m => (m.step, m.pair, m.cnt))
        .toDF("step", "pair", "cnt")
    },
    Some(s"""WITH w AS (SELECT word, count(*) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY 1),
            s0 AS (SELECT freq,
                     '·' || array_to_string(string_split(word, ''), '··') || '·' AS s
                   FROM w),
            ${BpeOracle.rounds(5)}
            SELECT * FROM (
              SELECT 1 AS step, pr AS pair, cnt FROM m1 UNION ALL
              SELECT 2, pr, cnt FROM m2 UNION ALL
              SELECT 3, pr, cnt FROM m3 UNION ALL
              SELECT 4, pr, cnt FROM m4 UNION ALL
              SELECT 5, pr, cnt FROM m5) t"""), headline = false),

    // -- BPE ENCODING with the trained merges: per-doc encoded token count
    // (the number every mixture/packing decision needs). Spark trains on
    // the driver (5 tiny vocabulary jobs), then encodes the corpus as 5
    // chained codegen'd replaces per word; the DuckDB twin re-trains via
    // the same CTE chain and applies the merges with scalar subqueries —
    // end-to-end train+encode parity, zero shared state ------------------
    QueryDef("bpe_token_counts", (s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      val vocab = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val merges = graft.functions.Bpe.train(vocab, "word", "freq", 5)
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .select(col("doc_id"),
          graft.functions.Bpe.tokenCount(col("word"), merges).as("toks"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_words"),
          sum(col("toks")).cast(LongType).as("bpe_tokens"))
    },
    Some(s"""WITH w AS (SELECT word, count(*) AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
              GROUP BY 1),
            s0 AS (SELECT freq,
                     '·' || array_to_string(string_split(word, ''), '··') || '·' AS s
                   FROM w),
            ${BpeOracle.rounds(5)},
            dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
            enc AS (SELECT doc_id, ${BpeOracle.applyMerges(5,
              "'·' || array_to_string(string_split(word, ''), '··') || '·'")} AS s
                    FROM dw)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(len(string_split(trim(s, '·'), '··'))) AS BIGINT) AS bpe_tokens
            FROM enc GROUP BY 1""")),

    // -- CCNet-style perplexity BUCKETS (r5, Wenzek et al. 2020): rank docs
    // per language by an LM-quality proxy and split into head/middle/tail
    // tertiles (CCNet keeps head+middle, drops tail). The proxy is the mean
    // CORPUS FREQUENCY of the doc's words — an exact-integer numerator
    // (sum of corpus counts) over an exact-integer token count, so the sort
    // key is one IEEE-exact division and both engines rank identically (a
    // log-probability key would hang bucket boundaries on libm ln()
    // agreement); doc_id breaks score ties. ntile(3) over the same total
    // order is deterministic in both engines. Scale shape: the frequency
    // table is vocabulary-sized (broadcast join); the per-lang ntile is a
    // per-language sort — at 100 TB replace it with approx-quantile
    // thresholds from a sample, broadcast (the actual CCNet design; the
    // exact sort here is what makes the oracle bit-checkable) --------------
    QueryDef("perplexity_buckets", (s, dir) => {
      val docs = Tables.t(s, dir, "documents")
      val words = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      val freq = words.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val scored = words.join(broadcast(freq), Seq("w"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("c")).as("sum_freq"), count(lit(1)).as("n_tokens"))
        .withColumn("score",
          col("sum_freq").cast("double") / col("n_tokens"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("score").desc, col("doc_id").asc)
      scored.withColumn("tertile", ntile(3).over(w))
        .select(col("doc_id"), col("lang"),
          col("sum_freq").cast(LongType).as("sum_freq"), col("n_tokens"),
          when(col("tertile") === 1, "head")
            .when(col("tertile") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
    },
    Some("""WITH words AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                           FROM documents),
              freq AS (SELECT w, count(*) AS c FROM words GROUP BY 1),
              scored AS (
                SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS sum_freq,
                       count(*) AS n_tokens,
                       CAST(sum(c) AS DOUBLE) / count(*) AS score
                FROM words JOIN freq USING (w) GROUP BY 1, 2)
            SELECT doc_id, lang, sum_freq, n_tokens,
              CASE ntile(3) OVER (PARTITION BY lang
                                  ORDER BY score DESC, doc_id ASC)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
              END AS ppl_bucket
            FROM scored""")),

    // -- C4 heuristic filter battery (r5, Raffel et al. 2020 §2.2): the
    // synthetic corpus carries no punctuation or boilerplate, so sentence
    // boundaries and policy tokens are PLANTED deterministically from
    // doc_id (the pii_redaction move): a period every (3 + doc_id % 7)
    // words, ' lorem ipsum' appended when doc_id % 17 = 0, ' {' when
    // doc_id % 23 = 0. The C4 rules then do real work: sentences of
    // varying length vs the >=5-word rule, >=3 sentences per doc, the
    // terminal-period rule (always true by construction), and the
    // lorem-ipsum / curly-brace / policy-token drops. All counts integer,
    // keep flag boolean — bit-stable across engines. Per-row string/array
    // ops, plan = Scan→Project, no shuffle ---------------------------------
    QueryDef("c4_filters", (s, dir) => {
      val k = (col("doc_id") % 7 + 3).cast("int")
      val words = split(col("text"), " ")
      // group words into runs of k, join with '. ' and close with '.'
      val sentenced = concat(
        concat_ws(". ", transform(
          // integer group count: Column `/` is floating division, so floor
          sequence(lit(0), floor((size(words) - 1) / k).cast("int")),
          i => concat_ws(" ", slice(words, i * k + 1, k)))),
        lit("."))
      val planted = concat(sentenced,
        when(col("doc_id") % 17 === 0, lit(" lorem ipsum")).otherwise(lit("")),
        when(col("doc_id") % 23 === 0, lit(" {")).otherwise(lit("")))
      val sentences = filter(split(col("ptext"), "\\."),
        x => length(trim(x)) > 0)
      val nSent = size(sentences)
      val nGoodSent = size(filter(sentences,
        x => size(split(trim(x), " ")) >= 5))
      val hasLorem = col("ptext").contains("lorem ipsum")
      val hasBrace = col("ptext").contains("{")
      Tables.t(s, dir, "documents")
        .withColumn("ptext", planted)
        .select(col("doc_id"),
          nSent.as("n_sentences"),
          nGoodSent.as("n_long_sentences"),
          hasLorem.cast("int").as("has_lorem"),
          hasBrace.cast("int").as("has_brace"),
          (nGoodSent >= 3 && !hasLorem && !hasBrace).cast("int").as("keep_c4"))
    },
    Some("""WITH planted AS (
              SELECT doc_id,
                     CAST(doc_id % 7 + 3 AS INT) AS k,
                     string_split(text, ' ') AS words
              FROM documents),
            sentenced AS (
              SELECT doc_id,
                array_to_string(list_transform(
                  range(0, (len(words) - 1) // k + 1),
                  i -> array_to_string(words[i*k+1 : i*k+k], ' ')), '. ')
                || '.'
                || CASE WHEN doc_id % 17 = 0 THEN ' lorem ipsum' ELSE '' END
                || CASE WHEN doc_id % 23 = 0 THEN ' {' ELSE '' END AS ptext
              FROM planted),
            split_s AS (
              SELECT doc_id, ptext,
                list_filter(string_split(ptext, '.'),
                  x -> length(trim(x)) > 0) AS sentences
              FROM sentenced)
            SELECT doc_id,
              len(sentences) AS n_sentences,
              len(list_filter(sentences,
                x -> len(string_split(trim(x), ' ')) >= 5)) AS n_long_sentences,
              CAST(CASE WHEN ptext LIKE '%lorem ipsum%' THEN 1 ELSE 0 END AS INT)
                AS has_lorem,
              CAST(CASE WHEN ptext LIKE '%{%' THEN 1 ELSE 0 END AS INT)
                AS has_brace,
              CAST(CASE WHEN len(list_filter(sentences,
                     x -> len(string_split(trim(x), ' ')) >= 5)) >= 3
                    AND ptext NOT LIKE '%lorem ipsum%'
                    AND ptext NOT LIKE '%{%'
                   THEN 1 ELSE 0 END AS INT) AS keep_c4
            FROM split_s"""))
  )
}

/** DuckDB-side BPE training as SQL text: `rounds(k)` emits the k chained
  * (pair-count → argmax → replace) CTE rounds over the dotted segmentation
  * table `s0`; `applyMerges(k, inner)` nests the k scalar-subquery replaces
  * for encoding. The exact twin of [[graft.functions.Bpe]] — verified
  * round-for-round against a reference Python BPE implementation. */
private[queries] object BpeOracle {
  def rounds(k: Int): String = (1 to k).map { i =>
    val prev = s"s${i - 1}"
    s"""p$i AS (SELECT pr, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           SELECT freq, unnest(list_transform(range(1, len(parts)),
                   j -> parts[j] || '··' || parts[j+1])) AS pr
           FROM (SELECT freq, string_split(trim(s, '·'), '··') AS parts FROM $prev))
         GROUP BY 1),
    m$i AS (SELECT pr, cnt FROM p$i ORDER BY cnt DESC, pr ASC LIMIT 1),
    s$i AS (SELECT freq, replace(s, '·' || (SELECT pr FROM m$i) || '·',
                    '·' || replace((SELECT pr FROM m$i), '··', '') || '·') AS s
            FROM $prev)"""
  }.mkString(",\n")

  def applyMerges(k: Int, inner: String): String =
    (1 to k).foldLeft(inner)((acc, i) =>
      s"replace($acc, '·' || (SELECT pr FROM m$i) || '·', " +
        s"'·' || replace((SELECT pr FROM m$i), '··', '') || '·')")
}
