package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{CosineSimilarity, GraftFunctions, MinHash, TextFunctions, VectorFunctions}

/** [EXT] Similarity search + fingerprint queries over `embeddings` /
  * `documents` (SURVEY §2.11). Brute-force cosine top-k is the correctness
  * baseline (oracle-checked bit-stable double arithmetic — see
  * [[graft.functions.VectorFunctions]]); the LSH-bucketed variant is the
  * 100 TB scale path (bucket id = shuffle key; search touches one bucket).
  */
object VectorQueries {

  private val Dim = 64

  /** left-associated explicit dot product for the DuckDB oracle — the same
    * in-order double fold VectorFunctions.dot performs, so both engines
    * produce bit-identical doubles.
    */
  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")

  /** Sign-applied projection of `c` onto LSH plane `j` for the DuckDB twin:
    * the identical ±1 literals ([[VectorFunctions.planeSigns]], same seed)
    * and the same left-associated x·(±1.0) double fold the engine computes,
    * so projections — and therefore bucket ids — are bit-identical across
    * engines.
    */
  private def projSql(c: String, j: Int): String =
    VectorFunctions.planeSigns(42, j, Dim).zipWithIndex.map { case (sg, i) =>
      s"CAST($c[${i + 1}] AS DOUBLE) * ${if (sg > 0) "1.0" else "-1.0"}"
    }.mkString(" + ")

  private def lshBucketSql(bits: Int): String =
    (0 until bits).map(j =>
      s"(CASE WHEN p$j >= 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")

  /** Ground-truth all-pairs 3-word-shingle jaccard ≥ 0.3 over `documents` —
    * shared by minhash_near_dups and simhash_near_dups: both queries' LSH
    * schemes (band-hash buckets / Hamming banding) feed an exact-jaccard
    * verification, so both outputs equal this exact pair set on corpora
    * where their respective recall guarantees hold.
    */
  private val jaccardPairsSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
       s AS (SELECT doc_id,
               CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
               END AS sh
             FROM t)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
               len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
       FROM s a JOIN s b ON a.doc_id < b.doc_id
       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3"""

  /** Root for the persisted ANN index cache. Defaults UNDER THE WAREHOUSE
    * DIR — any Hadoop filesystem (HDFS/S3A/local), visible to every executor
    * on a cluster — overridable via `spark.graft.ann.cacheDir`. A node-local
    * path like literal /tmp would silently serve an empty cache on every
    * node but the builder's.
    */
  private[graft] def annCacheRoot(s: org.apache.spark.sql.SparkSession): String =
    s.conf.getOption("spark.graft.ann.cacheDir").getOrElse(
      s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/graft_ann_cache")

  /** Persisted-index cache location for the build-once/query-many ann_*
    * paths: keyed by corpus CONTENT (file name+length+mtime of the
    * embeddings parquet — listed via the filesystem, no Spark job) plus
    * hyperparameters (+ a format version in the params string), so a
    * regenerated corpus under the same path, or a parameter change,
    * rebuilds instead of serving a stale index. Training is deterministic,
    * so a cached index is value-identical to a rebuild.
    */
  private def annCachePath(s: org.apache.spark.sql.SparkSession, dir: String,
      kind: String, params: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val files =
      if (fs.exists(p))
        fs.listStatus(p).toSeq
          .map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
          .sorted.mkString(",")
      else "absent"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$files|$params".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${annCacheRoot(s)}/${kind}_$key"
  }

  /** Memoized code-fidelity verdicts, keyed by the index cache path
    * (review finding r8): the sampled-recall probe is deterministic per
    * (corpus, codebook) — the same fingerprinted path key AnnIndexStore
    * uses — so bench repeats / server invocations must not re-pay its
    * corpus sample scan every call. Per-JVM memo; a corpus change rotates
    * the path key (file names+sizes+mtimes), invalidating naturally. */
  private val fidelityMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def memoFidelity(key: String)(compute: => Double): Double = {
    val got = fidelityMemo.get(key)
    if (got != null) got.doubleValue
    else { val v = compute; fidelityMemo.put(key, v); v }
  }

  /** Materialize a small (top-k) result as a LOCAL frame so the index
    * handle can close() (unpersist) before the caller acts on the result. */
  private def localize(s: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  val all: Seq[QueryDef] = Seq(

    // -- brute-force cosine top-k against a stored query vector -------------
    QueryDef("ann_bruteforce_topk", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos_raw", CosineSimilarity(col("embedding"), col("qv")))
        .orderBy(col("cos_raw").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              d AS (SELECT e.vec_id,
                      (${dotSql("e.embedding", "q.qv")}) AS dot,
                      sqrt((${dotSql("e.embedding", "e.embedding")})) AS na,
                      sqrt((${dotSql("q.qv", "q.qv")})) AS nq
                    FROM embeddings e, q WHERE e.vec_id <> 0)
             SELECT vec_id, round(dot / (na * nq), 6) AS cos_sim
             FROM d ORDER BY dot / (na * nq) DESC, vec_id LIMIT 10"""),
      headline = true),

    // -- pairwise near-dup embeddings (bounded prefix, oracle-checked) ------
    QueryDef("embedding_near_dups", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings").filter(col("vec_id") < 100)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("cos_raw", CosineSimilarity(col("va"), col("vb")))
        .filter(col("cos_raw") > 0.5)
        .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos_sim"))
    },
    Some(s"""WITH t AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
              p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      (${dotSql("a.embedding", "b.embedding")}) AS dot,
                      sqrt((${dotSql("a.embedding", "a.embedding")})) AS na,
                      sqrt((${dotSql("b.embedding", "b.embedding")})) AS nb
                    FROM t a JOIN t b ON a.vec_id < b.vec_id)
             SELECT id_a, id_b, round(dot / (na * nb), 6) AS cos_sim
             FROM p WHERE dot / (na * nb) > 0.5""")),

    // -- centroid distance per label (groupBy over vector aggregation) ------
    QueryDef("label_centroid_norms", (s, dir) => {
      val e = Tables.t(s, dir, "embeddings")
      // mean vector per label via posexplode + groupBy(label, dim)
      e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(avg(col("x").cast("double")).as("mean_x"))
        .groupBy(col("label"))
        .agg(round(sum(col("mean_x") * col("mean_x")), 6).as("centroid_sq_norm"),
          count(lit(1)).as("dims"))
    },
    Some("""SELECT label,
             round(sum(mean_x * mean_x), 6) AS centroid_sq_norm,
             count(*) AS dims
            FROM (SELECT label, i AS dim, avg(CAST(embedding[i] AS DOUBLE)) AS mean_x
                  FROM embeddings, range(1, 65) AS r(i)
                  GROUP BY 1, 2)
            GROUP BY 1""")),

    // -- LSH-bucketed ANN (scale path). MULTI-PROBE: the query probes its
    //    own bucket plus the `flips` lowest-margin bit-flip buckets (Lv et
    //    al. VLDB'07) — on the near-uniform sf0.1 corpus this lifts measured
    //    recall@10 from 0.03 to ~3× at bits=8 (artifacts/LSH_RECALL_r3.jsonl
    //    holds the full recall/cost matrix; FunctionsSpec asserts the floor at
    //    bits=4/flips=4). ORACLED (r5): hyperplane signs are driver-side
    //    constants (VectorFunctions.planeSigns), so the DuckDB twin
    //    recomputes the IDENTICAL projections, bucket ids, multi-probe flip
    //    choice and exact cosine — full parity, no recall assumption.
    QueryDef("ann_lsh_buckets", (s, dir) => {
      val e = Tables.t(s, dir, "embeddings")
        .withColumn("bucket", VectorFunctions.lshBucket(col("embedding"), bits = 8))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"),
          explode(VectorFunctions.lshProbeBuckets(col("embedding"), bits = 8,
            flips = 2)).as("bucket"))
      // probe 1+flips buckets — still O((1+f)·n/2^bits) candidates
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos_raw", VectorFunctions.cosine(col("embedding"), col("qv")))
        .orderBy(col("cos_raw").desc, col("vec_id"))
        .limit(10)
        .select(col("bucket"), col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
    },
    Some(s"""WITH pr AS (
              SELECT vec_id, embedding,
                ${(0 until 8).map(j => s"(${projSql("embedding", j)}) AS p$j")
                  .mkString(",\n                ")}
              FROM embeddings),
            eb AS (
              SELECT vec_id, embedding,
                CAST(${lshBucketSql(8)} AS BIGINT) AS bucket,
                p0, p1, p2, p3, p4, p5, p6, p7
              FROM pr),
            q AS (SELECT * FROM eb WHERE vec_id = 0),
            fl AS (
              SELECT bucket, unnest(list_slice(list_sort(
                [${(0 until 8).map(j => s"{'m': abs(p$j), 'j': $j}")
                  .mkString(", ")}]), 1, 2)) AS f
              FROM q),
            probes AS (
              SELECT bucket AS b FROM q
              UNION ALL
              SELECT xor(bucket, CAST(1 AS BIGINT) << f.j) FROM fl),
            qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
            cand AS (
              SELECT eb.bucket, eb.vec_id,
                (${dotSql("eb.embedding", "qv.v")}) AS dot,
                sqrt((${dotSql("eb.embedding", "eb.embedding")})) AS na,
                sqrt((${dotSql("qv.v", "qv.v")})) AS nq
              FROM eb JOIN probes ON eb.bucket = probes.b, qv
              WHERE eb.vec_id <> 0)
            SELECT bucket, vec_id, round(dot / (na * nq), 6) AS cos_sim
            FROM cand ORDER BY dot / (na * nq) DESC, vec_id LIMIT 10""")),

    // -- int8-quantized top-k (storage-compressed search). ORACLED (r4):
    //    quantize→dequantize is deterministic double arithmetic (scale =
    //    127/max|x|, q = round half-away-from-zero — Spark's HALF_UP and
    //    DuckDB's round agree), and the cosine is the same left-assoc fold
    //    the brute-force oracle proved bit-stable, so the full compressed-
    //    search result hash-matches ground truth computed independently.
    QueryDef("ann_quantized_topk", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings")
        .withColumn("deq", VectorFunctions.dequantize(
          VectorFunctions.quantizeInt8(col("embedding"))))
      val q = e.filter(col("vec_id") === 0).select(col("deq").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos_raw", VectorFunctions.cosine(col("deq"), col("qv")))
        .orderBy(col("cos_raw").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("cos_raw"), 6).as("cos_sim"))
    },
    Some(s"""WITH sc AS (
              SELECT vec_id, embedding,
                CASE WHEN list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))) = 0 THEN 1.0
                     ELSE 127.0 / list_max(list_transform(embedding,
                       y -> abs(CAST(y AS DOUBLE)))) END AS s
              FROM embeddings),
            dq AS (SELECT vec_id,
                     list_transform(embedding,
                       x -> round(CAST(x AS DOUBLE) * s) / s) AS deq
                   FROM sc),
            q AS (SELECT deq AS qv FROM dq WHERE vec_id = 0),
            d AS (SELECT e.vec_id,
                    (${dotSql("e.deq", "q.qv")}) AS dot,
                    sqrt((${dotSql("e.deq", "e.deq")})) AS na,
                    sqrt((${dotSql("q.qv", "q.qv")})) AS nq
                  FROM dq e, q WHERE e.vec_id <> 0)
            SELECT vec_id, round(dot / (na * nq), 6) AS cos_sim
            FROM d ORDER BY dot / (na * nq) DESC, vec_id LIMIT 10""")),

    // -- IVF-flat ANN (scale path #2: cluster-pruned probe; rows-only).
    //    Build-once/query-many: the index persists through AnnIndexStore on
    //    first execution and every later execution LOADS and searches only
    //    (training is deterministic, so the cached index is value-identical
    //    to a rebuild — AnnPersistSpec proves load≡build).
    QueryDef("ann_ivf_topk", (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      val e = Tables.t(s, dir, "embeddings")
      val path = annCachePath(s, dir, "ivf", "k8it5v1")
      val idx =
        if (graft.sink.AnnIndexStore.exists(s, path, "ivf"))
          graft.sink.AnnIndexStore.loadIvf(s, path)
        else {
          val built = graft.functions.IvfIndex.build(s, e, "vec_id", "embedding",
            k = 8, iterations = 5)
          graft.sink.AnnIndexStore.saveIvf(path, built)
          built
        }
      try {
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        // nProbe=5 retuned from 3 by AnnRecallProbe (ANN_RECALL_r7):
        // recall@10 at x100 corpus 0.65 → 0.91 for +2 probed clusters
        localize(s, idx.search(s, query, topK = 10, nProbe = 5)
          .select(col("id").as("vec_id"), col("cluster"),
            F.round(col("cos_sim"), 6).as("cos_sim")))
      } finally idx.close()
    }, None),

    // -- MinHash-LSH near-dup pairs, ORACLED on the full corpus: the output
    //    is candidates verified by EXACT shingle jaccard, so it equals the
    //    exact pair set whenever LSH recall is 1 — and this corpus is in the
    //    planted-dup regime where that holds: every pair ≥ 0.2 jaccard is
    //    ≥ 0.9 (measured; near-exact planted dups), and at j ≥ 0.9 the
    //    8-band × 4-row banding collides (identical/near-identical
    //    signatures). The DuckDB twin recomputes 3-word shingle jaccard
    //    all-pairs — ground truth, not an LSH reimplementation.
    QueryDef("minhash_near_dups", (s, dir) => {
      MinHash.nearDupPairs(
        Tables.t(s, dir, "documents"), "doc_id", "text",
        k = 32, bands = 8, shingleWidth = 3, threshold = 0.3)
    },
    Some(jaccardPairsSql), headline = true),

    // -- SimHash near-dups via Hamming-LSH banding. ORACLED (r5, the
    //    minhash move): banded candidates (pigeonhole-exact recall for
    //    hamming ≤ 7 at 8 bands) verified by EXACT shingle jaccard, so the
    //    output equals the full jaccard≥0.3 pair set — ground truth the
    //    DuckDB twin recomputes all-pairs — as long as true near-dup pairs
    //    sit within 7 simhash bits (measured max 5 at sf0.01 with the
    //    planted dups; the matrix is recorded in RESULTS_r5.md). Same oracle SQL as
    //    minhash_near_dups: both engines' outputs ARE the exact pair set,
    //    reached through two different LSH schemes.
    QueryDef("simhash_near_dups", (s, dir) => {
      graft.functions.SimHashLsh.nearDupsVerified(
        Tables.t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 7, bands = 8, shingleWidth = 3, threshold = 0.3)
    }, Some(jaccardPairsSql)),

    // -- STREAM-DEDUP keep-first survivors, driver-visible (verdict r9 #4):
    //    the EXACT stateful operator the streaming path runs
    //    (StreamDedup.bandVerdicts → survivorIds), executed in Spark's
    //    batch mode for flatMapGroupsWithState — per bucket, ascending
    //    docId, drop j iff some i<j band-collides with signature
    //    similarity ≥ 0.5. ORACLED like minhash_near_dups: on this corpus
    //    every cross-doc pair is either a planted near-exact dup
    //    (jaccard ≥ 0.9 → near-identical signatures: banding collides and
    //    sig-sim ≥ 0.5) or background (jaccard < 0.2 → sig-sim ~0.2,
    //    clearing 0.5 AND band-colliding together is ~never under this
    //    fixed hash draw — measured equal at sf0.01 AND sf0.1/4756), so
    //    keep-first over sig-sim ≡ keep-first over exact jaccard ≥ 0.3,
    //    which DuckDB recomputes all-pairs as ground truth. The drop
    //    predicate is pairwise (a dropped doc still suppresses later docs —
    //    it entered state), so the twin needs no recursion.
    QueryDef("stream_dedup_survivors", (s, dir) => {
      val docs = Tables.t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.streaming.StreamDedup.survivorIds(
        graft.streaming.StreamDedup.bandVerdicts(docs,
          k = 32, bands = 8, shingleWidth = 3, threshold = 0.5).toDF())
    },
    Some("""WITH d AS (SELECT doc_id, coalesce(text, '') AS text
                       FROM documents),
            t AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
            s AS (SELECT doc_id,
                    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                         ELSE list_distinct(list_transform(range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    END AS sh
                  FROM t),
            dropped AS (SELECT DISTINCT b.doc_id
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3)
            SELECT doc_id FROM d
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""")),

    // -- rolling-hash fingerprint distribution. Oracled via INJECTIVITY:
    //    the 64-bit chained hash is collision-free on the corpus, so
    //    distinct fingerprints per source == distinct token sequences ==
    //    distinct texts (single-spaced corpus, verified no leading/
    //    trailing/double spaces) — which DuckDB counts directly. A
    //    degenerate/colliding fingerprint fails the match; bit-level
    //    chaining determinism is covered by FunctionsSpec.
    QueryDef("rolling_fingerprints", (s, dir) => {
      Tables.t(s, dir, "documents")
        .select(col("source"), TextFunctions.rollingFingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count_distinct(col("fp")).as("distinct_fp"), count(lit(1)).as("docs"))
    },
    Some("""SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS distinct_fp,
             count(*) AS docs
            FROM documents GROUP BY 1""")),

    // -- SEMANTIC dedup (SemDeDup, Abbas et al. 2023): within-cluster cosine
    //    pair graph → connected components → min-id survivors. Here the
    //    cluster is the stored `label` column (the oracle-checkable form);
    //    the learned-cluster scale path is semantic_dedup_ivf below. The
    //    pair join is an EQUI-join on the cluster key — one shuffle, no
    //    corpus-wide cross product. Threshold 0.3 sits above the within-
    //    label cosine p99 (~0.295) of the synthetic corpus, so the edge set
    //    is sparse but non-empty; CosineSimilarity's left-assoc double fold
    //    is bit-identical to the oracle's explicit sum, making the ≥
    //    comparison deterministic on both sides.
    QueryDef("semantic_dedup_survivors", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings")
      graft.functions.SemDedup.survivors(e, "vec_id", "embedding", "label", 0.3)
    },
    Some(s"""WITH RECURSIVE
            t AS (SELECT vec_id, label, embedding FROM embeddings),
            e AS (SELECT a.vec_id AS src, b.vec_id AS dst
                  FROM t a JOIN t b ON a.label = b.label AND a.vec_id <> b.vec_id
                  WHERE (${dotSql("a.embedding", "b.embedding")}) /
                        (sqrt((${dotSql("a.embedding", "a.embedding")})) *
                         sqrt((${dotSql("b.embedding", "b.embedding")}))) >= 0.3),
            reach(id, root) AS (
              SELECT vec_id, vec_id FROM t
              UNION
              SELECT e.dst, r.root FROM reach r JOIN e ON e.src = r.id)
            SELECT CAST(id AS BIGINT) AS vec_id,
                   CAST(min(root) AS BIGINT) AS canonical,
                   CAST(CASE WHEN id = min(root) THEN 1 ELSE 0 END AS INT) AS is_survivor
            FROM reach GROUP BY id""")),

    // -- SemDeDup scale path: clusters LEARNED by IVF k-means (deterministic
    //    farthest-first seeding), dedup within learned clusters. Rows-only —
    //    cluster boundaries are engine-defined; the planted-duplicate spec
    //    in SemDedupSpec proves exact-dup recall 1 and the survivor law.
    // -- Product-quantization ANN (scale path #3: ADC over 8-byte codes;
    //    rows-only — codebooks are engine-learned; PqSpec asserts the
    //    planted-dup rank-1 guarantee, measured recall floor vs exact L2,
    //    and training determinism). ks=256 since r10 — the standard 8-bit
    //    subquantizer (native pq_encode kernel makes it affordable).
    //    DEFAULT GUARDED BY A CODE-FIDELITY PROBE (verdict r7 #2): on
    //    near-uniform corpora — exactly the shipped synthetic embeddings —
    //    PQ codes cannot rank (recall@10 0.007 at ks=16, and the negative
    //    STANDS at ks=256: near-ties among uniform vectors sit inside the
    //    quantization noise floor at any codebook budget — ANN_RECALL_r10),
    //    so a bare ADC default is a footgun. PqIndex.sampledRecall
    //    estimates ADC ranking fidelity on a bounded driver-side sample;
    //    below 0.5 the query falls back to IVF-flat (coarse pruning +
    //    exact L2 — measured ~0.9 recall at ×100), sharing ann_ivf_topk's
    //    persisted index. On clustered corpora — the realistic embedding
    //    regime — the probe passes and the ADC scan runs with an exact
    //    top-10·10 rerank (searchRerank — the paper's IVFADC+R refinement,
    //    cost bounded by the shortlist), measured ≥0.7 recall@10 with the
    //    fallback DISENGAGED at ×100 (ANN_RECALL_r10 clustered lines).
    QueryDef("ann_pq_topk", (s, dir) => {
      import org.apache.spark.sql.{functions => F}
      val e = Tables.t(s, dir, "embeddings")
      val path = annCachePath(s, dir, "pq", "m8ks256it4v1")
      val handle =
        if (graft.sink.AnnIndexStore.exists(s, path, "pq"))
          graft.sink.AnnIndexStore.loadPq(s, path)
        else {
          val cb = graft.functions.PqIndex.train(s, e, "vec_id", "embedding",
            m = 8, ks = 256, iterations = 4)
          val codes = graft.functions.PqIndex.encode(e, "vec_id", "embedding", cb)
          graft.sink.AnnIndexStore.savePq(path, cb, codes)
          graft.sink.AnnIndexStore.loadPq(s, path)
        }
      try {
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        // corpus-density fidelity (r10): measured recall of the SERVED
        // path (ADC + exact rerank) vs distributed exact ground truth —
        // the sampled probe passes at ks=256 on corpora the codes rank at
        // 0.2 (density blindness, see PqIndex.measuredRecall). Memoized
        // per persisted index: an index-qualification step, not per-query.
        val fidelity = memoFidelity(path) {
          graft.functions.PqIndex.measuredRecall(e, "vec_id", "embedding",
            (qv, qid) => graft.functions.PqIndex.searchRerank(
              handle.encoded.filter(col("id") =!= qid), e, "vec_id",
              "embedding", qv, handle.cb, topK = 10))
        }
        if (fidelity >= 0.7)
          localize(s, graft.functions.PqIndex.searchRerank(
              handle.encoded.filter(col("id") =!= 0), e, "vec_id",
              "embedding", query, handle.cb, topK = 10)
            .select(col("id").as("vec_id"), col("dist").as("approx_dist")))
        else {
            // fallback: IVF-flat over ann_ivf_topk's shared index — probe
            // clusters by L2 (this query's metric), exact L2 on candidates
            val ivfPath = annCachePath(s, dir, "ivf", "k8it5v1")
            val idx =
              if (graft.sink.AnnIndexStore.exists(s, ivfPath, "ivf"))
                graft.sink.AnnIndexStore.loadIvf(s, ivfPath)
              else {
                val built = graft.functions.IvfIndex.build(
                  s, e, "vec_id", "embedding", k = 8, iterations = 5)
                graft.sink.AnnIndexStore.saveIvf(ivfPath, built)
                built
              }
            try
              localize(s, idx.searchFlatL2(s, query, topK = 11, nProbe = 5)
                .filter(col("id") =!= 0).limit(10)
                .select(col("id").as("vec_id"), col("approx_dist")))
            finally idx.close()
          }
      } finally handle.close()
    }, None),

    // -- IVFADC (scale path #4: coarse-cluster pruning + residual-PQ codes;
    //    rows-only — IvfPqSpec carries the planted-dup, pruning and recall
    //    guarantees).
    //    Like ann_pq_topk, the ADC default is guarded by a code-fidelity
    //    probe on the RESIDUAL vectors (verdict r7 #2): residual-PQ codes
    //    rank near-uniform corpora at 0.007–0.027 recall@10
    //    (ANN_RECALL_r7); below 0.5 sampled recall the query keeps the
    //    coarse nProbe pruning — the part of IVFADC that scales — but
    //    scores candidates with exact L2 (IvfPq.searchFlat, IVF-flat
    //    semantics, ~0.9 measured recall at ×100).
    QueryDef("ann_ivfpq_topk", (s, dir) => {
      val e = Tables.t(s, dir, "embeddings")
      val path = annCachePath(s, dir, "ivfpq", "kc8m8ks256it4v1")
      val idx =
        if (graft.sink.AnnIndexStore.exists(s, path, "ivfpq"))
          graft.sink.AnnIndexStore.loadIvfPq(s, path)
        else {
          val built = graft.functions.IvfPq.build(s, e, "vec_id", "embedding",
            kCoarse = 8, m = 8, ks = 256, iterations = 4)
          graft.sink.AnnIndexStore.saveIvfPq(path, built)
          built
        }
      try {
        val query = e.filter(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Float](0).toArray
        // corpus-density fidelity of the SERVED path — IVFADC+R since r10:
        // bare residual-ADC measured 0.073 recall@10 at ×100 on BOTH probe
        // corpora (dense-neighborhood gaps sit inside residual quantization
        // noise), but the codes DO concentrate true neighbors into a small
        // shortlist, so the +R exact rerank recovers the ranking at
        // negligible cost. The r9 residual-sample probe was density-blind
        // at ks=256 (passed 0.525–0.725 against 0.073 actual) — the gate
        // is now the measured end-to-end recall, memoized per index.
        val fidelity = memoFidelity(path) {
          graft.functions.PqIndex.measuredRecall(e, "vec_id", "embedding",
            (qv, qid) => idx.searchRerank(
              e.filter(col("vec_id") =!= qid), "vec_id", "embedding",
              qv, topK = 10, nProbe = 3))
        }
        // ADC+R path keeps nProbe=3 (the codes are the compression story);
        // the FALLBACK probes 5 like the plain-IVF default — r8 measured
        // the 0.527 recall ceiling as coarse-pruning loss at nProbe=3
        // (IVF at nProbe=5: 0.85–0.91), and the fallback's scoring is
        // already exact L2, so wider probing is the whole fix (r8 #2).
        // Cost: candidate fraction ~0.38→0.63 of the corpus — still
        // cluster-pruned, still partition-local at scale.
        val res =
          if (fidelity >= 0.7)
            idx.searchRerank(e, "vec_id", "embedding", query,
              topK = 11, nProbe = 3)
          else idx.searchFlat(e, "vec_id", "embedding", query,
            topK = 11, nProbe = 5)
        localize(s, res
          .filter(col("id") =!= 0).limit(10)
          .select(col("id").as("vec_id"), col("cluster"), col("approx_dist")))
      } finally idx.close()
    }, None),

    // -- HARD-NEGATIVE mining (r5, contrastive-training staple): for each
    // anchor vector, the top-3 most-similar vectors with a DIFFERENT label
    // — the negatives a triplet/InfoNCE trainer wants. Anchor side bounded
    // (broadcast); candidate side is the full corpus. Ranking is
    // deterministic: the cosine is the same left-associated double fold on
    // both engines (CosineSimilarity scaladoc) and vec_id breaks exact
    // ties. Scale shape: anchors broadcast against the candidate scan, one
    // per-anchor top-k (window over the anchor key) — at 100 TB the
    // candidate side stays distributed and the shuffle carries only
    // (anchor, candidate, cos) rows that survive a per-partition
    // pre-truncation; the ANN-index variants (ann_ivf/pq) are the
    // approximate route when the anchor set itself is large --------------
    QueryDef("hard_negative_mining", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings")
      val anchors = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
          col("embedding").as("av"))
      val joined = e.select(col("vec_id").as("neg_id"), col("label"),
          col("embedding").as("nv"))
        .join(broadcast(anchors), col("label") =!= col("anchor_label"))
        .withColumn("cos_raw", CosineSimilarity(col("av"), col("nv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("anchor_id"))
        .orderBy(col("cos_raw").desc, col("neg_id").asc)
      joined.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("anchor_id"), col("rank"), col("neg_id"),
          round(col("cos_raw"), 6).as("cos_sim"))
    },
    Some(s"""WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                          embedding AS av
                        FROM embeddings WHERE vec_id < 10),
              p AS (SELECT a.anchor_id, e.vec_id AS neg_id,
                      (${dotSql("a.av", "e.embedding")}) /
                        (sqrt((${dotSql("a.av", "a.av")})) *
                         sqrt((${dotSql("e.embedding", "e.embedding")}))) AS c
                    FROM a JOIN embeddings e ON e.label <> a.anchor_label),
              r AS (SELECT anchor_id, neg_id, c,
                      row_number() OVER (PARTITION BY anchor_id
                                         ORDER BY c DESC, neg_id ASC) AS rank
                    FROM p)
            SELECT anchor_id, rank, neg_id, round(c, 6) AS cos_sim
            FROM r WHERE rank <= 3""")),

    // -- MMR diverse top-k (r6): maximal-marginal-relevance re-ranking —
    // the selection step that trades raw similarity for coverage
    // (training-data sampling / RAG context picking): greedily take
    // argmax 0.7·sim(q,d) − 0.3·max_{s∈S} sim(d,s), tie → smallest id.
    // Two-stage scale shape: stage 1 is the DISTRIBUTED brute-force
    // top-C candidate cut (the pass over all N vectors — the only part
    // that grows with the corpus); stage 2 is the O(C²) greedy over
    // C=25 candidates, driver-side by design (the same audited re-rank
    // localization as ann_bruteforce's top-k). Every similarity — query
    // AND pairwise — evaluates through the one CosineSimilarity
    // expression (index-ordered double fold), and 0.7/0.3 are literals
    // on both sides, so the greedy argmax sequence is bit-identical to
    // the DuckDB twin's unrolled-CTE replay of the same 5 steps.
    QueryDef("mmr_diverse_topk", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val cand = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("simq", CosineSimilarity(col("embedding"), col("qv")))
        .orderBy(col("simq").desc, col("vec_id"))
        .limit(25)
        .select(col("vec_id"), col("simq"), col("embedding"))
        .cache()
      val a = cand.select(col("vec_id").as("ia"), col("embedding").as("va"))
      val b = cand.select(col("vec_id").as("ib"), col("embedding").as("vb"))
      val pairSim = a.join(b, col("ia") =!= col("ib"))
        .select(col("ia"), col("ib"),
          CosineSimilarity(col("va"), col("vb")).as("sab"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val cs = cand.select(col("vec_id"), col("simq")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      cand.unpersist()
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      while (picked.size < 5) {
        val sel = picked.map(_._1)
        val best = cs.iterator
          .filter { case (id, _) => !sel.contains(id) }
          .map { case (id, sq) =>
            val pen = if (sel.isEmpty) 0.0
                      else sel.map(sid => pairSim((id, sid))).max
            (id, 0.7 * sq - 0.3 * pen)
          }
          .minBy { case (id, sc) => (-sc, id) }
        picked += best
      }
      import s.implicits._
      picked.toSeq.zipWithIndex
        .map { case ((id, sc), i) => ((i + 1).toLong, id, sc) }
        .toDF("rank", "vec_id", "score")
        .select(col("rank"), col("vec_id"),
          round(col("score"), 6).as("mmr_score"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              c0 AS (SELECT e.vec_id, e.embedding,
                       (${dotSql("e.embedding", "q.qv")}) AS dot,
                       sqrt((${dotSql("e.embedding", "e.embedding")})) AS na,
                       sqrt((${dotSql("q.qv", "q.qv")})) AS nq
                     FROM embeddings e, q WHERE e.vec_id <> 0),
              cand AS (SELECT vec_id, embedding, dot / (na * nq) AS simq
                       FROM c0 ORDER BY dot / (na * nq) DESC, vec_id LIMIT 25),
              pair AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                         (${dotSql("a.embedding", "b.embedding")}) /
                           (sqrt((${dotSql("a.embedding", "a.embedding")})) *
                            sqrt((${dotSql("b.embedding", "b.embedding")}))) AS sab
                       FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
              s1 AS (SELECT vec_id, 0.7 * simq AS sc FROM cand
                     ORDER BY 0.7 * simq DESC, vec_id LIMIT 1),
              s2 AS (SELECT c.vec_id,
                       0.7 * c.simq - 0.3 * (SELECT max(p.sab) FROM pair p
                         WHERE p.ia = c.vec_id
                           AND p.ib IN (SELECT vec_id FROM s1)) AS sc
                     FROM cand c
                     WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
                     ORDER BY sc DESC, c.vec_id LIMIT 1),
              sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
              s3 AS (SELECT c.vec_id,
                       0.7 * c.simq - 0.3 * (SELECT max(p.sab) FROM pair p
                         WHERE p.ia = c.vec_id
                           AND p.ib IN (SELECT vec_id FROM sel2)) AS sc
                     FROM cand c
                     WHERE c.vec_id NOT IN (SELECT vec_id FROM sel2)
                     ORDER BY sc DESC, c.vec_id LIMIT 1),
              sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
              s4 AS (SELECT c.vec_id,
                       0.7 * c.simq - 0.3 * (SELECT max(p.sab) FROM pair p
                         WHERE p.ia = c.vec_id
                           AND p.ib IN (SELECT vec_id FROM sel3)) AS sc
                     FROM cand c
                     WHERE c.vec_id NOT IN (SELECT vec_id FROM sel3)
                     ORDER BY sc DESC, c.vec_id LIMIT 1),
              sel4 AS (SELECT vec_id FROM sel3 UNION ALL SELECT vec_id FROM s4),
              s5 AS (SELECT c.vec_id,
                       0.7 * c.simq - 0.3 * (SELECT max(p.sab) FROM pair p
                         WHERE p.ia = c.vec_id
                           AND p.ib IN (SELECT vec_id FROM sel4)) AS sc
                     FROM cand c
                     WHERE c.vec_id NOT IN (SELECT vec_id FROM sel4)
                     ORDER BY sc DESC, c.vec_id LIMIT 1)
             SELECT CAST(1 AS BIGINT) AS rank, vec_id, round(sc, 6) AS mmr_score FROM s1
             UNION ALL SELECT 2, vec_id, round(sc, 6) FROM s2
             UNION ALL SELECT 3, vec_id, round(sc, 6) FROM s3
             UNION ALL SELECT 4, vec_id, round(sc, 6) FROM s4
             UNION ALL SELECT 5, vec_id, round(sc, 6) FROM s5""")),

    QueryDef("semantic_dedup_ivf", (s, dir) => {
      GraftFunctions.register(s)
      val e = Tables.t(s, dir, "embeddings")
      graft.functions.SemDedup
        .survivorsIvf(s, e, "vec_id", "embedding", k = 8, threshold = 0.3)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("members"),
          sum(col("is_survivor")).as("survivors"))
        .orderBy(col("cluster"))
    }, None)
  )
}
