package graft

import org.apache.spark.sql.functions._

import graft.functions._

/** [EXT] function-library semantics: cosine vs hand-computed values, MinHash
  * LSH recall on planted near-dups, SimHash locality, tokenizer counts.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine similarity matches hand computation") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 2.0f), Array(2.0f, 4.0f), 1.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0)
    ).toDF("a", "b", "want")
    val got = df.select(VectorFunctions.cosine($"a", $"b").as("c"), $"want")
      .as[(Double, Double)].collect()
    got.foreach { case (c, want) => assert(math.abs(c - want) < 1e-9) }
  }

  test("cosine of zero vector is null") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.cosine($"a", $"b")).collect().head.isNullAt(0))
  }

  test("l2 distance") {
    val df = Seq((Array(0.0f, 3.0f), Array(4.0f, 0.0f))).toDF("a", "b")
    assert(df.select(VectorFunctions.l2Distance($"a", $"b")).as[Double].head() == 5.0)
  }

  test("lsh bucket is deterministic and groups identical vectors") {
    val v = Array.tabulate(16)(i => (i * 0.37f) - 2f)
    val df = Seq(("a", v), ("b", v), ("c", v.map(-_))).toDF("id", "vec")
    val buckets = df.select($"id", VectorFunctions.lshBucket($"vec", bits = 8).as("b"))
      .as[(String, Long)].collect().toMap
    assert(buckets("a") == buckets("b"))
    assert(buckets("a") != buckets("c")) // antipodal vector flips every sign bit
  }

  test("minhash LSH finds planted near-duplicates, skips distinct docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val distinct = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, distinct)).toDF("id", "text")
    val pairs = MinHash.nearDupPairs(df, "id", "text", k = 32, bands = 8, threshold = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact-dup pre-collapse is bit-identical to brute-force all-pairs " +
      "jaccard (minhash + simhash paths, exact classes / nulls / empties)") {
    // clone classes A×3 and B×2 (B a near-dup of A), a distinct doc, two
    // null texts, two empty texts — exercises within-class expansion,
    // cross-class inheritance, the null-class exclusion, and the
    // empty-text degenerate shingle
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => if (i == 20) "CHANGED" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq(
      (1L, a), (5L, a), (3L, a), (2L, b), (4L, b), (6L, other),
      (7L, null.asInstanceOf[String]), (8L, null.asInstanceOf[String]),
      (9L, ""), (10L, "")).toDF("id", "text")

    // ground truth: brute-force exact shingle jaccard over all pairs (LSH
    // recall is 1 here — every true pair is exact or one-word-changed)
    val sh = df.select($"id",
      array_distinct(MinHash.shingles($"text", 3)).as("sh"))
    val bf = sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .withColumn("j",
        size(array_intersect(col("x.sh"), col("y.sh"))).cast("double") /
          size(array_union(col("x.sh"), col("y.sh"))))
      .filter($"j" >= 0.3)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        round($"j", 4).as("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(bf.exists(_._3 == 1.0) && bf.exists(p => p._3 < 1.0 && p._3 >= 0.8),
      s"test corpus should contain exact AND near pairs, got $bf")

    val viaMinhash = MinHash.nearDupPairs(df, "id", "text",
        k = 32, bands = 8, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaMinhash == bf, s"minhash collapse diverged:\n" +
      s"extra=${viaMinhash -- bf}\nmissing=${bf -- viaMinhash}")

    val viaSimhash = SimHashLsh.nearDupsVerified(df, "id", "text",
        maxHamming = 7, bands = 8, threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaSimhash == bf, s"simhash collapse diverged:\n" +
      s"extra=${viaSimhash -- bf}\nmissing=${bf -- viaSimhash}")
  }

  test("shingles: w-word windows, short docs degrade to whole-text shingle") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(MinHash.shingles($"text", 3).as("s")).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq("a b"))
  }

  test("near-dup components: empty pair graph means everyone survives") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val docs = Seq(1L, 2L).toDF("doc_id")
    val got = graft.functions.Dedup.assignCanonical(docs, "doc_id", pairs, "a", "b")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 1L, 1), (2L, 2L, 1)))
  }

  test("near-dup components: transitive clusters, isolated docs survive alone") {
    // chain 1-2-3 (1 and 3 are NOT directly paired — transitivity required),
    // cluster {10, 11}, isolated 99
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val got = graft.functions.Dedup.assignCanonical(docs, "doc_id", pairs, "a", "b")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set(
      (1L, 1L, 1), (2L, 1L, 0), (3L, 1L, 0),
      (10L, 10L, 1), (11L, 10L, 0),
      (99L, 99L, 1)))
  }

  test("near-dup components: deep path graph converges with periodic reliable checkpoint") {
    // diameter 25 > the 10-round checkpoint cadence: at least two reliable
    // checkpoints fire mid-loop, cutting the RDD lineage chain, and the
    // result is still the exact single component
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val chain = (1L to 26L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
      val got = graft.functions.Dedup.components(chain, "a", "b", maxIterations = 40)
        .as[(Long, Long)].collect().toSet
      assert(got == (1L to 26L).map(i => (i, 1L)).toSet)
      // a checkpoint actually landed on disk (the cadence fired)
      val wrote = new java.io.File(dir).listFiles()
      assert(wrote != null && wrote.nonEmpty, s"no checkpoint written under $dir")
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("near-dup components: unconverged exit throws instead of returning wrong labels") {
    // a 12-hop chain needs ~12 propagation rounds; cap at 3 must REFUSE, not
    // hand back labels that look like components but split the chain
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("a", "b")
    val ex = intercept[IllegalStateException] {
      graft.functions.Dedup.components(chain, "a", "b", maxIterations = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // same chain with sufficient budget converges to one component
    val ok = graft.functions.Dedup.components(chain, "a", "b", maxIterations = 20)
      .as[(Long, Long)].collect().toSet
    assert(ok == (1L to 12L).map(i => (i, 1L)).toSet)
  }

  test("simhash Hamming-LSH: pigeonhole guarantee on adversarial bit flips") {
    // worst case for 4 bands: flips spread across DIFFERENT bands (positions
    // 0, 16, 32 — three bands touched, the fourth must still collide)
    val base = 0x0123456789abcdefL
    val pairs = Seq(
      (0L, base, base),                                   // hamming 0
      (1L, base, base ^ 1L),                              // 1 flip
      (2L, base, base ^ ((1L << 0) | (1L << 16))),        // 2 bands touched
      (3L, base, base ^ ((1L << 0) | (1L << 16) | (1L << 32))), // 3 bands
      // 4 flips in 4 different bands: no band collides AND hamming > 3 —
      // must be absent
      (4L, base, base ^ ((1L << 0) | (1L << 16) | (1L << 32) | (1L << 48))))
    val df = pairs.flatMap { case (g, a, b) => Seq((g * 2, g, a), (g * 2 + 1, g, b)) }
      .toDF("id", "grp", "sh")
    val found = graft.functions.SimHashLsh
      .nearDupsFromFingerprints(df, "id", "sh", maxHamming = 3, bands = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // every ≤3-hamming pair found (incl. the 3-band worst case), plus the
    // hamming-0 cross-group collisions of identical base values
    for (g <- 0L to 3L) assert(found.contains((g * 2, g * 2 + 1)), s"missing pair of group $g")
    assert(!found.contains((8L, 9L)), "hamming-4 pair must be filtered")
  }

  test("simhash LSH finds planted near-duplicate texts, skips distinct docs") {
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok100", "CHANGED")
    val other = (500 to 700).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val pairs = graft.functions.SimHashLsh.nearDups(df, "id", "text",
      maxHamming = 3, bands = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: near-identical docs within small hamming distance, distinct docs far") {
    GraftFunctions.register(spark)
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val similar = base.replace("tok30", "XXX")
    val other = (200 to 260).map(i => s"q$i").mkString(" ")
    val df = Seq(base, similar, other).toDF("text")
    val hashes = df.select(TextFunctions.simhash($"text").as("h")).as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hashes(0), hashes(1)) <= 12)
    assert(ham(hashes(0), hashes(2)) > 16)
  }

  test("native minhash_sig is bit-identical to the HOF reference") {
    GraftFunctions.register(spark)
    val docs = Seq("a b c d e f g", "one two three", "x")
    val df = docs.toDF("text")
      .select(MinHash.shingles($"text", 3).as("sh"))
    val both = df.select(MinHash.signature($"sh", 16).as("native"),
      MinHash.signatureHof($"sh", 16).as("hof"))
      .as[(Seq[Long], Seq[Long])].collect()
    both.foreach { case (n, h) => assert(n == h, s"minhash mismatch: $n vs $h") }
  }

  test("native simhash64 is bit-identical to the HOF reference") {
    GraftFunctions.register(spark)
    val docs = Seq(
      "the quick brown fox", "a b c", "", "single",
      (1 to 200).map(i => s"w${i % 37}").mkString(" "))
    val df = docs.toDF("text")
    val both = df.select(TextFunctions.simhash($"text").as("native"),
      TextFunctions.simhashHof($"text").as("hof"))
      .as[(Long, Long)].collect()
    both.foreach { case (n, h) => assert(n == h, s"simhash mismatch: $n vs $h") }
  }

  test("tokenizer: letter runs, digit runs, punctuation") {
    val df = Seq("hello world-42, ok!").toDF("text")
    val toks = df.select(TextFunctions.tokenize($"text").as("t")).as[Seq[String]].head()
    assert(toks == Seq("hello", "world", "-", "42", ",", "ok", "!"))
  }

  test("rolling fingerprint is order-sensitive") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val fps = df.select(TextFunctions.rollingFingerprint($"text").as("f")).as[Long].collect()
    assert(fps(0) != fps(1))
    assert(fps(0) == fps(2))
  }

  test("native cosine_sim Expression: bit-identical to the HOF fold, SQL-callable") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = vecs.toDF("id", "v")
    val a = df.select($"id".as("ia"), $"v".as("va"))
    val b = df.select($"id".as("ib"), $"v".as("vb"))
    val both = a.join(b, $"ia" < $"ib")
      .select(
        CosineSimilarity($"va", $"vb").as("native"),
        VectorFunctions.cosine($"va", $"vb").as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n == h, s"bit mismatch: $n vs $h") }

    // SQL surface via the registry
    df.createOrReplaceTempView("vecs_test")
    val viaSql = spark.sql(
      "SELECT cosine_sim(v, v) AS c FROM vecs_test").as[Double].collect()
    viaSql.foreach(c => assert(math.abs(c - 1.0) < 1e-12))

    // zero vector -> null through the native path
    val z = Seq((Array(0f, 0f), Array(1f, 1f))).toDF("a", "b")
    assert(z.select(CosineSimilarity($"a", $"b")).collect().head.isNullAt(0))

    // type check rejects non-array inputs at analysis time
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(1, 2)").collect()
    }
  }

  test("int8 quantization: 4x compression, cosine preserved to ~1e-2") {
    val sf = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(100)
    val q = e.select($"vec_id",
        $"embedding",
        VectorFunctions.dequantize(VectorFunctions.quantizeInt8($"embedding")).as("deq"))
      .select($"vec_id",
        VectorFunctions.cosine($"embedding", $"deq").as("self_sim"))
      .as[(Long, Double)].collect()
    q.foreach { case (id, sim) =>
      assert(sim > 0.999, s"vec $id distorted: $sim") }

    // pairwise similarity on quantized vs exact: error bounded
    val a = e.limit(20).select($"vec_id".as("ia"), $"embedding".as("va"),
      VectorFunctions.dequantize(VectorFunctions.quantizeInt8($"embedding")).as("qa"))
    val b = e.limit(20).select($"vec_id".as("ib"), $"embedding".as("vb"),
      VectorFunctions.dequantize(VectorFunctions.quantizeInt8($"embedding")).as("qb"))
    val errs = a.join(b, $"ia" < $"ib")
      .select((VectorFunctions.cosine($"va", $"vb") -
        VectorFunctions.cosine($"qa", $"qb")).as("err"))
      .as[Double].collect()
    assert(errs.nonEmpty)
    errs.foreach(err => assert(math.abs(err) < 0.01, s"cosine drift $err"))
  }

  test("IVF index: deterministic build, cluster-pruned search, recall@10 ≥ 0.9") {
    // sf0.1 embeddings: 2000 near-uniform random vectors — the WORST case
    // for IVF (no cluster structure, neighbours spread everywhere); real
    // embedding corpora cluster far better, so this bound is conservative
    val sf = "/root/testdata/sf0.1"
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val idx = IvfIndex.build(spark, e, "vec_id", "embedding", k = 8, iterations = 5)
    assert(idx.centroids.length == 8)
    // every vector got exactly one cluster
    assert(idx.indexed.count() == e.count())

    GraftFunctions.register(spark)
    val recalls = Seq(0L, 7L, 42L, 99L, 250L).map { qid =>
      val query = e.filter($"vec_id" === qid).select($"embedding")
        .as[Array[Float]].head()
      val ivfTop = idx.search(spark, query, topK = 11, nProbe = 5)
        .as[(Long, Int, Double)].collect().map(_._1).filterNot(_ == qid).take(10)
      // brute-force ground truth via the same native expression
      val bruteTop = e.filter($"vec_id" =!= qid)
        .withColumn("c", CosineSimilarity($"embedding", typedlit(query)))
        .orderBy($"c".desc, $"vec_id").limit(10)
        .select($"vec_id").as[Long].collect()
      ivfTop.toSet.intersect(bruteTop.toSet).size
    }
    val mean = recalls.sum / 10.0 / recalls.size
    assert(mean >= 0.9, s"IVF mean recall@10 too low: $mean (per-query: $recalls)")
    assert(recalls.min >= 7, s"IVF worst-case recall@10 too low: $recalls")
    // determinism: rebuilding yields identical clusters
    val idx2 = IvfIndex.build(spark, e, "vec_id", "embedding", k = 8, iterations = 5)
    assert(idx2.indexed.select("id", "cluster").collect().toSet ==
      idx.indexed.select("id", "cluster").collect().toSet)
  }

  test("IVF build on a duplicate-heavy corpus: k collapses to the distinct " +
      "vector count, no duplicate centroids") {
    // 3 distinct vectors × 50 exact copies, k = 8: the seed sample must
    // dedupe vectors (review finding r7 — a raw row sample would exhaust
    // its distinct vectors and emit duplicate centroids, silently
    // collapsing the index)
    val base = Seq(
      Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f), Array(0.0f, 0.0f, 1.0f))
    val rows = (0 until 150).map(i => (i.toLong, base(i % 3)))
    val df = rows.toDF("vec_id", "embedding")
    val idx = IvfIndex.build(spark, df, "vec_id", "embedding", k = 8,
      iterations = 2)
    assert(idx.centroids.length == 3,
      s"expected k to collapse to 3 distinct vectors, got ${idx.centroids.length}")
    // centroids pairwise distinct
    val cents = idx.centroids.map(_._2.toSeq).toSet
    assert(cents.size == 3, s"duplicate centroids: $cents")
    // every copy of a vector lands in one cluster with its twins
    val byCluster = idx.indexed.select("id", "cluster")
      .as[(Long, Int)].collect().groupBy(_._2).view.mapValues(_.map(_._1 % 3).toSet)
    assert(byCluster.values.forall(_.size == 1), s"mixed clusters: $byCluster")
    idx.close()
  }

  test("sign-LSH ANN: multi-probe recall floor, and recall beats random sampling") {
    // sf0.1 embeddings: 2000 near-uniform random vectors — the worst case
    // for sign-LSH top-k (true neighbours sit at cos ≈ 0.35, where each
    // hyperplane agrees only ~0.6 of the time). Measured in LSH_RECALL_r3:
    // bits=4 single-probe 0.135 recall @ 6% candidates; flips=4 multi-probe
    // 0.455 @ 32% — a 1.44× lift over brute-forcing a random 32% sample,
    // which is the honest locality signal on structureless data. All hashes
    // and data are deterministic, so these numbers are stable, not flaky.
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select($"vec_id", $"embedding").cache()
    val n = e.count()
    val queries = e.filter($"vec_id" % 100 === 0).limit(20)
      .select($"vec_id".as("qid"), $"embedding".as("qv")).cache()
    val truth = queries.crossJoin(e).filter($"vec_id" =!= $"qid")
      .withColumn("c", VectorFunctions.cosine($"embedding", $"qv"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"c".desc, $"vec_id")))
      .filter($"rk" <= 10).select($"qid", $"vec_id")
      .as[(Long, Long)].collect().toSet

    def run(flips: Int): (Double, Double) = {
      val bucketed = e.withColumn("bucket",
        VectorFunctions.lshBucket($"embedding", bits = 4))
      val probes = queries.select($"qid", $"qv",
        explode(VectorFunctions.lshProbeBuckets($"qv", bits = 4, flips = flips))
          .as("bucket"))
      val cand = bucketed.join(probes, Seq("bucket")).filter($"vec_id" =!= $"qid")
      val frac = cand.count().toDouble / (queries.count() * (n - 1))
      val got = cand.withColumn("c", VectorFunctions.cosine($"embedding", $"qv"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"qid").orderBy($"c".desc, $"vec_id")))
        .filter($"rk" <= 10).select($"qid", $"vec_id")
        .as[(Long, Long)].collect().toSet
      (got.intersect(truth).size.toDouble / truth.size, frac)
    }
    val (single, _) = run(flips = 0)
    val (multi, multiFrac) = run(flips = 4)
    assert(multi >= 0.4, s"multi-probe recall@10 floor: $multi")
    assert(multi > single * 2, s"multi-probe must beat single-probe: $multi vs $single")
    assert(multi >= multiFrac * 1.2,
      s"LSH must beat random-sample recall at equal cost: $multi vs frac $multiFrac")
    e.unpersist(); queries.unpersist()
  }

  test("hist sketch: capacity compaction bounds bins, preserves mass, round-trips") {
    import graft.functions.HistSketch
    val b = new HistSketch.Buffer(32)
    val rnd = new scala.util.Random(7) // seeded — deterministic
    val xs = Array.fill(1000)(rnd.nextDouble() * 100)
    xs.foreach(b.add(_, 1L))
    assert(b.size <= 32, s"bins must stay bounded, got ${b.size}")
    assert(b.totalCount == 1000L, "compaction must not lose mass")
    val med = HistSketch.quantiles(b, Array(0.5))(0)
    val exact = xs.sorted.apply(499)
    assert(math.abs(med - exact) < 10.0, s"median estimate $med too far from $exact")
    val rt = HistSketch.deserialize(HistSketch.serialize(b))
    assert(rt.size == b.size && rt.totalCount == 1000L && rt.k == 32)
  }

  test("hist sketch agg skips NaN inputs (sorted-centroid invariant survives)") {
    GraftFunctions.register(spark)
    val df = Seq(1.0, Double.NaN, 2.0, 2.0, Double.NaN, 3.0).toDF("v")
    val got = df.agg(call_function("hist_quantiles",
        call_function("hist_sketch_agg", $"v", lit(16)),
        array(lit(0.25), lit(0.5), lit(1.0))))
      .as[Seq[Double]].head()
    // multiset {1, 2, 2, 3}: ranks (1, 2, 4) → (1, 2, 3); NaNs contributed nothing
    assert(got == Seq(1.0, 2.0, 3.0), s"got $got")
  }

  test("hist sketch: sparse-regime merge is order-independent and bit-identical") {
    import graft.functions.HistSketch
    def mk(vs: Seq[Double]) = {
      val b = new HistSketch.Buffer(64); vs.foreach(b.add(_, 1L)); b
    }
    val ab = mk(Seq(1, 5, 3)); ab.mergeWith(mk(Seq(2, 5)))
    val ba = mk(Seq(2, 5)); ba.mergeWith(mk(Seq(1, 5, 3)))
    assert(HistSketch.serialize(ab).toSeq == HistSketch.serialize(ba).toSeq)
    // {1, 2, 3, 5, 5}: lower-rank quantiles at (.2, .5, .8, 1.0) → (1, 3, 5, 5)
    assert(HistSketch.quantiles(ab, Array(0.2, 0.5, 0.8, 1.0)).toSeq ==
      Seq(1.0, 3.0, 5.0, 5.0))
  }

  test("filtered wrapper composes with sketch aggregators (hist + theta)") {
    GraftFunctions.register(spark)
    import graft.config.AggregatorSpec
    val df = Seq(("a", 1.0), ("b", 9.0), ("a", 3.0), ("a", 3.0)).toDF("t", "v")
    def filtered(delegate: AggregatorSpec) =
      AggregatorSpec("filtered", delegate.name, filterDimension = Some("t"),
        filterValue = Some("a"), aggregator = Some(delegate))
    val row = df.agg(
      graft.pipeline.Aggregators.toColumn(filtered(
        AggregatorSpec("histogramSketch", "h", Some("v"), accuracy = Some(16)))),
      graft.pipeline.Aggregators.toColumn(filtered(
        AggregatorSpec("thetaSketch", "u", Some("v"), accuracy = Some(64)))))
    val (qs, uniq) = row.select(
        call_function("hist_quantiles", $"h", array(lit(0.5), lit(1.0))),
        call_function("theta_estimate", $"u"))
      .as[(Seq[Double], Double)].head()
    // predicate keeps {1, 3, 3}: median rank 2 → 3, max → 3; distinct → 2
    assert(qs == Seq(3.0, 3.0) && uniq == 2.0, s"got $qs / $uniq")
  }

  test("theta sketch: sparse exactness, capacity estimates, intersection accuracy") {
    import graft.functions.ThetaSketch
    import org.apache.spark.unsafe.types.UTF8String
    def mk(k: Int, vs: Seq[String]) = {
      val b = new ThetaSketch.Buffer(k)
      vs.foreach(v => b.add(ThetaSketch.hash(UTF8String.fromString(v))))
      b
    }
    // sparse regime: union + intersection are EXACT
    val a = mk(64, Seq("a", "b", "c")); val b = mk(64, Seq("b", "c", "d"))
    assert(ThetaSketch.intersectEstimate(a, b) == 2.0)
    a.mergeWith(b)
    assert(ThetaSketch.estimate(a) == 4.0, "sparse union must be exact")
    val rt = ThetaSketch.deserialize(ThetaSketch.serialize(a))
    assert(ThetaSketch.estimate(rt) == 4.0 && rt.k == 64)

    // capacity regime: KMV estimator within 5% at k=1024 over 10k distinct
    val big = mk(1024, (0 until 10000).map(i => s"v$i"))
    val est = ThetaSketch.estimate(big)
    assert(math.abs(est - 10000) / 10000.0 < 0.05, s"estimate off: $est")
    // overlapping capacity sketches: intersection within 15% of true 5000
    val left = mk(1024, (0 until 10000).map(i => s"v$i"))
    val right = mk(1024, (5000 until 15000).map(i => s"v$i"))
    val inter = ThetaSketch.intersectEstimate(left, right)
    assert(math.abs(inter - 5000) / 5000.0 < 0.15, s"intersection off: $inter")
    // difference |A ∖ B| (true 5000) within the same tolerance; sparse exact
    val diff = ThetaSketch.differenceEstimate(left, right)
    assert(math.abs(diff - 5000) / 5000.0 < 0.15, s"difference off: $diff")
    assert(ThetaSketch.differenceEstimate(
      mk(64, Seq("a", "b", "c")), mk(64, Seq("b", "c", "d"))) == 1.0)
    // union of mismatched k adopts the smaller bound
    val small = mk(256, (0 until 500).map(i => s"w$i"))
    left.mergeWith(small)
    assert(left.k == 256 && left.size <= 256)
  }

  test("tuple sketch: value summing, sparse exactness, set ops, eviction, round trip") {
    import graft.functions.{ThetaSketch, TupleSketch}
    import org.apache.spark.unsafe.types.UTF8String
    def h(v: String) = ThetaSketch.hash(UTF8String.fromString(v))
    def mk(k: Int, rows: Seq[(String, Double)]) = {
      val b = new TupleSketch.Buffer(k, 1)
      rows.foreach { case (key, v) => b.add(h(key), Array(v)) }
      b
    }
    // same key sums values; distinct keys counted once
    val a = mk(64, Seq("a" -> 1.0, "b" -> 2.0, "a" -> 3.0))
    assert(TupleSketch.estimate(a) == 2.0)
    assert(TupleSketch.metricsSumEstimate(a).toSeq == Seq(6.0))
    // serialization round trip preserves keys AND values
    val rt = TupleSketch.deserialize(TupleSketch.serialize(a))
    assert(TupleSketch.estimate(rt) == 2.0 && rt.k == 64 && rt.numValues == 1)
    assert(TupleSketch.metricsSumEstimate(rt).toSeq == Seq(6.0))
    // merge re-sums common keys across partials (the storage re-merge law)
    val b = mk(64, Seq("b" -> 10.0, "c" -> 5.0))
    rt.mergeWith(b)
    assert(TupleSketch.estimate(rt) == 3.0)
    assert(TupleSketch.metricsSumEstimate(rt).toSeq == Seq(21.0))
    // set ops, sparse-exact: INTERSECT sums both sides for common keys;
    // NOT keeps A's values; UNION = merge
    val x = mk(64, Seq("a" -> 1.0, "b" -> 2.0))
    val y = mk(64, Seq("b" -> 7.0, "c" -> 9.0))
    val i = TupleSketch.setOp(x, y, "INTERSECT")
    assert(TupleSketch.estimate(i) == 1.0 &&
      TupleSketch.metricsSumEstimate(i).toSeq == Seq(9.0))
    val n = TupleSketch.setOp(x, y, "NOT")
    assert(TupleSketch.estimate(n) == 1.0 &&
      TupleSketch.metricsSumEstimate(n).toSeq == Seq(1.0))
    val u = TupleSketch.setOp(x, y, "UNION")
    assert(TupleSketch.estimate(u) == 3.0 &&
      TupleSketch.metricsSumEstimate(u).toSeq == Seq(19.0))
    // saturated regime: estimate within 5%, metric sum estimate within 10%
    // (each key carries 2.0, true total 2×10000); eviction keeps k entries
    val big = mk(1024, (0 until 10000).map(i => s"v$i" -> 2.0))
    assert(big.size == 1024)
    val est = TupleSketch.estimate(big)
    assert(math.abs(est - 10000) / 10000.0 < 0.05, s"estimate off: $est")
    val ms = TupleSketch.metricsSumEstimate(big)(0)
    assert(math.abs(ms - 20000) / 20000.0 < 0.10, s"metric sum off: $ms")
    // an update to the RETAINED MAX key must sum, not drop (the
    // equal-to-max edge where theta's distinct-only shortcut would skip)
    val retainedMax = big.hashes(big.size - 1)
    val mkey = (0 until 10000).map(i => s"v$i").find(v => h(v) == retainedMax).get
    val before = {
      var s = 0.0; var idx = 0
      while (idx < big.size) { s += big.values(idx)(0); idx += 1 }; s
    }
    big.add(h(mkey), Array(1.0))
    val after = {
      var s = 0.0; var idx = 0
      while (idx < big.size) { s += big.values(idx)(0); idx += 1 }; s
    }
    assert(after == before + 1.0 && big.size == 1024)
    // numValues mismatch is loud
    val w2 = new TupleSketch.Buffer(64, 2)
    w2.add(h("z"), Array(1.0, 2.0))
    assertThrows[IllegalArgumentException](w2.mergeWith(mk(64, Seq("q" -> 1.0))))
    // NULL metric arrays count the key with zero values — including when
    // the null arrives BEFORE the width is known (zero-width rows pad on
    // adoption; a merge of a width-less partial pads too)
    val late = new TupleSketch.Buffer(64, 0)
    late.add(h("n1"), Array.empty[Double]) // null-array row, width unknown
    late.adoptWidth(1)
    late.add(h("n2"), Array(5.0))
    assert(TupleSketch.estimate(late) == 2.0 &&
      TupleSketch.metricsSumEstimate(late).toSeq == Seq(5.0))
    val rt2 = TupleSketch.deserialize(TupleSketch.serialize(late))
    assert(TupleSketch.metricsSumEstimate(rt2).toSeq == Seq(5.0))
    val widthless = new TupleSketch.Buffer(64, 0)
    widthless.add(h("n3"), Array.empty[Double])
    late.mergeWith(widthless)
    assert(TupleSketch.estimate(late) == 3.0 &&
      TupleSketch.metricsSumEstimate(late).toSeq == Seq(5.0))
    // set ops pad width-less inputs too (intersect/not must not index
    // zero-width rows)
    val wl2 = new TupleSketch.Buffer(64, 0)
    wl2.add(h("n2"), Array.empty[Double])
    val iWl = TupleSketch.setOp(late, wl2, "INTERSECT")
    assert(TupleSketch.estimate(iWl) == 1.0 &&
      TupleSketch.metricsSumEstimate(iWl).toSeq == Seq(5.0))
    val nWl = TupleSketch.setOp(wl2, late, "NOT")
    assert(TupleSketch.estimate(nWl) == 0.0)
    assert(TupleSketch.metricsSumEstimate(
      TupleSketch.deserialize(TupleSketch.serialize(
        TupleSketch.setOp(late, wl2, "NOT")))).toSeq == Seq(0.0))
    // end-to-end: CASE WHEN null arrays through the real aggregate (the
    // null row still counts toward the distinct estimate)
    val df = Seq(("b", Option.empty[Double]), ("a", Some(1.0)),
      ("a", Some(2.0))).toDF("k", "v").coalesce(1)
      .select($"k",
        when($"v".isNotNull, array($"v".cast("double"))).as("m"))
    graft.functions.GraftFunctions.register(spark)
    val agg = df.agg(call_function("tuple_sketch_agg", $"k", $"m", lit(64))
      .as("sk"))
      .select(call_function("tuple_estimate", $"sk").as("est"),
        element_at(call_function("tuple_metrics_sum", $"sk"), 1).as("s"))
      .head()
    assert(agg.getDouble(0) == 2.0 && agg.getDouble(1) == 3.0, agg.toString)
  }

  test("multimodal stub decode: partition-wise feature extraction") {
    val df = Seq((1L, "src", "x" * 2500)).toDF("doc_id", "source", "text")
      .select($"doc_id", $"source", $"text".cast("binary").as("payload"))
    val feats = MultimodalFunctions.extractFeatures(spark, df)
      .as[MultimodalFunctions.AssetFeatures].head()
    assert(feats.n_bytes == 2500)
    assert(feats.first_byte == 'x'.toInt)
    assert(feats.frame_count == 3)
    val frames = MultimodalFunctions.sampleFrames(spark,
      df.select($"doc_id", $"payload"), everyK = 2).count()
    assert(frames == 2) // frames 0 and 2
  }

  test("multimodal batched embedding: batch sizes bounded, rows preserved, " +
      "features partition-independent; resize plan + audio framing edges") {
    val docs = (1L to 100L).map(i => (i, "y" * (i.toInt * 37 % 911)))
    val df = docs.toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val out = MultimodalFunctions.embedBatches(spark, df.repartition(7), 32)
      .as[MultimodalFunctions.EmbeddedAsset].collect()
    assert(out.length == 100) // row multiset preserved
    assert(out.map(_.doc_id).sorted.toSeq == (1L to 100L))
    assert(out.forall(e => e.batch_size >= 1 && e.batch_size <= 32))
    // per-row features do NOT depend on partitioning / batch composition
    val single = MultimodalFunctions.embedBatches(spark, df.coalesce(1), 32)
      .as[MultimodalFunctions.EmbeddedAsset].collect()
      .map(e => e.doc_id -> e.norm_sq).toMap
    assert(out.forall(e => single(e.doc_id) == e.norm_sq))
    // a single-partition run packs full batches (the forward-pass shape)
    assert(MultimodalFunctions.embedBatches(spark, df.coalesce(1), 32)
      .as[MultimodalFunctions.EmbeddedAsset].collect()
      .count(_.batch_size == 32) >= 96)

    // resize plan: landscape pins width, portrait pins height, min side 1
    val rp = MultimodalFunctions.resizePlan(spark, df, maxSide = 224)
      .as[MultimodalFunctions.ResizePlan].collect()
    assert(rp.forall(p => math.max(p.out_w, p.out_h) == 224))
    assert(rp.forall(p => p.out_w >= 1 && p.out_h >= 1))
    assert(rp.forall(p => (p.src_w >= p.src_h) == (p.out_w == 224)))

    // audio framing: below one window → 0 frames; exactly one window → 1
    val tiny = Seq((1L, "z" * 798), (2L, "z" * 800), (3L, "z" * 801))
      .toDF("doc_id", "text")
      .select($"doc_id", $"text".cast("binary").as("payload"))
    val af = MultimodalFunctions.audioFrames(spark, tiny)
      .as[MultimodalFunctions.AudioFrames].collect()
      .map(a => a.doc_id -> a.n_frames).toMap
    assert(af == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("bloom sketch: no false negatives, bounded false positives, mergeable") {
    GraftFunctions.register(spark)
    val n = 5000L
    val items = spark.range(n).selectExpr("CAST(id AS STRING) AS s")
    val bits = 1 << 17
    val bytes = items
      .agg(call_function("bloom_agg", $"s", lit(bits), lit(7)).as("b"))
      .head().getAs[Array[Byte]](0)

    // a Bloom filter NEVER drops a member
    val misses = items
      .filter(!call_function("bloom_might_contain", lit(bytes), $"s")).count()
    assert(misses == 0)

    // disjoint keys: observed fp rate well under 1% at ~26 bits/item, k=7
    // (theoretical ~4e-5; the bound is generous to stay non-flaky)
    val absent = spark.range(n, 3 * n).selectExpr("CAST(id AS STRING) AS s")
    val fps = absent
      .filter(call_function("bloom_might_contain", lit(bytes), $"s")).count()
    assert(fps.toDouble / (2 * n) < 0.01, s"fp rate ${fps.toDouble / (2 * n)}")

    // partials OR together: two half-filters unioned == one-shot filter,
    // bit for bit (the storage re-merge path, like hll/theta union)
    def bloomOf(lo: Long, hi: Long): Array[Byte] = spark.range(lo, hi)
      .selectExpr("CAST(id AS STRING) AS s")
      .agg(call_function("bloom_agg", $"s", lit(bits), lit(7)).as("b"))
      .head().getAs[Array[Byte]](0)
    val merged = Seq(bloomOf(0, n / 2), bloomOf(n / 2, n)).toDF("sk")
      .agg(call_function("bloom_union_agg", $"sk").as("b"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, bytes))

    // sizing helpers: textbook optima in sane ranges
    val m = BloomSketch.optimalBits(1000000L, 0.01)
    assert(m > 9000000 && m < 10000000) // ≈ 9.59M bits for 1M items @1%
    assert(BloomSketch.optimalHashes(1000000L, m) == 7)
  }

  test("freq sketch: sparse exactness, heavy-hitter guarantee, mergeable partials") {
    GraftFunctions.register(spark)
    // sparse regime: 20 distinct items under k=64 → exact counts
    val sparse = spark.range(200).selectExpr("CAST(id % 20 AS STRING) AS s")
    val sk = sparse.agg(call_function("freq_sketch_agg", $"s", lit(64)).as("b"))
      .head().getAs[Array[Byte]](0)
    val top = FreqSketch.deserialize(sk).topK(100)
    assert(top.size == 20 && top.forall(_._2 == 10L))

    // merge of halves == one-shot (sparse ⇒ bit-identical serialized form:
    // deterministic (count desc, item asc) entry order)
    def skOf(lo: Int, hi: Int): Array[Byte] = spark.range(lo, hi)
      .selectExpr("CAST(id % 20 AS STRING) AS s")
      .agg(call_function("freq_sketch_agg", $"s", lit(64)).as("b"))
      .head().getAs[Array[Byte]](0)
    val merged = Seq(skOf(0, 100), skOf(100, 200)).toDF("sk")
      .agg(call_function("freq_merge_agg", $"sk").as("b"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, sk))

    // capacity regime: planted heavy item among adversarial distinct noise —
    // frequency 2000/12000 >> n/(k+1) = 12000/17, MUST survive with k=16
    val heavy = spark.range(10000).selectExpr("CAST(id AS STRING) AS s")
      .union(spark.range(2000).selectExpr("'HEAVY' AS s"))
    val hsk = heavy.agg(call_function("freq_sketch_agg", $"s", lit(16)).as("b"))
      .head().getAs[Array[Byte]](0)
    val htop = FreqSketch.deserialize(hsk).topK(1)
    assert(htop.head._1 == "HEAVY",
      s"heavy hitter must survive capacity pressure: $htop")
    // MG counts are lower bounds within n/(k+1)
    assert(htop.head._2 <= 2000L && htop.head._2 >= 2000L - 12000L / 17)

    // freq_topk is SQL-surfaced and deterministically ordered
    val rows = Seq(sk).toDF("sk")
      .selectExpr("inline(freq_topk(sk, 3))")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("0", 10L), ("1", 10L), ("10", 10L)))
  }

  test("sketch merge laws: bloom/freq/theta commutative + associative (seeded random)") {
    // pure-JVM property pass over the Buffer types (no Spark) — the
    // TypedImperativeAggregate contract merges partials in arbitrary order
    // and grouping, so order-independence of the serialized form (in the
    // regimes that promise it) is load-bearing, not cosmetic
    val rnd = new scala.util.Random(42)
    (1 to 20).foreach { _ =>
      val sets = Seq.fill(3)(Seq.fill(rnd.nextInt(200) + 1)(
        "item-" + rnd.nextInt(500)))

      // bloom: OR is commutative/associative and equals the one-shot build
      def bloomOf(items: Seq[String]*): Array[Byte] = {
        val b = new BloomSketch.Buffer(4096, 5)
        items.flatten.foreach { s =>
          val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
          b.add(BloomSketch.hash1(u), BloomSketch.hash2(u))
        }
        BloomSketch.serialize(b)
      }
      def bloomMerge(parts: Seq[Array[Byte]]): Array[Byte] = {
        val acc = new BloomSketch.Buffer(0, 0)
        parts.foreach(p => acc.mergeWith(BloomSketch.deserialize(p)))
        BloomSketch.serialize(acc)
      }
      val bParts = sets.map(s => bloomOf(s))
      assert(java.util.Arrays.equals(bloomMerge(bParts), bloomMerge(bParts.reverse)))
      assert(java.util.Arrays.equals(bloomMerge(bParts), bloomOf(sets: _*)))

      // freq (sparse regime: k=1000 > 500 possible distinct): counts exact,
      // serialized form order-independent and equal to the one-shot build
      def freqOf(items: Seq[String]*): Array[Byte] = {
        val b = new FreqSketch.Buffer(1000)
        items.flatten.foreach(b.add(_))
        FreqSketch.serialize(b)
      }
      def freqMerge(parts: Seq[Array[Byte]]): Array[Byte] = {
        val acc = new FreqSketch.Buffer(0)
        parts.foreach(p => acc.mergeWith(FreqSketch.deserialize(p)))
        FreqSketch.serialize(acc)
      }
      val fParts = sets.map(s => freqOf(s))
      assert(java.util.Arrays.equals(freqMerge(fParts), freqMerge(fParts.reverse)))
      assert(java.util.Arrays.equals(freqMerge(fParts), freqOf(sets: _*)))

      // theta (sparse regime: k=1024 > distinct): same guarantees
      def thetaOf(items: Seq[String]*): Array[Byte] = {
        val b = new ThetaSketch.Buffer(1024)
        items.flatten.foreach(s => b.add(ThetaSketch.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s))))
        ThetaSketch.serialize(b)
      }
      def thetaMerge(parts: Seq[Array[Byte]]): Array[Byte] = {
        val acc = new ThetaSketch.Buffer(0)
        parts.foreach(p => acc.mergeWith(ThetaSketch.deserialize(p)))
        ThetaSketch.serialize(acc)
      }
      val tParts = sets.map(s => thetaOf(s))
      assert(java.util.Arrays.equals(thetaMerge(tParts), thetaMerge(tParts.reverse)))
      assert(java.util.Arrays.equals(thetaMerge(tParts), thetaOf(sets: _*)))
    }
  }

  test("GraftExtensions: spark.sql.extensions session serves pure-SQL users") {
    import org.apache.spark.sql.SparkSession
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    // fresh session built THROUGH the SparkSessionExtensions injection hook —
    // no imperative register() call anywhere. (The equivalent string config
    // `spark.sql.extensions=graft.functions.GraftExtensions` is a STATIC conf
    // read at SparkContext creation, so it can't be exercised on this suite's
    // shared context; withExtensions drives the identical injectFunction path.)
    val s2 = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      assert(s2 ne spark)
      val distinct = s2.sql(
        """SELECT CAST(theta_estimate(theta_sketch_agg(CAST(id AS STRING), 64))
          |  AS BIGINT) AS d FROM range(40)""".stripMargin).head().getLong(0)
      assert(distinct == 40L) // sparse-exact regime
      val row = s2.sql(
        """SELECT bloom_might_contain(b, '7')  AS hit,
          |       bloom_might_contain(b, 'certainly-absent-key') AS miss
          |FROM (SELECT bloom_agg(s, 4096, 5) AS b
          |      FROM (SELECT CAST(id AS STRING) AS s FROM range(20)))""".stripMargin)
        .head()
      assert(row.getBoolean(0) && !row.getBoolean(1))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("range join: seeded-random cross-check vs the naive O(n²) definition") {
    val rnd = new scala.util.Random(7)
    val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    // timestamps spread over ~2h with second-level jitter → plenty of
    // cross-bucket and exact-boundary pairs at span 90s
    val lefts = (1 to 200).map(i => (i.toLong, base + rnd.nextInt(7200) * 1000L))
    val rights = (1 to 300).map(i => (i.toLong + 1000L, base + rnd.nextInt(7200) * 1000L))
    val span = 90L
    val expected = (for {
      (lid, lt) <- lefts
      (rid, rt) <- rights
      if rt >= lt - span * 1000 && rt < lt
    } yield (lid, rid)).toSet

    val lDf = lefts.map { case (id, t) => (id, new java.sql.Timestamp(t)) }
      .toDF("l_id", "l_ts")
    val rDf = rights.map { case (id, t) => (id, new java.sql.Timestamp(t)) }
      .toDF("r_id", "r_ts")
    val got = RangeJoin.trailing(lDf, rDf, "l_ts", "r_ts", span)
      .select($"l_id", $"r_id").as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("range join: half-open boundaries, cross-bucket matches, equi-join plan") {
    import java.sql.Timestamp
    def t(x: String) = Timestamp.valueOf(x)
    val purchases = Seq(
      (1L, t("2024-01-01 00:02:00")), // window [00:01:00, 00:02:00)
      (2L, t("2024-01-01 05:00:00")), // no clicks anywhere near
      (3L, t("2024-01-01 00:02:30"))  // window [00:01:30, 00:02:30)
    ).toDF("p_id", "p_ts")
    val clicks = Seq(
      (10L, t("2024-01-01 00:01:00")), // = p1 lower bound → included (closed)
      (11L, t("2024-01-01 00:01:30")), // in p1; = p3 lower bound → both
      (12L, t("2024-01-01 00:02:00")), // = p1 upper bound → excluded (open); in p3
      (13L, t("2024-01-01 00:00:59")), // just below p1's window
      (14L, t("2024-01-01 00:02:10"))  // same-bucket match for p3
    ).toDF("c_id", "c_ts")

    val counts = RangeJoin
      .trailing(purchases, clicks, "p_ts", "c_ts", 60L, "left_outer")
      .groupBy($"p_id").agg(count($"c_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L, 2L -> 0L, 3L -> 3L))

    val pairs = RangeJoin.trailing(purchases, clicks, "p_ts", "c_ts", 60L)
      .select($"p_id", $"c_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 10L), (1L, 11L), (3L, 11L), (3L, 12L), (3L, 14L)))

    // the bucketed rewrite must surface an equi conjunct — a shuffle join,
    // never the nested-loop shape the raw range condition would plan to
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = RangeJoin.trailing(purchases, clicks, "p_ts", "c_ts", 60L)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("BroadcastNestedLoopJoin"))
      assert(!plan.contains("CartesianProduct"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
