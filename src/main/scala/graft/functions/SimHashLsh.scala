package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] Hamming-LSH banding over 64-bit SimHash fingerprints — the scale
  * path for simhash near-dup detection (the Manku/Charikar web-dedup
  * construction; SURVEY §2.11).
  *
  * Pigeonhole guarantee: split the 64 bits into `bands` contiguous chunks;
  * two fingerprints with hamming distance ≤ maxHamming < bands differ in at
  * most maxHamming bands, so at least one band is bit-identical — recall is
  * exact, not probabilistic. The self-join shuffles slim
  * (id, fingerprint, bandIdx, bandValue) rows; candidates are verified with
  * exact `bit_count(a XOR b)`. At 100 TB the bucket key space per band is
  * 2^(64/bands) (65536 for 4 bands), so candidate pairs stay
  * O(n²/2^bandWidth) per band instead of the all-pairs O(n²).
  */
object SimHashLsh {

  /** The `bands` band values of a 64-bit fingerprint: contiguous bit chunks
    * (band i = bits [i·w, (i+1)·w), w = 64/bands).
    */
  def bandValues(sh: Column, bands: Int): Seq[Column] = {
    require(bands >= 1 && 64 % bands == 0,
      s"bands must divide 64 (got $bands): a remainder chunk would weaken the " +
        "pigeonhole guarantee for the bits it drops")
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    (0 until bands).map(i => shiftright(sh, i * w).bitwiseAND(lit(mask)))
  }

  /** Banded near-dup pairs over precomputed fingerprints:
    * (id_a, id_b, hamming) for all pairs with hamming ≤ maxHamming —
    * exact-recall by the pigeonhole argument (requires bands > maxHamming).
    */
  def nearDupsFromFingerprints(
      df: DataFrame,
      idCol: String,
      shCol: String,
      maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    require(bands > maxHamming,
      s"pigeonhole recall guarantee needs bands > maxHamming (got bands=$bands, " +
        s"maxHamming=$maxHamming): $maxHamming differing bits could otherwise " +
        "touch every band and the pair would never collide")
    val withBands = df.select(col(idCol).as("id"), col(shCol).as("sh"))
      .select(col("id"), col("sh"),
        posexplode(array(bandValues(col("sh"), bands): _*)).as(Seq("band_idx", "band_val")))
    val a = withBands.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("band_idx"), col("band_val"))
    val b = withBands.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("band_idx"), col("band_val"))
    // fingerprints are 8 bytes — cheaper to carry through the bucket join
    // than to re-join them onto candidates (contrast MinHash's shingle sets).
    // The exact-hamming filter runs BEFORE the dedup shuffle: bit_count is a
    // codegen'd per-row op, so false candidates never reach the exchange and
    // the distinct dedups only true near-dup pairs (a pair can surface from
    // up to `bands` buckets).
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", TextFunctions.hammingDistance(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Jaccard-verified near-dups, the oracle-checkable form: Hamming-LSH
    * banded candidates (recall EXACT for hamming ≤ maxHamming by the
    * pigeonhole argument) verified by exact shingle jaccard — the same
    * ground-truth semantics as [[MinHash.nearDupPairs]], so the output
    * equals the full jaccard≥threshold pair set whenever the corpus's true
    * near-dup pairs all sit within maxHamming simhash bits. On the planted-
    * dup testdata that holds with margin: max hamming over jaccard≥0.3
    * pairs is 5 at sf0.01 (measurement recorded in RESULTS_r5.md) vs the
    * default bound 7. Precision needs no assumption — the exact-
    * jaccard filter removes hamming-close-but-dissimilar candidates.
    */
  def nearDupsVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 7,
      bands: Int = 8,
      shingleWidth: Int = 3,
      threshold: Double = 0.3): DataFrame =
    // exact-duplicate pre-collapse (shared with MinHash.nearDupPairs):
    // identical texts → identical fingerprints (hamming 0 always collides)
    // and identical shingle sets (jaccard exactly 1.0), so the expansion
    // is bit-identical to the raw pipeline — see ExactCollapse
    ExactCollapse.pairsByText(df, idCol, textCol, threshold)(reps =>
      verifiedOnDistinct(reps, maxHamming, bands, shingleWidth, threshold))

  /** The raw pipeline over (id, text) rows assumed pairwise-distinct in
    * text (the collapse wrapper's representatives). */
  private def verifiedOnDistinct(
      df: DataFrame,
      maxHamming: Int,
      bands: Int,
      shingleWidth: Int,
      threshold: Double): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // one pass computes fingerprint + shingle set; cached for ONE
    // materialization (CacheScope releases it after the first action —
    // advice r7) because the subtree feeds the bucket join twice and the
    // verification join once
    graft.pipeline.CacheScope.withCached(
      graft.pipeline.Parallelism.fanOut(
          df.select(col("id"), col("text").as("__text")), col("id"))
        .select(col("id"),
          TextFunctions.simhash(col("__text")).as("sh"),
          array_distinct(MinHash.shingles(col("__text"), shingleWidth)).as("shg"))
    ) { base =>
    val cand = nearDupsFromFingerprints(
      base.select(col("id"), col("sh")), "id", "sh", maxHamming, bands)
    val sets = base.select(col("id"), col("shg"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shg").as("sg_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("shg").as("sg_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sg_a"), col("sg_b"))).cast("double") /
          size(array_union(col("sg_a"), col("sg_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }
  }

  /** End-to-end: text → SimHash64 → banded candidate pairs → exact hamming. */
  def nearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // fanOut the RAW columns, then fingerprint — the exchange must sit
    // BELOW the simhash projection or the compute-dense stage still runs
    // on the narrow input partitioning (same decoupling as
    // MinHash.nearDupPairs; graft.pipeline.Parallelism scaladoc)
    nearDupsFromFingerprints(
      graft.pipeline.Parallelism.fanOut(
          df.select(col(idCol).as("id"), col(textCol).as("__text")), col("id"))
        .select(col("id"), TextFunctions.simhash(col("__text")).as("sh")),
      "id", "sh", maxHamming, bands)
  }
}
