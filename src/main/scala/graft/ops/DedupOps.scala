package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.TextExpressions.simhash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle-bounded plan:
  *
  *  - exact: hash-groupBy on content (or any column set);
  *  - identical token sets (Jaccard = 1.0): one bucket per set
  *    fingerprint, pairs enumerated inside it;
  *  - MinHash + LSH: shingle → k-lane minhash → banded bucket join —
  *    candidate generation never compares all pairs; candidates are
  *    verified with one array_intersect per pair;
  *  - SimHash: 64- or 128-bit sign-vector fingerprint, pigeonhole-banded
  *    into `maxHamming + 1` bit slices, Hamming-verified with
  *    `bit_count(a^b)`;
  *  - exact n-gram Jaccard: inverted-index co-occurrence counting — the
  *    shingle self-join's per-pair count IS the intersection size, so no
  *    candidate set is verified afterwards.
  *
  * Every pair-finding operator (identical sets, MinHash LSH, both SimHash
  * widths, and AnnOps' embedding near-dups) goes through ONE capped band
  * self-join, [[cappedBandPairs]], which also owns the hot-bucket cap.
  */
object DedupOps {

  /** Exact-duplicate groups by `cols`: one row per duplicated value set,
    * with the surviving (minimum) id and the multiplicity. */
  def exactDupGroups(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Spread `df` over the session's configured shuffle parallelism before
    * a row-amplifying or CPU-heavy projection. Scan parallelism follows
    * file splits (`maxPartitionBytes`), which is the WRONG unit for an
    * explode that amplifies rows ~100×, a per-row tokenize/sort or a
    * per-row vector fold (AnnOps), or a bucket self-join that emits
    * O(bucket²) pairs: a 100 MB parquet split exploding to 10 GB of
    * shingles runs on one core. The explicit partition count keeps AQE from
    * re-coalescing the (small pre-explode) exchange back down. */
  private[ops] def spread(df: DataFrame, keys: String*): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(parts, keys.map(col): _*)
  }

  /** (id, shingle) inverted index over distinct word n-gram shingles. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(docs, idCol).select(col(idCol).as("_id"),
      explode(array_distinct(TextOps.shingles(col(textCol), n))).as("_s"))

  /** Per-doc distinct shingle set + its size (the verification-side
    * projection: one row per document, set rides as an array). The set is
    * deliberately NOT sorted: every consumer either sizes an
    * `array_intersect` (order-insensitive) or explodes the set — the former
    * per-doc `array_sort` was a pure-waste O(m log m) string sort per row. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // the coalesce makes `_set` (and so `_n`) provably NON-NULL: without
    // it, constraint inference derives an `isnotnull(_n)` filter from the
    // downstream join conditions and pushes it below the spread exchange,
    // re-evaluating the whole tokenize+shingle expression once more per row
    // on the pre-exchange side (observed in the q16 plan)
    spread(docs, idCol).select(col(idCol).as("_id"),
        coalesce(array_distinct(TextOps.shingles(col(textCol), n)),
          array().cast("array<string>")).as("_set"))
      .withColumn("_n", size(col("_set")))

  /** Exact verification of candidate pairs (a, b): join each side's shingle
    * set and compute the true intersection with ONE codegen'd
    * array_intersect per pair — no inverted-index self-join, so cost is
    * O(|candidates| · setSize), never O(hot-shingle²). */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    cands
      .join(sets.select(col("_id").as("a"), col("_set").as("_sa"), col("_n").as("na")), "a")
      .join(sets.select(col("_id").as("b"), col("_set").as("_sb"), col("_n").as("nb")), "b")
      .withColumn("inter", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("uni", (col("na") + col("nb")).cast("long") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= threshold)

  /** Identical-set duplicate pairs (the Jaccard = 1.0 special case):
    * identical sets have identical fingerprints, so ONE band keyed on a
    * 128-bit fingerprint of the sorted distinct-element array plus the set
    * size puts every duplicate cluster in one bucket of
    * [[cappedBandPairs]], which enumerates its pairs. Output (a, b, inter)
    * with a < b, inter = set size.
    *
    * Cluster-size bound (100 TB guard): a cluster of more than
    * `maxClusterSize` members is left out of the pair join, so one
    * pathological billion-copy duplicate cluster cannot emit O(cluster²)
    * pairs. It emits ONE deterministic marker row instead:
    * `a == b == min(id)` with `inter = -clusterSize` — impossible for a
    * real pair (which always has a < b and inter > 0). */
  def identicalSetPairs(docs: DataFrame, idCol: String, sortedSet: Column,
      maxClusterSize: Int = 10000): DataFrame = {
    // the set is its own projection, so its expression is planned once
    val sets = spread(docs, idCol).select(col(idCol).as("_id"), sortedSet.as("_set"))
      .select(col("_id"), xxhash64(lit(1), col("_set")).as("_fp1"),
        xxhash64(lit(2), col("_set")).as("_fp2"), size(col("_set")).as("_n"))
    // both sides hold the set size; reading both keeps the join's two sides
    // one plan, so the fingerprints are computed once
    cappedBandPairs(sets, col("_id"), Seq(Seq(col("_fp1"), col("_fp2"), col("_n"))),
        maxClusterSize, carry = Seq("_n"))
      .select(col("a"), col("b"),
        coalesce(-col("bucket"), least(col("x__n"), col("y__n")).cast("long")).as("inter"))
  }

  /** Identical-token-set duplicate pairs (whitespace tokens, n = 1).
    * Inherits [[identicalSetPairs]]'s truncation sentinel: a duplicate
    * cluster larger than the default cap yields ONE `a == b,
    * inter = -clusterSize` marker row instead of O(cluster²) pairs —
    * consumers that require real pairs only must filter `a < b`. */
  def tokenSetDupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    identicalSetPairs(docs, idCol, array_sort(TextOps.distinctTokens(col(textCol))))

  /** Exact n-gram Jaccard pairs ≥ threshold, emitted as (a, b, inter, uni)
    * with a < b.
    *
    * At `threshold >= 1.0` this delegates to [[identicalSetPairs]],
    * including its truncation sentinel: a duplicate cluster past the cap
    * emits one `a == b, inter = uni = -clusterSize` marker row (impossible
    * for a real pair, which has a < b and inter > 0) rather than
    * enumerating O(cluster²) pairs.
    *
    * Below 1.0 it counts inverted-index co-occurrences: each doc's
    * distinct shingles (with the set size riding along) self-join on the
    * shingle, and ONE hash aggregate over the co-occurrence rows computes
    * the exact intersection size per pair — `inter = count` because
    * shingles are distinct within a doc. No candidate materialization, no
    * per-pair set shipping, no array_intersect. The size filter
    * `min(na,nb) ≥ t·max(na,nb)` prunes inside the join before rows reach
    * the aggregate.
    *
    * Scale note: cost is Σ_s df(s)², the inherent inverted-index bound for
    * EXACT low-threshold Jaccard (a prefix filter provably cannot prune
    * hot shingles at low t — they sit inside almost every prefix). A
    * degenerate hot shingle (df ~ 10^6) makes any exact plan quadratic;
    * at web scale use MinHash+LSH ([[minHashNearDupPairs]]) for low-t
    * near-dup, exactly as this library's q17 does. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    if (threshold >= 1.0)
      // Jaccard = 1 ⇔ identical shingle sets: one fingerprint bucket per set
      return identicalSetPairs(docs, idCol,
          array_sort(array_distinct(TextOps.shingles(col(textCol), n))))
        .withColumn("uni", col("inter"))
        .select(col("a"), col("b"), col("inter"), col("uni"))
    val sets = shingleSets(docs, idCol, textCol, n)
    // Two deliberate choices versus the straightforward string-shingle
    // explode + self-join, both aimed at the exchanges this plan lives in:
    //
    //  1. the join/shuffle key is xxhash64(shingle) — 8 bytes instead of a
    //     ~20-byte string, with long (not string) hashing and comparison at
    //     every exchange, build and probe. Shingles are distinct per doc
    //     pre-hash, so `inter = count` still holds unless two DISTINCT
    //     shingles of a co-occurring doc pair collide in 64 bits
    //     (P ≈ m²/2^64 per pair — the same collision class the engine's own
    //     128-bit dedup fingerprints accept at a far larger m);
    //  2. `explode_outer`, not `explode`: the non-outer generate injects a
    //     `size(...) > 0` filter that Catalyst pushes below the spread
    //     exchange, re-evaluating the whole tokenize+shingle expression on
    //     the pre-exchange side (measured in the r5 q16 plan: the filter
    //     recomputed shingles 3× per row below the Exchange). The outer
    //     generate emits one null row per empty doc instead, which the
    //     equi-join drops for free.
    //
    // Both self-join branches are hinted to a shuffled hash join so each
    // ends in the IDENTICAL Exchange(hashpartitioning(_s)) — ReuseExchange
    // computes the shingle projection once and replays it (the unhinted
    // plan broadcast one branch, duplicating the whole projection).
    val dtn = sets.select(col("_id"), col("_n").cast("long").as("_n"),
      explode_outer(transform(col("_set"), s => xxhash64(s))).as("_s"))
    dtn.as("x").hint("shuffle_hash").join(dtn.as("y").hint("shuffle_hash"),
        col("x._s") === col("y._s") && col("x._id") < col("y._id") &&
          col("x._n").cast("double") >= lit(threshold) * col("y._n") &&
          col("y._n").cast("double") >= lit(threshold) * col("x._n"))
      .groupBy(col("x._id").as("a"), col("y._id").as("b"),
        col("x._n").as("na"), col("y._n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter").cast("double") / col("uni") >= threshold)
      .select(col("a"), col("b"), col("inter"), col("uni"))
  }

  /** k-lane MinHash signatures over word n-gram shingles: ONE explode +
    * ONE groupBy computing all k minima (k independent xxhash64 lanes). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32): DataFrame = {
    val dt = shingleIndex(docs, idCol, textCol, n)
    val lanes = (0 until k).map(i => min(xxhash64(lit(i), col("_s"))).as(s"_mh$i"))
    dt.groupBy(col("_id")).agg(lanes.head, lanes.tail: _*)
  }

  /** LSH candidate pairs: band the k-lane signature into `bands` groups of
    * k/bands rows, bucket-join on (band index, band hash). Identical-band
    * docs collide; distinct pairs only (a < b).
    *
    * Hot-bucket bound (100 TB guard, [[cappedBandPairs]]): a bucket holding more than
    * `maxBucketSize` members — a degenerate corpus where ~every doc shares
    * one band hash would otherwise drive the self-join to O(bucket²) pairs —
    * is EXCLUDED from the pair join and surfaced as ONE deterministic marker
    * row `a == b == min(member id)`, impossible for a real candidate (which
    * always has a < b). Downstream exact verification keeps the marker
    * visible: the self-pair verifies at jaccard 1.0 and emits as an `a == b`
    * row consumers can alert on. Pairs an oversized bucket would have found
    * usually survive via their other bands; only the candidate-recall of
    * marked buckets is narrowed, visibly. */
  def lshCandidatePairs(signatures: DataFrame, k: Int = 32, bands: Int = 8,
      maxBucketSize: Int = 10000): DataFrame = {
    val rows = k / bands
    val bandKeys = (0 until bands).map(bnd =>
      Seq(lit(bnd), xxhash64((bnd * rows until (bnd + 1) * rows).map(i => col(s"_mh$i")): _*)))
    cappedBandPairs(signatures, col("_id"), bandKeys, maxBucketSize).select(col("a"), col("b"))
  }

  /** Distinct pairs (a, b), a < b, of the rows of `df` that share a band
    * bucket — the one bucket self-join of every pair-finding operator.
    * `bands` holds each band's bucket key, a list of columns of the same
    * types in every band: a bucket is one value of the whole key (so a band
    * index in it keeps the bands apart). `id` is the row id; a null id is
    * in no bucket, nor is a row whose bucket key has a null.
    *
    * Each column named in `carry` rides along on both sides of a pair, as
    * `x_<c>` (a's value) and `y_<c>` (b's value), so the caller can verify
    * or measure the pair without rejoining by id.
    *
    * Hot-bucket bound (100 TB guard): a bucket of more than `maxBucketSize`
    * members — a degenerate corpus where ~every row shares one key would
    * drive the self-join to O(bucket²) pairs — is left out of the join and
    * surfaces as ONE marker row per min member id, `a == b == min(id)`,
    * impossible for a real pair (a < b). Its `bucket` column holds the size
    * of the largest oversized bucket that id heads, and both sides carry
    * that id's values; `bucket` is null on a real pair. */
  private[ops] def cappedBandPairs(df: DataFrame, id: Column, bands: Seq[Seq[Column]],
      maxBucketSize: Int, carry: Seq[String] = Nil): DataFrame = {
    val key = bands.head.indices.map(i => s"_k$i")
    val keyed = bands.map(cols => struct(cols.zip(key).map { case (c, k) => c.as(k) }: _*))
    // member count and min id via ONE window pass over the bucket shuffle
    // the join needs anyway, spread over every shuffle partition since the
    // join multiplies rows. A key with a null never equi-joins, so such a
    // row is dropped before it is counted; dropping it here rather than by
    // the join's inferred filter (pushed below the window on one side only)
    // keeps the two join sides one plan, so ReuseExchange runs the shuffle,
    // and whatever computes `df`, once
    val bucket = Window.partitionBy(key.map(col): _*)
    val banded = df.select((id.as("_id") +: carry.map(col)) :+ inline(array(keyed: _*)): _*)
    val buckets = spread(banded.filter(key.map(col(_).isNotNull).reduce(_ && _)), key: _*)
      .select(col("*"), count(col("_id")).over(bucket).as("_bn"),
        min(col("_id")).over(bucket).as("_bmin"))
    // the join's left side: every member of a bucket small enough to pair,
    // plus the min member of each oversized bucket, which finds no partner
    // (its bucket is not on the right) and so comes out as its marker row
    val ok = col("_bn") > 1 && col("_bn") <= maxBucketSize
    val marker = col("x._bn") > maxBucketSize
    // a sort-merge join: the window leaves both sides partitioned and sorted
    // on the key already, where a broadcast would add a stage
    val rows = buckets.filter(ok || col("_bn") > maxBucketSize && col("_id") === col("_bmin"))
      .as("x").hint("merge").join(buckets.filter(ok).as("y"),
        key.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) && col("x._id") < col("y._id"),
        "left_outer")
      .filter(col("y._id").isNotNull || marker)
      .select((col("x._id").as("a") +: coalesce(col("y._id"), col("x._id")).as("b") +:
          carry.map(c => col(s"x.$c").as(s"x_$c"))) ++
        carry.map(c => when(marker, col(s"x.$c")).otherwise(col(s"y.$c")).as(s"y_$c")) :+
        when(marker, col("x._bn")).as("bucket"): _*)
    // with one band a pair meets in one bucket and an id heads one bucket;
    // with several, ONE aggregate merges a pair met in several and an id
    // heading several oversized buckets (a caller's filter on the pair
    // columns is pushed below its shuffle)
    if (bands.size == 1) rows
    else rows.groupBy(rows.columns.init.map(col): _*).agg(max(col("bucket")).as("bucket"))
  }

  /** Exact Jaccard verification of an externally-supplied candidate-pair
    * set (a, b): one array_intersect per pair, threshold applied. This is
    * the verification stage of the LSH pipelines, exposed standalone so the
    * candidate set can be exported and the verification independently
    * re-checked (e.g. by a SQL oracle over the same materialized pairs). */
  def verifiedJaccardPairs(cands: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      pruneDocs: Boolean = true): DataFrame = {
    val pairs = cands.select(col("a"), col("b"))
    // The candidate set is normally ≪ the corpus (LSH found few collisions),
    // but the verification side used to tokenize + shingle EVERY document on
    // both join branches. Semi-join pruning the docs to ids that appear in
    // some candidate pair bounds the shingle projection by O(|cands|)
    // instead of O(|docs|) — the inner verify join drops the other docs
    // anyway, so the result is unchanged. `pruneDocs = false` opts out for
    // callers whose `cands` is an expensive unmaterialized plan (the
    // prefilter would evaluate it twice).
    val verifyDocs =
      if (!pruneDocs) docs
      else docs.join(
        pairs.select(explode(array(col("a"), col("b"))).as(idCol)).distinct(),
        Seq(idCol), "left_semi")
    verifyJaccard(pairs, shingleSets(verifyDocs, idCol, textCol, n), threshold)
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 4))
      .select(col("a"), col("b"), col("inter"), col("uni"), col("jaccard"))
  }

  /** MinHash+LSH near-dup pairs, exactly verified: candidates from the
    * banded buckets, true Jaccard computed ONLY for candidates with one
    * array_intersect per pair. */
  def minHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.2): DataFrame = {
    val sigs = minHashSignatures(docs, idCol, textCol, n, k)
    val cands = lshCandidatePairs(sigs, k, bands)
    // pruneDocs would re-evaluate the (unmaterialized) LSH candidate plan a
    // second time just to derive the id set — callers wanting the prune
    // should materialize the candidates first (as the export pipeline does)
    verifiedJaccardPairs(cands, docs, idCol, textCol, n, threshold, pruneDocs = false)
  }

  /** 128-bit SimHash signature per doc: two independent simhash64 lanes
    * (the second lane salts every token, which decorrelates its per-token
    * hashes). Exposed separately from the pairing so recall can be tested
    * at the signature level with planted exact-Hamming pairs. */
  def simHash128Signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextOps.distinctTokens(col(textCol))
    val salted = transform(toks, t => concat(t, lit("#2")))
    docs.select(col(idCol).as("_id"),
      simhash64(toks).as("_s1"), simhash64(salted).as("_s2"))
  }

  /** Near-dup pairs from 128-bit signatures (columns _id, _s1, _s2), with a
    * GUARANTEED-recall banding: see [[simHashPairs]].
    *
    * Scale dial: per-band bucket space is 2^(128/(maxHamming+1)) — 2^32 at
    * d≤3, 2^18 at d≤6. At 10^10 docs the d≤6 banding holds ~38k docs per
    * bucket, so extreme-scale callers should keep the bound tight (the
    * guarantee-vs-bucket-size tradeoff is structural to LSH banding, not
    * an implementation artifact). */
  def simHash128PairsFromSigs(sigs: DataFrame, maxHamming: Int,
      maxBucketSize: Int = 10000): DataFrame =
    simHashPairs(sigs, Seq("_s1", "_s2"), maxHamming, maxBucketSize)

  /** Near-dup pairs (a, b, hamming), a < b, hamming ≤ `maxHamming`, from a
    * signature of 64-bit `lanes` (low bits first). The signature's bits are
    * cut into `maxHamming + 1` contiguous slices, one band each, so any
    * pair within the distance bound has at least one slice with zero
    * differing bits (pigeonhole) and always becomes a candidate; the
    * Hamming distance, computed from the carried lanes, then makes the
    * output exact.
    *
    * Hot-bucket bound (100 TB guard): a bucket holding more than
    * `maxBucketSize` members (10^10 near-identical docs share one
    * signature and would drive one bucket to ~10^9·10^9 comparisons) is
    * left out of the pair join and surfaces as ONE deterministic marker
    * row `a == b == min(member id), hamming = -bucketSize` — impossible
    * for a real pair (a < b, hamming ≥ 0). Pairs the oversized bucket
    * would have found usually survive via the pair's other bands; only the
    * recall GUARANTEE is narrowed for marked buckets, visibly. */
  private def simHashPairs(sigs: DataFrame, lanes: Seq[String], maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val bits = 64 * lanes.size
    val bands = maxHamming + 1
    // the bits [lo, hi) of the signature that fall in lane i, right-aligned
    // (0 when the slice misses the lane); a band's bucket key is its index
    // plus one such piece per lane
    def piece(i: Int, lo: Int, hi: Int): Column = {
      val l = math.max(lo - 64 * i, 0); val h = math.min(hi - 64 * i, 64)
      if (l >= h) lit(0L)
      else {
        val shifted = shiftrightunsigned(col(lanes(i)), l)
        if (h - l == 64) shifted else shifted.bitwiseAND(lit((1L << (h - l)) - 1))
      }
    }
    val bandKeys = (0 until bands).map { b =>
      val (lo, hi) = (b * bits / bands, (b + 1) * bits / bands)
      lit(b) +: lanes.indices.map(piece(_, lo, hi))
    }
    val hamming = lanes.map(l => bit_count(col(s"x_$l").bitwiseXOR(col(s"y_$l")))).reduce(_ + _)
    // a marker (a == b) always passes; the test reads pair columns only, so
    // it runs before cappedBandPairs' merge aggregate, not after it
    cappedBandPairs(sigs, col("_id"), bandKeys, maxBucketSize, carry = lanes)
      .filter(col("a") === col("b") || hamming <= maxHamming)
      .select(col("a"), col("b"), coalesce(-col("bucket"), hamming.cast("long")).as("hamming"))
  }

  /** SimHash near-duplicates at extreme scale: 128-bit signatures, banded
    * with the guaranteed-recall slicing above — every pair within
    * `maxHamming` is found (no silent recall hole past bit-chunk width).
    *
    * The signature projection is isolated behind an explicit round-robin
    * Exchange before the banding self-join: the two simhash64 lanes are
    * interpreted (CodegenFallback) and projection collapse would otherwise
    * inline them into both join branches and every band slice — measured at
    * sf0.1 as ~2× the whole query's cost. Both self-join branches contain
    * the identical Exchange, so ReuseExchange evaluates the lanes ONCE and
    * replays the (24 B/doc) shuffle output — unlike `.persist()`, nothing
    * is pinned in the session CacheManager, so repeated calls leak no
    * executor storage (callers wanting cross-query reuse should persist the
    * [[simHash128Signatures]] frame themselves and unpersist when done). */
  def simHash128NearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simHash128PairsFromSigs(
      simHash128Signatures(docs, idCol, textCol).repartition(col("_id")), maxHamming)

  /** 64-bit SimHash signature per doc (whitespace-distinct tokens). */
  def simHash64Signatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("_id"),
      simhash64(TextOps.distinctTokens(col(textCol))).as("_sig"))

  /** Banded pairing over precomputed 64-bit signatures (columns _id,
    * _sig): the pigeonhole banding of [[simHashPairs]], `maxHamming + 1`
    * slices of the 64 bits (four 16-bit chunks at the default d ≤ 3), with
    * its hot-bucket cap. Exposed separately so the signature table can be
    * exported and the banding + verification re-checked externally (a SQL
    * oracle can brute-force all pairs from the same signatures — any
    * banding recall hole shows). */
  def simHash64PairsFromSigs(sigs: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame =
    simHashPairs(sigs, Seq("_sig"), maxHamming, maxBucketSize)
}
