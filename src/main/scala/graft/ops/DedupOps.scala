package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.TextExpressions.simhash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle-bounded plan:
  *
  *  - exact: hash-groupBy on content (or any column set);
  *  - identical token sets (Jaccard = 1.0): fingerprint groupBy — NO join;
  *  - MinHash + LSH: shingle → k-lane minhash → banded bucket join —
  *    candidate generation never compares all pairs; candidates are
  *    verified with one array_intersect per pair;
  *  - SimHash: 64-bit sign-vector fingerprint, banded by 16-bit chunks,
  *    Hamming-verified with `bit_count(a^b)`;
  *  - exact n-gram Jaccard: prefix-filtered inverted index (AllPairs/
  *    PPJoin-style candidate generation — exactness-preserving) + per-pair
  *    array_intersect verification. The prefix filter orders each
  *    document's shingles rarest-first (global document frequency) and
  *    indexes only the first `n - ceil(t*n) + 1`: any pair with Jaccard ≥ t
  *    provably shares a prefix shingle, while the hot (high-df) shingles —
  *    the m² blowup of a naive inverted-index self-join — fall outside the
  *    prefixes and never generate candidates.
  */
object DedupOps {

  /** Exact-duplicate groups by `cols`: one row per duplicated value set,
    * with the surviving (minimum) id and the multiplicity. */
  def exactDupGroups(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Exact dedup keeping the smallest id per content group (deterministic,
    * unlike dropDuplicates' arbitrary pick). */
  def dedupKeepMinId(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    val keep = df.groupBy(cols.map(col): _*).agg(min(col(idCol)).as(idCol))
    df.join(keep, cols :+ idCol, "left_semi")
  }

  /** Spread `df` over the session's configured shuffle parallelism before
    * a row-amplifying or CPU-heavy projection. Scan parallelism follows
    * file splits (`maxPartitionBytes`), which is the WRONG unit for an
    * explode that amplifies rows ~100×, a per-row tokenize/sort or a
    * per-row vector fold (AnnOps): a 100 MB parquet split exploding to
    * 10 GB of shingles runs on one core. The explicit partition count keeps
    * AQE from re-coalescing the (small pre-explode) exchange back down. */
  private[ops] def spread(df: DataFrame, key: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(parts, col(key))
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

  /** Identical-set duplicate pairs (the Jaccard = 1.0 special case) WITHOUT
    * any join: identical sets have identical fingerprints, so one groupBy
    * on a 128-bit fingerprint of the sorted distinct-element array finds
    * every duplicate cluster; pairs are enumerated inside each (tiny)
    * cluster. Output (a, b, inter) with a < b, inter = set size.
    *
    * Cluster-size bound (100 TB guard): the aggregation buffer retains at
    * most `maxClusterSize` member ids (exact count still tracked), so one
    * pathological billion-copy duplicate cluster can neither materialize an
    * O(cluster) array in a single aggregation row nor emit O(cluster²)
    * pairs. A truncated cluster emits ONE deterministic marker row instead:
    * `a == b == min(id)` with `inter = -clusterSize` — impossible for a
    * real pair (which always has a < b and inter > 0). */
  def identicalSetPairs(docs: DataFrame, idCol: String, sortedSet: Column,
      maxClusterSize: Int = 10000): DataFrame = {
    import org.apache.spark.sql.graft.CollectCappedAgg.collect_capped
    val toks = sortedSet
    val groups = spread(docs, idCol)
      .select(col(idCol).as("_id"),
        xxhash64(lit(1), toks).as("_fp1"), xxhash64(lit(2), toks).as("_fp2"),
        size(toks).as("_n"))
      .groupBy(col("_fp1"), col("_fp2"), col("_n"))
      .agg(collect_capped(col("_id"), maxClusterSize).as("_g"),
        min(col("_id")).as("_min"))
      .select(col("_n"), sort_array(col("_g.ids")).as("_ids"),
        col("_g.n").as("_cn"), col("_min"))
      .filter(col("_cn") > 1)
    // ONE subtree for both outcomes: a normal cluster enumerates its pairs,
    // an oversized one collapses to the single (min, min, -size) marker via
    // the same two generates. The former pairs/tooLarge UNION referenced
    // `groups` twice, and (the filters differing) nothing was reusable — the
    // whole scan + fingerprint + capped-collect aggregation ran TWICE per
    // query (measured in the q15 plan: two full ObjectHashAggregate chains).
    val ok = col("_cn") <= maxClusterSize
    groups
      .select(col("_n"), col("_ids"), col("_cn"), col("_min"),
        posexplode(when(ok, col("_ids")).otherwise(array(col("_min")))).as(Seq("_i", "a")))
      .select(col("a"),
        explode(when(ok, slice(col("_ids"), col("_i") + lit(2), size(col("_ids"))))
          .otherwise(array(col("_min")))).as("b"),
        when(ok, col("_n").cast("long")).otherwise(-col("_cn")).as("inter"))
  }

  /** Identical-token-set duplicate pairs (whitespace tokens, n = 1).
    * Inherits [[identicalSetPairs]]'s truncation sentinel: a duplicate
    * cluster larger than the default cap yields ONE `a == b,
    * inter = -clusterSize` marker row instead of O(cluster²) pairs —
    * consumers that require real pairs only must filter `a < b`. */
  def tokenSetDupPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    identicalSetPairs(docs, idCol, array_sort(TextOps.distinctTokens(col(textCol))))

  /** Exact n-gram Jaccard pairs ≥ threshold, prefix-filtered:
    *
    *   1. global shingle document frequencies (one aggregate);
    *   2. each doc's shingles ranked rarest-first; only the first
    *      `n - ceil(t*n) + 1` are indexed (prefix-filter theorem: a pair
    *      with Jaccard ≥ t must overlap within both prefixes under any
    *      global shingle order);
    *   3. candidate pairs from the prefix index self-join, pruned by the
    *      size filter `min(na, nb) ≥ t · max(na, nb)`;
    *   4. exact verification per candidate via array_intersect.
    *
    * Emits (a, b, inter, uni) with a < b — byte-identical to the naive
    * inverted-index plan, without its hot-shingle m² candidate blowup.
    *
    * At `threshold >= 1.0` this delegates to the fingerprint-groupBy path,
    * including its truncation sentinel: a duplicate cluster past the cap
    * emits one `a == b, inter = uni = -clusterSize` marker row (impossible
    * for a real pair, which has a < b and inter > 0) rather than
    * enumerating O(cluster²) pairs. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    if (threshold >= 1.0)
      // Jaccard = 1 ⇔ identical shingle sets: fingerprint groupBy, no join
      return identicalSetPairs(docs, idCol,
          array_sort(array_distinct(TextOps.shingles(col(textCol), n))))
        .withColumn("uni", col("inter"))
        .select(col("a"), col("b"), col("inter"), col("uni"))
    // LOW thresholds defeat the prefix filter: the indexed prefix is
    // `n - ceil(t·n) + 1` ≈ (1-t)·n of each doc, so at t = 0.2 the
    // "filtered" index still holds ~80% of every shingle and nearly every
    // co-occurring pair survives as a candidate — measured at the 5k-doc
    // test corpus: 81% of the index retained, 766k candidates for 256
    // result pairs, each then paying the verification join (two shingle-
    // array ships + one array_intersect). In that regime the co-occurrence
    // COUNT over the full index IS the exact intersection size, at the
    // same candidate-generation cost and with no verification join at all.
    // The crossover is heuristic: above t = 0.5 prefixes are short and
    // candidates few, so candidate+verify wins; below, counting wins.
    if (threshold < 0.5) return countingJaccardPairs(docs, idCol, textCol, n, threshold)
    val dt = shingleIndex(docs, idCol, textCol, n)
    val dfreq = dt.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
    // prefix selection as ONE hash aggregate: collect each doc's (df,
    // shingle) pairs, sort the small per-doc array in codegen, slice the
    // first `n - ceil(t·n) + 1`. Replaces the former row_number window —
    // a global external sort of every (doc, shingle) row — and folds the
    // separate per-doc size aggregate + join into the same pass (array
    // length = set size, since shingles are distinct per doc). Same (df,
    // shingle) order, so the emitted prefix is byte-identical.
    val prefix = dt.join(dfreq, "_s")
      .groupBy(col("_id"))
      .agg(collect_list(struct(col("_df"), col("_s"))).as("_arr"))
      .withColumn("_n", size(col("_arr")).cast("long"))
      .select(col("_id"), col("_n"),
        explode(slice(sort_array(col("_arr")), lit(1),
          (col("_n") - ceil(lit(threshold) * col("_n")) + 1).cast("int"))).as("_p"))
      .select(col("_id"), col("_p._s").as("_s"), col("_n"))
    val cands = prefix.as("x").join(prefix.as("y"),
        col("x._s") === col("y._s") && col("x._id") < col("y._id") &&
          col("x._n").cast("double") >= lit(threshold) * col("y._n") &&
          col("y._n").cast("double") >= lit(threshold) * col("x._n"))
      .select(col("x._id").as("a"), col("y._id").as("b"))
      .distinct()
    verifyJaccard(cands, shingleSets(docs, idCol, textCol, n), threshold)
      .select(col("a"), col("b"), col("inter"), col("uni"))
  }

  /** Exact Jaccard pairs via inverted-index co-occurrence COUNTING — the
    * low-threshold plan: each doc's distinct shingles (with the set size
    * riding along) self-join on the shingle, and ONE hash aggregate over
    * the co-occurrence rows computes the exact intersection size per pair
    * — `inter = count` because shingles are distinct within a doc. No
    * candidate materialization, no per-pair set shipping, no
    * array_intersect. The size filter `min(na,nb) ≥ t·max(na,nb)` prunes
    * inside the join before rows reach the aggregate.
    *
    * Scale note: cost is Σ_s df(s)², the inherent inverted-index bound for
    * EXACT low-threshold Jaccard (the prefix filter provably cannot prune
    * hot shingles at low t — they sit inside almost every prefix). A
    * degenerate hot shingle (df ~ 10^6) makes any exact plan quadratic;
    * at web scale use MinHash+LSH ([[minHashNearDupPairs]]) for low-t
    * near-dup, exactly as this library's q17 does. */
  private def countingJaccardPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double): DataFrame = {
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
    * Hot-bucket bound (100 TB guard, same pattern as
    * [[simHash128PairsFromSigs]]): a bucket holding more than
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
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        xxhash64((bnd * rows until (bnd + 1) * rows).map(i => col(s"_mh$i")): _*).as("h"))
    }
    cappedBandPairs(signatures, col("_id"), bandCols, maxBucketSize)
  }

  /** Distinct candidate pairs (a, b), a < b, of the rows of `df` that share
    * a band bucket: `bandCols` are `struct(band, h)` bucket keys, one per
    * band, and `id` is the row id. A bucket of more than `maxBucketSize`
    * rows is left out of the self-join and emits ONE `a == b == min(id)`
    * marker row instead (see [[lshCandidatePairs]]). */
  private[ops] def cappedBandPairs(df: DataFrame, id: Column, bandCols: Seq[Column],
      maxBucketSize: Int): DataFrame = {
    // bucket membership count via ONE window pass over the (band, hash)
    // shuffle both join branches need anyway; identical in both branches,
    // so ReuseExchange evaluates it once
    val bucketKey = Seq(col("_band"), col("_h"))
    val buckets = df
      .select(id.as("_id"), explode(array(bandCols: _*)).as("_b"))
      .select(col("_id"), col("_b.band").as("_band"), col("_b.h").as("_h"))
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy(bucketKey: _*)))
      .withColumn("_bmin", min(col("_id")).over(Window.partitionBy(bucketKey: _*)))
    val ok = buckets.filter(col("_bn") <= maxBucketSize)
    val pairs = ok.as("x").join(ok.as("y"),
        col("x._band") === col("y._band") && col("x._h") === col("y._h") &&
          col("x._id") < col("y._id"))
      .select(col("x._id").as("a"), col("y._id").as("b"))
    val markers = buckets.filter(col("_bn") > maxBucketSize)
      .select(col("_bmin").as("a"), col("_bmin").as("b"))
    pairs.unionByName(markers).distinct()
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
    * GUARANTEED-recall banding: the 128 bits are sliced into `maxHamming+1`
    * contiguous chunks, so any pair within the distance bound has at least
    * one chunk with zero differing bits (pigeonhole) and always becomes a
    * candidate — the `bit_count` filter then makes the output exact.
    *
    * Scale dial: per-band bucket space is 2^(128/(maxHamming+1)) — 2^32 at
    * d≤3, 2^18 at d≤6. At 10^10 docs the d≤6 banding holds ~38k docs per
    * bucket, so extreme-scale callers should keep the bound tight (the
    * guarantee-vs-bucket-size tradeoff is structural to LSH banding, not
    * an implementation artifact).
    *
    * Hot-bucket bound (100 TB guard): a bucket holding more than
    * `maxBucketSize` members (a degenerate corpus — 10^10 near-identical
    * docs share one signature and would drive one bucket to ~10^9·10^9
    * comparisons) is EXCLUDED from the pair join and surfaced as ONE
    * deterministic marker row `a == b == min(member id),
    * hamming = -bucketSize` — impossible for a real pair (a < b,
    * hamming ≥ 0). Pairs the oversized bucket would have found usually
    * survive via the pair's other bands; only the recall GUARANTEE is
    * narrowed for marked buckets, visibly. */
  def simHash128PairsFromSigs(sigs: DataFrame, maxHamming: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    val bands = maxHamming + 1
    val bounds = (0 to bands).map(b => b * 128 / bands)
    // bits [lo, hi) of the (s2 ++ s1) 128-bit word, as one ≤58-bit slice
    // per lane half; bucket key = (band, slice-of-s1, slice-of-s2)
    def slice(lane: Column, laneLo: Int, lo: Int, hi: Int): Column = {
      val l = math.max(lo, laneLo); val h = math.min(hi, laneLo + 64)
      if (l >= h) lit(0L)
      else {
        val shifted = shiftrightunsigned(lane, l - laneLo)
        if (h - l >= 64) shifted else shifted.bitwiseAND(lit((1L << (h - l)) - 1))
      }
    }
    val chunks = (0 until bands).map { c =>
      struct(lit(c).as("band"),
        slice(col("_s1"), 0, bounds(c), bounds(c + 1)).as("h1"),
        slice(col("_s2"), 64, bounds(c), bounds(c + 1)).as("h2"))
    }
    // bucket membership count via ONE window pass (shuffle on the bucket
    // key both join branches need anyway); the window exchange is identical
    // in the x and y branches, so ReuseExchange evaluates it once
    val bucketKey = Seq(col("_band"), col("_h1"), col("_h2"))
    val buckets = sigs
      .select(col("_id"), col("_s1"), col("_s2"), explode(array(chunks: _*)).as("_b"))
      .select(col("_id"), col("_s1"), col("_s2"),
        col("_b.band").as("_band"), col("_b.h1").as("_h1"), col("_b.h2").as("_h2"))
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy(bucketKey: _*)))
      .withColumn("_bmin", min(col("_id")).over(Window.partitionBy(bucketKey: _*)))
    val ok = buckets.filter(col("_bn") <= maxBucketSize)
    val pairs = ok.as("x").join(ok.as("y"),
        col("x._band") === col("y._band") && col("x._h1") === col("y._h1") &&
          col("x._h2") === col("y._h2") && col("x._id") < col("y._id"))
      .select(col("x._id").as("a"), col("y._id").as("b"),
        (bit_count(col("x._s1").bitwiseXOR(col("y._s1"))) +
          bit_count(col("x._s2").bitwiseXOR(col("y._s2")))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val markers = buckets.filter(col("_bn") > maxBucketSize)
      .select(col("_bmin").as("a"), col("_bmin").as("b"),
        (-col("_bn")).cast("long").as("hamming"))
      .distinct()
    pairs.unionByName(markers)
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

  /** Banded pairing over precomputed 64-bit signatures: four 16-bit chunks
    * (any pair within Hamming distance 3 shares ≥1 identical chunk —
    * pigeonhole), verified with bit_count(a XOR b) ≤ maxHamming. Exposed
    * separately so the signature table can be exported and the banding +
    * verification re-checked externally (a SQL oracle can brute-force all
    * pairs from the same signatures — any banding recall hole shows). */
  def simHash64PairsFromSigs(sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("band"), shiftright(col("_sig"), c * 16).bitwiseAND(lit(0xFFFFL)).as("h")))
    val buckets = sigs.select(col("_id"), col("_sig"), explode(array(chunks: _*)).as("_b"))
      .select(col("_id"), col("_sig"), col("_b.band").as("_band"), col("_b.h").as("_h"))
    buckets.as("x").join(buckets.as("y"),
        col("x._band") === col("y._band") && col("x._h") === col("y._h") &&
          col("x._id") < col("y._id"))
      .select(col("x._id").as("a"), col("y._id").as("b"),
        bit_count(col("x._sig").bitwiseXOR(col("y._sig"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-duplicates: 64-bit fingerprints, banded + verified. Same
    * Exchange barrier as the 128-bit variant: the interpreted signature
    * lane is computed once and replayed from the reused shuffle, not
    * inlined into both self-join branches. */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simHash64PairsFromSigs(
      simHash64Signatures(docs, idCol, textCol).repartition(col("_id")), maxHamming)
}
