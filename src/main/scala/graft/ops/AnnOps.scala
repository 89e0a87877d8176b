package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, O(|Q|·|C|), fine when the
  * query side is small/broadcastable. Scale path: random-hyperplane LSH —
  * deterministic hash-derived hyperplanes hash vectors into 2^p sign
  * buckets; joins only compare within a bucket. Recall is recovered by
  * multi-probe (Hamming-neighbor buckets) for top-k and by banding
  * (several independent bucket functions) for near-dup pairs.
  *
  * All vector math uses `zip_with`/`aggregate`/`transform` higher-order
  * functions over double-cast arrays — codegen'd, no UDFs, no driver-side
  * loops. Hyperplane weights are derived INSIDE the expression from
  * xxhash64(seed, plane, dim-index), so the plan carries O(p) expression
  * nodes instead of O(p·dim) literal doubles (a dim=4096, p=16 literal
  * encoding would bloat the plan by megabytes). */
object AnnOps {

  import DedupOps.spread
  import org.apache.spark.sql.graft.VectorExpressions.array_dot

  /** Dot product as ONE native primitive loop ([[ArrayDot]]) — bit-identical
    * to the `aggregate(zip_with(...))` fold it replaces (same element order,
    * same double arithmetic, same null semantics) but without the per-pair
    * interpreted-lambda/boxing cost of higher-order functions, which
    * dominated the candidate-verification joins. */
  def dot(a: Column, b: Column): Column = array_dot(a, b)

  def norm(a: Column): Column = sqrt(array_dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** (id, double-cast vector, norm) side projection for a cosine join: the
    * cast and the norm fold are evaluated once per ROW on each side, so the
    * per-PAIR work after the join is a single dot fold — same expression
    * arithmetic as [[cosine]] (dot/(‖a‖·‖b‖) over the same doubles), just
    * not re-folded three times per joined pair. */
  private def side(df: DataFrame, idCol: String, vecCol: String,
      outId: String, outVec: String, outNorm: String): DataFrame = {
    val vd = transform(col(vecCol), _.cast("double"))
    df.select(col(idCol).as(outId), vd.as(outVec), norm(vd).as(outNorm))
  }

  private def pairSim(qv: String, qn: String, cv: String, cn: String): Column =
    dot(col(qv), col(cv)) / (col(qn) * col(cn))

  /** Exact cosine top-k: every query row against every corpus row (the
    * query side is broadcast — callers keep it small), ranked per query
    * with a deterministic tiebreak. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(side(queries, idCol, vecCol, "query_id", "_qv", "_qn"))
    val c = spread(side(corpus, idCol, vecCol, "neighbor_id", "_cv", "_cn"), "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_sim").desc, col("neighbor_id").asc)
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("_sim", pairSim("_qv", "_qn", "_cv", "_cn"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("_sim"), 3).as("sim"))
  }

  /** Deterministic hyperplane weight in [-1, 1] for (plane, dim index),
    * computed in codegen from xxhash64 — no literal weight arrays. */
  private def planeWeight(seed: Long, plane: Int, idx: Column): Column =
    pmod(xxhash64(lit(seed), lit(plane), idx), lit(1000001L)).cast("double") / 500000.0 - 1.0

  /** Sign-bucket id for each vector: bit i = sign(v · plane_i). `dim` is
    * not needed (the projection folds over the array itself); kept for API
    * compatibility with callers that size probe tables from it. */
  def lshBucket(vec: Column, dim: Int, p: Int = 12, seed: Long = 42L): Column = {
    val bits = (0 until p).map { i =>
      val proj = aggregate(
        transform(vec, (x, d) => x.cast("double") * planeWeight(seed, i, d)),
        lit(0.0d), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** All XOR masks with popcount ≤ radius over p bits, enumerated by direct
    * combination recursion (C(p,0)+…+C(p,radius) masks — never a 2^p scan). */
  private def probeMasks(p: Int, radius: Int): Seq[Long] = {
    def combos(start: Int, r: Int): Seq[Long] =
      if (r == 0) Seq(0L)
      else (start until p).flatMap(b => combos(b + 1, r - 1).map(m => m | (1L << b)))
    (0 to radius).flatMap(r => combos(0, r))
  }

  /** LSH-bucketed approximate top-k: queries and corpus hash to sign
    * buckets; candidates = same bucket plus all probe buckets within
    * Hamming distance `probeRadius` of the query's bucket (multi-probe);
    * exact cosine re-rank within candidates. Recall/cost dial: higher `p`
    * = smaller buckets (cheaper, lower recall), higher `probeRadius` =
    * more buckets searched (higher recall). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      p: Int = 8, probeRadius: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    topKFromCandidates(
      lshTopKCandidates(queries, corpus, dim, p, probeRadius, idCol, vecCol),
      queries, corpus, k, idCol, vecCol)

  /** Candidate (query_id, neighbor_id) pairs of [[lshTopK]]: same bucket or
    * any multi-probe bucket within `probeRadius`. Exposed standalone so the
    * candidate set can be exported and the re-rank stage independently
    * re-checked (e.g. a SQL oracle recomputing exact cosine + rank over the
    * same materialized pairs). */
  def lshTopKCandidates(queries: DataFrame, corpus: DataFrame, dim: Int,
      p: Int = 8, probeRadius: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = lshBucket(col(vecCol), dim, p)
    val c = corpus.select(col(idCol).as("neighbor_id"), bucket.as("_bkt"))
    val qBase = queries.select(col(idCol).as("query_id"), bucket.as("_qb"))
    val masks = probeMasks(p, probeRadius)
    val probes =
      qBase.withColumn("_bkt", explode(array(masks.map(m => col("_qb").bitwiseXOR(lit(m))): _*)))
    probes.join(c, Seq("_bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
  }

  /** Exact-cosine top-k re-rank over a candidate pair set: vectors rejoin
    * by id, one codegen'd fold per pair, deterministic tiebreak. */
  def topKFromCandidates(cands: DataFrame, queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_sim").desc, col("neighbor_id").asc)
    cands.select(col("query_id"), col("neighbor_id"))
      .join(side(queries, idCol, vecCol, "query_id", "_qv", "_qn"), "query_id")
      .join(spread(side(corpus, idCol, vecCol, "neighbor_id", "_cv", "_cn"), "neighbor_id"),
        "neighbor_id")
      .withColumn("_sim", pairSim("_qv", "_qn", "_cv", "_cn"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("_sim"), 3).as("sim"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold):
    * `bands` independent sign-bucket functions of `p` planes each (the
    * random-hyperplane analog of MinHash banding) generate candidates —
    * a pair colliding in ANY band qualifies — then one exact cosine per
    * candidate verifies, so there are no false positives and recall is
    * 1-(1-(1-θ/π)^p)^bands per pair. The bucket join ships only
    * (id, band, bucket) — vectors rejoin for verification by id. */
  def embeddingNearDupPairs(vectors: DataFrame, threshold: Double, dim: Int,
      p: Int = 4, bands: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    verifiedCosinePairs(
      embeddingNearDupCandidates(vectors, dim, p, bands, idCol, vecCol),
      vectors, threshold, idCol, vecCol)

  /** Candidate-pair generation stage of [[embeddingNearDupPairs]] (banded
    * sign-bucket collisions, a < b, distinct). Exposed standalone so the
    * candidate set can be exported and the verification stage re-checked
    * independently (e.g. by a SQL oracle over the same materialized set).
    *
    * Hot-bucket bound (100 TB guard, the simHash128 pattern): a sign bucket
    * holding more than `maxBucketSize` vectors — a degenerate corpus of
    * ~identical embeddings would drive one bucket to O(bucket²) pairs — is
    * EXCLUDED from the pair join and surfaced as ONE deterministic
    * `a == b == min(member id)` marker row, impossible for a real candidate
    * (a < b). The marker stays visible through exact verification (a
    * self-pair verifies at cosine 1.0); pairs the oversized bucket would
    * have found usually survive via their other bands. */
  def embeddingNearDupCandidates(vectors: DataFrame, dim: Int,
      p: Int = 4, bands: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 10000): DataFrame = {
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), lshBucket(col(vecCol), dim, p, seed = 42L + b).as("h")))
    DedupOps.cappedBandPairs(vectors, col(idCol), bandCols, maxBucketSize)
  }

  /** Exact-cosine verification of a candidate-pair set (a, b): vectors
    * rejoin by id, one codegen'd fold per pair, threshold applied. */
  def verifiedCosinePairs(cands: DataFrame, vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    cands.select(col("a"), col("b"))
      .join(spread(side(vectors, idCol, vecCol, "a", "_va", "_na"), "a"), "a")
      .join(spread(side(vectors, idCol, vecCol, "b", "_vb", "_nb"), "b"), "b")
      .withColumn("_sim", pairSim("_va", "_na", "_vb", "_nb"))
      .filter(col("_sim") >= threshold)
      .select(col("a"), col("b"), round(col("_sim"), 3).as("sim"))

  /** Exact near-dup pairs (the O(n²) verifier/oracle for the banded path —
    * test-scale only). */
  def exactNearDupPairs(vectors: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    v.as("x").join(v.as("y"), col("x._id") < col("y._id"))
      .withColumn("_sim", cosine(col("x._v"), col("y._v")))
      .filter(col("_sim") >= threshold)
      .select(col("x._id").as("a"), col("y._id").as("b"), round(col("_sim"), 3).as("sim"))
  }
}
