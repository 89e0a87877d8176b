package graft

import graft.engine.ValidationEngine
import graft.ops.{AnnOps, DedupOps, RelationalOps, TextOps}
import graft.multimodal.Multimodal
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.graft.TextExpressions.{fingerprint64, simhash64}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-verification of the sketch/heuristic operators that have no SQL
  * oracle: MinHash-LSH vs exact Jaccard, LSH-ANN recall vs brute force,
  * SimHash vs token-set similarity, fingerprint/langid determinism. */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("minhash-LSH near-dup pairs == exact jaccard pairs at the same threshold") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minHashNearDupPairs(docs, "doc_id", "text", 3, 32, 8, 0.2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with TRUE jaccard → no false positives
    assert(lsh.subsetOf(exact))
    // banded LSH at k=32/b=8 catches essentially all pairs this similar
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${lsh.size}/${exact.size})")
    assert(exact.nonEmpty)
  }

  test("low-threshold jaccardPairs (counting plan) matches driver-side brute force") {
    // every t < 1 runs the co-occurrence-counting plan; every (a, b,
    // inter, uni) tuple must equal the brute-force all-pairs answer, at the
    // queries' low threshold and at one above one half
    val rows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingleSet(t: String): Set[String] =
      t.split(" ", -1).toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val sets = rows.map { case (id, t) => id -> shingleSet(t) }.filter(_._2.nonEmpty)
    for (t <- Seq(0.2, 0.6)) {
      val expected = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size; uni = (sa | sb).size
        if uni > 0 && inter.toDouble / uni >= t
      } yield (a, b, inter.toLong, uni.toLong)).toSet
      val got = DedupOps.jaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === expected, s"t=$t")
      assert(got.nonEmpty, s"t=$t")
    }
  }

  test("LSH ANN achieves high recall vs brute-force top-k") {
    val queries = emb.filter(col("vec_id") < 20)
    val bf = AnnOps.bruteForceTopK(queries, emb, 5).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = AnnOps.lshTopK(queries, emb, 5, p = 4, probeRadius = 2)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    // uniform-random embeddings are LSH's worst case (top-k sims barely above
    // the noise floor); p=4 + Hamming-2 multiprobe is the quality setting
    assert(recall >= 0.55, s"ANN recall=$recall")
  }

  test("ANN on CLUSTERED embeddings: both LSH paths score >= 0.9 recall") {
    import spark.implicits._
    // The corpus-based recall bars are loose because uniform-random
    // embeddings are LSH's worst case (sims sit at the noise floor). This
    // clustered fixture is the regression tripwire: 20 well-separated
    // centers, 10 points each at 5% noise — a correct banding scores ~1.0,
    // a broken bucket function ~0.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val points = for { c <- 0 until 20; j <- 0 until 10 }
      yield ((c * 10 + j).toLong, centers(c).map(v => v + 0.05f * rnd.nextGaussian().toFloat))
    val clustered = points.toDF("vec_id", "embedding")

    // near-dup at 0.9: the true pairs are exactly the within-cluster pairs
    val exact = AnnOps.exactNearDupPairs(clustered, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 20 * (10 * 9) / 2, s"fixture separation broke: ${exact.size}")
    val banded = AnnOps.embeddingNearDupPairs(clustered, 0.9)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact))
    val ndRecall = (banded & exact).size.toDouble / exact.size
    assert(ndRecall >= 0.9, s"near-dup recall=$ndRecall")

    // top-k: one query per cluster; LSH multiprobe must recover brute force
    val queries = clustered.filter(col("vec_id") % 50 === 0)
    val bf = AnnOps.bruteForceTopK(queries, clustered, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = AnnOps.lshTopK(queries, clustered, 5, p = 4, probeRadius = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val topkRecall = (bf & lsh).size.toDouble / bf.size
    assert(topkRecall >= 0.9, s"top-k recall=$topkRecall")
  }

  test("simhash: identical token multisets hash identically; near-dups within hamming") {
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", 1, 1.0) // same token sets
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val sig = docs.select(col("doc_id"), simhash64(TextOps.distinctTokens(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(sig(a) == sig(b), s"identical token sets $a,$b must simhash equal")
    }
  }

  test("banded embedding near-dup pairs: no false positives, recall vs exact sweep") {
    val exact = AnnOps.exactNearDupPairs(emb, 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = AnnOps.embeddingNearDupPairs(emb, 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact)) // cosine-verified candidates only
    val recall = if (exact.isEmpty) 1.0 else (banded & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (${banded.size}/${exact.size})")
    assert(exact.nonEmpty)
  }

  test("simhash128: identical token sets collide; all pairs within hamming bound") {
    val dups = DedupOps.tokenSetDupPairs(docs, "doc_id", "text")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.nonEmpty)
    val found = DedupOps.simHash128NearDupPairs(docs, "doc_id", "text", maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    dups.foreach { p => assert(found.get(p).contains(0L), s"identical pair $p must be hamming 0") }
    found.values.foreach(h => assert(h <= 6))
  }

  test("simhash128 banding: planted pairs at EVERY hamming distance 0..6 are found") {
    import graft.audio.Audio
    import spark.implicits._
    // regression: the old 4×32-bit banding only pigeonhole-covered d ≤ 3, so
    // a d=6 pair whose flips spread 2/2/1/1 across chunks was silently lost.
    // Plant signature pairs at exact distances with flips spread evenly over
    // all 128 bits (the banding's worst case) and demand exact recall.
    val rows = (0 to 7).flatMap { d =>
      val b1 = Audio.splitmix64(1000L + d)
      val b2 = Audio.splitmix64(2000L + d)
      var s1 = b1; var s2 = b2
      (0 until d).foreach { j =>
        val pos = j * 128 / math.max(d, 1)
        if (pos < 64) s1 ^= 1L << pos else s2 ^= 1L << (pos - 64)
      }
      Seq((10L * d, b1, b2), (10L * d + 1, s1, s2))
    }
    val sigs = rows.toDF("_id", "_s1", "_s2")
    val found = DedupOps.simHash128PairsFromSigs(sigs, maxHamming = 6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    (0 to 6).foreach { d =>
      assert(found.get((10L * d, 10L * d + 1)).contains(d.toLong),
        s"planted pair at hamming $d not found (got ${found.get((10L * d, 10L * d + 1))})")
    }
    assert(!found.contains((70L, 71L))) // d=7 > bound: excluded by the filter
    found.values.foreach(h => assert(h <= 6))

    // the 64-bit pairing bands the same way: at maxHamming = 5, one flip in
    // each of four fixed 16-bit chunks would share no bucket (d = 4, 5)
    val rows64 = (0 to 6).flatMap { d =>
      val b = Audio.splitmix64(3000L + d)
      val flipped = (0 until d).foldLeft(b)((v, j) => v ^ (1L << (j * 64 / math.max(d, 1))))
      Seq((10L * d, b), (10L * d + 1, flipped))
    }
    val found64 = DedupOps.simHash64PairsFromSigs(rows64.toDF("_id", "_sig"), maxHamming = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    (0 to 5).foreach { d =>
      assert(found64.get((10L * d, 10L * d + 1)).contains(d.toLong),
        s"planted 64-bit pair at hamming $d not found (got ${found64.get((10L * d, 10L * d + 1))})")
    }
    assert(!found64.contains((60L, 61L))) // d=6 > bound
    found64.values.foreach(h => assert(h <= 5))
  }

  test("simhash128: oversized buckets are capped with a marker row, not quadratic pairs") {
    import spark.implicits._
    // a degenerate signature shared by 500 docs puts all 500 in ONE bucket
    // of every band — uncapped, that bucket alone drives ~125k comparisons
    // (at 10^10 docs, ~10^19); plus one planted near-pair elsewhere
    // full-width signatures: low-entropy literals would alias the pair into
    // the hot bucket through the all-zero high-band slices
    val h1 = graft.audio.Audio.splitmix64(1L); val h2 = graft.audio.Audio.splitmix64(2L)
    val p1 = graft.audio.Audio.splitmix64(3L); val p2 = graft.audio.Audio.splitmix64(4L)
    val hot = (0L until 500L).map(i => (i, h1, h2))
    val pair = Seq((9000L, p1, p2), (9001L, p1 ^ 1L, p2)) // hamming 1
    val sigs = (hot ++ pair).toDF("_id", "_s1", "_s2")
    val out = DedupOps.simHash128PairsFromSigs(sigs, maxHamming = 6, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the hot cluster surfaces as exactly ONE deterministic marker row
    // (a == b == min member id, hamming = -bucketSize), never 500²/2 pairs
    assert(out.filter(v => v._1 == v._2).toSeq == Seq((0L, 0L, -500L)))
    // pairs outside the hot bucket are unaffected
    assert(out.filter(v => v._1 != v._2).toSet == Set((9000L, 9001L, 1L)))

    // the 64-bit pairing carries the same cap
    val sigs64 = ((0L until 500L).map(i => (i, h1)) ++ Seq((9000L, p1), (9001L, p1 ^ 1L)))
      .toDF("_id", "_sig")
    val out64 = DedupOps.simHash64PairsFromSigs(sigs64, maxHamming = 3, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out64.filter(v => v._1 == v._2).toSeq == Seq((0L, 0L, -500L)))
    assert(out64.filter(v => v._1 != v._2).toSet == Set((9000L, 9001L, 1L)))
  }

  test("simhash near-dup pairing pins nothing in the cache manager") {
    import org.apache.spark.storage.StorageLevel
    // regression: the signature frame used to be .persist()ed inside the
    // operator and never released — the CacheManager holds a strong ref
    // until unpersist, so repeated calls leaked executor storage. The
    // Exchange-reuse barrier computes the lanes once with no pinned cache.
    DedupOps.simHash128NearDupPairs(docs, "doc_id", "text", maxHamming = 3).count()
    val sigs = DedupOps.simHash128Signatures(docs, "doc_id", "text")
    assert(sigs.storageLevel == StorageLevel.NONE,
      "signature plan must not remain registered in the CacheManager")
  }

  test("identicalSetPairs: oversized clusters emit one bounded marker row, not O(n^2) pairs") {
    import spark.implicits._
    // 10^4 copies of one token set + a small legitimate duplicate cluster
    val docs = (0L until 10000L).map(i => (i, "x y z")) ++
      Seq((20000L, "a b"), (20001L, "a b"), (20002L, "a b"))
    val out = DedupOps.identicalSetPairs(docs.toDF("doc_id", "text"), "doc_id",
        array_sort(array_distinct(split(col("text"), " "))), maxClusterSize = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the hot cluster: exactly ONE deterministic marker row (min id, a==b,
    // inter = -clusterSize), never 10^8/2 pairs
    val markers = out.filter(v => v._1 == v._2)
    assert(markers.toSeq == Seq((0L, 0L, -10000L)), s"got ${markers.toSeq}")
    // the small cluster still enumerates exactly (a < b, inter = set size)
    val pairs = out.filter(v => v._1 != v._2).toSet
    assert(pairs == Set((20000L, 20001L, 2L), (20000L, 20002L, 2L), (20001L, 20002L, 2L)))
  }

  test("minhash LSH candidate buckets are capped with a marker row, not quadratic pairs") {
    import spark.implicits._
    // 500 docs share one signature → every band drives them into ONE bucket
    // (uncapped: ~125k candidate pairs from this bucket alone); plus one
    // planted pair with its own signature elsewhere
    val base = ((0L until 500L).map(i => (i, 0L)) ++ Seq((9000L, 1L), (9001L, 1L)))
      .toDF("_id", "_grp")
    val lanes = (0 until 32).map(i => xxhash64(lit(i), col("_grp")).as(s"_mh$i"))
    val sigs = base.select((col("_id") +: lanes): _*)
    val out = DedupOps.lshCandidatePairs(sigs, k = 32, bands = 8, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the hot bucket surfaces as exactly ONE deterministic a == b == min(id)
    // marker row; candidates outside it are unaffected
    assert(out.filter(v => v._1 == v._2).toSeq == Seq((0L, 0L)))
    assert(out.filter(v => v._1 != v._2).toSet == Set((9000L, 9001L)))
  }

  test("embedding near-dup candidate buckets are capped with a marker row") {
    import spark.implicits._
    // 500 identical vectors collapse every band's bucket; the planted pair
    // is the NEGATED vector, whose sign bits complement the hot bucket's in
    // every band — guaranteed disjoint buckets
    val v = (0 until 8).map(i => (i + 1).toFloat)
    val neg = v.map(x => -x)
    val rows = (0L until 500L).map(i => (i, v)) ++ Seq((9000L, neg), (9001L, neg))
    val out = AnnOps.embeddingNearDupCandidates(rows.toDF("vec_id", "embedding"),
        p = 4, bands = 8, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.filter(p => p._1 == p._2).toSeq == Seq((0L, 0L)))
    assert(out.filter(p => p._1 != p._2).toSet == Set((9000L, 9001L)))
  }

  test("fingerprint64 is deterministic, order-sensitive, collision-free on corpus") {
    val fps = docs.select(col("doc_id"), fingerprint64(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fps2 = docs.repartition(7).select(col("doc_id"), fingerprint64(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps == fps2)
    // distinct texts → distinct fingerprints (500 docs, 61-bit space)
    val texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byFp = fps.groupBy(_._2).values
    byFp.foreach(g => assert(g.map(k => texts(k._1)).toSet.size == 1))
  }

  test("langId returns a profile language or und, deterministically") {
    val out = docs.select(TextOps.langId(col("text")).as("l")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(out.subsetOf(Set("en", "de", "fr", "es", "und")))
  }

  test("diffClassify outcome partition is total and disjoint") {
    import spark.implicits._
    val incoming = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val baseline = Seq((1L, "a"), (2L, "X")).toDF("k", "v")
    val out = RelationalOps.diffClassify(incoming, baseline, Seq("k"), Seq("v"))
      .select("k", "outcome").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "new"))
  }

  test("setEqualityByKey detects additions and removals") {
    import spark.implicits._
    val df = Seq(
      (1L, "s1", 1), (1L, "s1", 2),               // equal sets {s1}
      (2L, "s1", 1), (2L, "s2", 2),               // {s1} vs {s2}
      (3L, "s1", 1)                               // {s1} vs {}
    ).toDF("k", "v", "n")
    val out = RelationalOps.setEqualityByKey(df, "k", "v", col("n") % 2 === 1, col("n") % 2 === 0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false))
  }

  /** Two disjoint, equal-size sets of strings whose xxhash64 values XOR to
    * the same 64 bits: Gaussian elimination over GF(2) finds a dependent
    * subset among 66 hashes, each extended by a parity bit so the subset
    * has even size; its two halves then collide on (count, one XOR lane). */
  private def oneLaneCollision(): (Seq[String], Seq[String]) = {
    import spark.implicits._
    val vs = (0 until 66).map(i => s"v$i")
    val hs = vs.toDF("v").select(xxhash64(col("v"))).collect().map(_.getLong(0))
    // leading bit -> (reduced vector with parity bit 64, source indices)
    val basis = scala.collection.mutable.Map[Int, (BigInt, Set[Int])]()
    val vec = (h: Long) => (BigInt(h) & ((BigInt(1) << 64) - 1)) | (BigInt(1) << 64)
    val dependent = hs.indices.iterator.map { i =>
      var (x, src) = (vec(hs(i)), Set(i))
      while (x != 0 && basis.contains(x.bitLength - 1)) {
        val (bx, bs) = basis(x.bitLength - 1)
        x ^= bx; src = src.diff(bs) ++ bs.diff(src)
      }
      if (x != 0) basis(x.bitLength - 1) = (x, src)
      (x, src)
    }.collectFirst { case (x, src) if x == 0 => src.toSeq.sorted }.get
    val (a, b) = dependent.splitAt(dependent.size / 2)
    (a.map(vs), b.map(vs))
  }

  test("set signatures equal exact collect_set equality, crafted one-lane collision included") {
    import spark.implicits._
    val (ca, cb) = oneLaneCollision()
    val xor = (s: Seq[String]) => s.toDF("v").agg(bit_xor(xxhash64(col("v")))).head().getLong(0)
    assert(ca.size == cb.size && ca.toSet != cb.toSet && xor(ca) == xor(cb),
      "the crafted pair must collide on (count, single XOR lane)")
    // key 0: the crafted pair; keys 1..200: random sets over a small
    // universe, so equal sets, additions and removals all occur
    val rnd = new scala.util.Random(7)
    def draw(): Seq[String] = Seq.fill(rnd.nextInt(5))(s"u${rnd.nextInt(6)}")
    val sides = (0L, ca, cb) +: (1L to 200L).map { k =>
      val a = draw(); (k, a, if (rnd.nextInt(3) == 0) a.reverse else draw())
    }
    val rows = sides.flatMap { case (k, a, b) =>
      a.map(v => (k, v, "a")) ++ b.map(v => (k, v, "b")) :+ ((k, null: String, "a"))
    }.toDF("k", "v", "side")
    val exact = sides.map { case (k, a, b) => k -> (a.toSet == b.toSet) }.toMap
    val viaSig = RelationalOps.setEqualityByKey(rows, "k", "v",
        col("side") === "a", col("side") === "b")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(viaSig == exact)
    assert(!viaSig(0L) && exact.values.toSet == Set(true, false))

    // the composed change predicate: payload equal, child-key sets per side
    val parents = sides.map(_._1).toDF("k").withColumn("p", lit("x"))
    val rel = (side: String) => rows.filter(col("side") === side).select("k", "v")
    val unchanged = RelationalOps.diffClassifyWithRelSet(parents, parents, Seq("k"), Seq("p"),
        rel("a"), rel("b"), "v")
      .collect().map(r => r.getAs[Long]("k") -> (r.getAs[String]("outcome") == "unchanged")).toMap
    assert(unchanged == exact)
  }

  test("multimodal stub decode preserves byte counts through binary plumbing") {
    val media = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
    val feats = Multimodal.extractFeatures(spark, media, "doc_id", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lens = docs.select(col("doc_id"), octet_length(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats == lens)
  }

  test("sketch merge associativity: KLL sketch == merged partials") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val q = col("l_quantity").cast("double")
    val single = li.agg(kll_sketch_agg_double(q)).collect()(0).getAs[Array[Byte]](0)
    val merged = li
      .groupBy(pmod(col("l_orderkey"), lit(13)))
      .agg(kll_sketch_agg_double(q).as("s"))
      .agg(kll_merge_agg_double(col("s"))).collect()(0).getAs[Array[Byte]](0)
    // same data through different partial/merge paths → same quantile estimates
    for (r <- Seq(0.1, 0.5, 0.9)) {
      val a = kll(single).getQuantile(r)
      val b = kll(merged).getQuantile(r)
      assert(math.abs(a - b) <= math.max(1.0, 0.05 * math.abs(a)), s"q=$r: $a vs $b")
    }
    assert(ValidationEngine.ksDelta(single, merged) < 0.05)
  }

  test("stored KllDoublesSketch images merge through kll_merge_agg_double and read via ksDelta") {
    import spark.implicits._
    // `baseline_stats` rows written by earlier runs hold plain
    // `KllDoublesSketch.toByteArray` images (k = 200); the built-in merge
    // must accept them, empty ones included, and ksDelta must read the result
    def image(vs: Iterable[Double]): Array[Byte] = {
      val s = KllDoublesSketch.newHeapInstance(200)
      vs.foreach(s.update)
      s.toByteArray
    }
    val lo = image((0 until 3000).map(_.toDouble))
    val hi = image((3000 until 6000).map(_.toDouble))
    val merged = Seq(lo, hi, image(Nil)).toDF("s")
      .agg(kll_merge_agg_double(col("s"))).collect()(0).getAs[Array[Byte]](0)
    assert(kll(merged).getN == 6000)
    val fresh = spark.range(6000).agg(kll_sketch_agg_double(col("id").cast("double")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(ValidationEngine.ksDelta(merged, fresh) < 0.05)
    assert(ValidationEngine.ksDelta(merged, lo) > 0.4) // half the mass is above lo's range
    assert(ValidationEngine.ksDelta(merged, image(Nil)) == 0.0) // empty side: no evidence
  }

  test("cap-marker guard: an a == b row fails the query, a clean frame passes unchanged") {
    import spark.implicits._
    val clean = Seq((1L, 2L, 0.5), (1L, 3L, 0.9)).toDF("a", "b", "sim")
    val guarded = SparkEntry.failOnCapMarker(clean, "q21")
    assert(guarded.columns.toSeq == clean.columns.toSeq)
    assert(guarded.collect().toSeq == clean.collect().toSeq)
    val marked = clean.union(Seq((7L, 7L, 1.0)).toDF("a", "b", "sim"))
    val e = intercept[Exception](SparkEntry.failOnCapMarker(marked, "q21").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("q21: dedup cap exceeded")), e.toString)
  }

  private def kll(image: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(image))
}
