package ocrspark.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for a web-scale training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design notes (10^12 docs):
  *   - Sketches (64 minhashes / one 64-bit simhash) are computed in ONE
  *     row-local UDF pass — shingle sets never leave their row, so the
  *     only shuffled payload is (doc_id, sketch), never text.
  *   - Candidate generation is banding (LSH) / pigeonhole (SimHash) /
  *     sign-LSH (embeddings), all through ONE capped-bucket step
  *     ([[cappedPairs]]): one groupBy on small bucket keys collects each
  *     bucket's members through a BOUNDED aggregate (at most
  *     `MaxBucketSize` members ever materialize, even map-side) and
  *     pairs explode in place; no per-bucket self-join. Over-cap
  *     buckets degrade to a linear member→keeper star instead of being
  *     dropped — giant duplicate clusters stay fully linked.
  *   - MinHash verification re-joins sketches (not text) on candidate
  *     pairs — broadcast-sized in the common case after banding;
  *     simhash/embedding score inside the bucket row (their sketches
  *     are one long / one small vector).
  *   - Every operator is a lazy plan and caches nothing; to reuse the
  *     sketches across actions, write [[minhashSketches]] to storage and
  *     call [[minhashPairsFromSketches]].
  */
object Dedup {

  // precompiled hot-path patterns
  private val WsRun = java.util.regex.Pattern.compile("\\s+")
  private val NonWord = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]+")

  // ------------------------------------------------------------------
  // exact dedup: hash-groupBy, keep the smallest id per text hash
  // ------------------------------------------------------------------

  /** Exact duplicate groups by md5(text): (hash, keeper, n_dups).
    * md5 (not xxhash) so DuckDB can mirror it for the oracle. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_md5"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Exact-dedup survivors: one row per distinct text (the keeper). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol)
      .select(col("keeper").as(idCol))
    df.join(keepers, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  val NumHashes = 64
  val BandSize = 4 // 16 bands of 4 → catches J≳0.6 reliably
  val NumBands: Int = NumHashes / BandSize

  /** Character 5-gram shingle hashes of ws-normalized lowercase text. */
  private[ops] def shingleHashes(text: String): Array[Long] = {
    val s = WsRun.matcher(text).replaceAll(" ").trim
      .toLowerCase(java.util.Locale.ROOT)
    val k = 5
    if (s.length < k) return Array(s.hashCode.toLong)
    val out = new Array[Long](s.length - k + 1)
    var h = 0L
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    i = 0
    while (i < k) { h = h * B + s.charAt(i); i += 1 }
    out(0) = h
    i = k
    while (i < s.length) {
      h = (h - s.charAt(i - k) * pow) * B + s.charAt(i)
      out(i - k + 1) = h
      i += 1
    }
    out
  }

  /** 64-slot minhash signature via ONE-PERMUTATION HASHING (Li et al.,
    * NIPS 2012): each shingle is mixed once (SplitMix64 finalizer) and
    * binned by its top 6 bits; the signature keeps the min per bin —
    * one multiply-free mix per shingle instead of 64 affine transforms,
    * ~20× less sketch CPU at identical signature width. Empty bins are
    * densified by circular borrow from the nearest filled bin
    * (Shrivastava & Li 2014 rotation), so banding still behaves on
    * short documents; the collision probability per slot remains ≈ the
    * Jaccard similarity, which [[estJaccard]] and the band-LSH both
    * rely on (planted recall/precision pinned in OpsSpec). */
  def minhashImpl(text: String): Array[Long] = {
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    if (text == null) return mins
    val shingles = shingleHashes(text)
    var si = 0
    while (si < shingles.length) {
      var z = shingles(si) * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      val bin = (z >>> 58).toInt // top 6 bits → 64 bins
      if (z < mins(bin)) mins(bin) = z
      si += 1
    }
    // densify: borrow each empty bin's value from the nearest ORIGINAL
    // filled bin to its right (circular). All-empty (blank doc) stays
    // all-MaxValue — two blank docs still estimate J=1 as before.
    var anyFilled = false
    val filled = new Array[Boolean](NumHashes)
    var i = 0
    while (i < NumHashes) {
      filled(i) = mins(i) != Long.MaxValue
      anyFilled ||= filled(i)
      i += 1
    }
    if (anyFilled) {
      i = 0
      while (i < NumHashes) {
        if (!filled(i)) {
          var j = (i + 1) % NumHashes
          while (!filled(j)) j = (j + 1) % NumHashes
          mins(i) = mins(j)
        }
        i += 1
      }
    }
    mins
  }

  val minhash = udf(minhashImpl _)

  /** Estimated Jaccard from two minhash arrays. */
  def estJaccardImpl(a: Seq[Long], b: Seq[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < NumHashes) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / NumHashes
  }
  val estJaccard = udf(estJaccardImpl _)

  /** All-pairs cap: a (band, signature) bucket larger than this does
    * NOT get quadratic all-pairs generation — at 10^12 docs genuine
    * duplicate clusters (boilerplate pages, mirrored sites) routinely
    * exceed any fixed cap, and those are exactly the docs most worth
    * deduping. Over-cap buckets fall back to a LINEAR member→keeper
    * star (keeper = the bucket's min id): every member still pairs with
    * the keeper, preserving dedup semantics (dedup keeps one keeper per
    * cluster; the star is precisely the keeper's edge set) at O(n) pairs
    * instead of O(n²). Bucket-size distributions stay observable via
    * [[bucketSizes]] / [[embeddingBucketSizes]]. */
  val MaxBucketSize = 64

  /** The capped-bucket pairing step every LSH operator shares. `rows`
    * holds the bucket key columns `keys`, `id` and a payload `p`; each
    * bucket collects its [[MaxBucketSize]] smallest (id, p) members by
    * id (bounded, map-side). A bucket of 2 to MaxBucketSize members
    * pairs all i<j in place, no self-join; a larger one links every
    * member to its keeper (min id, which survives the trim) through a
    * broadcast of the tiny over-cap keeper set. Both branches score a
    * pair with the same `score(p_a, p_b)` expression. Output (id_a,
    * id_b, score), id_a < id_b. */
  private def cappedPairs[P: TypeTag](rows: DataFrame, keys: String*)
                                     (score: (Column, Column) => Column): DataFrame = {
    val grouped = rows.groupBy(keys.map(col): _*)
      .agg(BoundedCollect.boundedById[P](MaxBucketSize).apply(col("id"), col("p"))
          .as("members"),
        count(lit(1)).as("n"))
    val m = col("members")
    val smallPairs = grouped
      .filter(col("n") >= 2 && col("n") <= MaxBucketSize)
      .select(explode(flatten(transform(m, (a, i) =>
        transform(slice(m, i + 2, size(m) - i - 1), b =>
          struct(a("_1").as("id_a"), b("_1").as("id_b"),
            score(a("_2"), b("_2")).as("score")))))).as("q"))
      .select("q.*")
    val bigKeepers = grouped.filter(col("n") > MaxBucketSize)
      .select(keys.map(col) :+ element_at(m, 1)("_1").as("keeper") :+
        element_at(m, 1)("_2").as("keeper_p"): _*)
    val bigPairs = rows.join(broadcast(bigKeepers), keys)
      .filter(col("id") =!= col("keeper"))
      .select(col("keeper").as("id_a"), col("id").as("id_b"),
        score(col("keeper_p"), col("p")).as("score"))
    smallPairs.unionAll(bigPairs)
  }

  /** The sketch table (id, mh) — the one row-local shingling pass every
    * MinHash path starts from. `carry` columns ride along unchanged
    * (the streaming operators keep their event time). */
  def minhashSketches(df: DataFrame, idCol: String, textCol: String,
                      carry: String*): DataFrame =
    df.select(Seq(col(idCol).as("id"), minhash(col(textCol)).as("mh")) ++
      carry.map(col): _*)

  /** Band rows (id, [carry,] band, sig) for a sketch table — band
    * signature = hash of the band's 4 minhashes. Public so the band
    * derivation can be dumped for the cross-engine oracle (the banding
    * shuffle's exact input); the streaming near-dup operators group by
    * these same rows, carrying `mh` for scoring. */
  def minhashBands(withMh: DataFrame, carry: String*): DataFrame =
    withMh.select(Seq(col("id")) ++ carry.map(col) :+
      posexplode(expr(s"transform(sequence(0, ${NumBands - 1}), " +
        s"b -> hash(b, slice(mh, b * $BandSize + 1, $BandSize)))"))
        .as(Seq("band", "sig")): _*)

  /** MinHash-LSH candidate pairs (id_a < id_b, distinct).
    *
    * Plan shape (one banding shuffle, no self-join): band rows group by
    * (band, sig) into a capped member list and pairs explode from the
    * list in place. Shuffled payload is (band_sig, id) and (id,
    * sketch); text never moves. */
  def minhashCandidates(withMh: DataFrame): DataFrame =
    // members carry ids only (a constant payload): the 64-long sketch in
    // every band row would multiply the banding shuffle ~16×. distinct:
    // a pair can collide in up to NumBands buckets; score each unique
    // candidate once
    cappedPairs[Boolean](minhashBands(withMh).withColumn("p", lit(true)),
        "band", "sig")((_, _) => lit(0))
      .select(col("id_a"), col("id_b")).distinct()

  /** Rescore candidate pairs against a given sketch table: two hash
    * joins carrying (id, 64-long sketch) for candidates only. */
  def minhashPairsFromSketches(withMh: DataFrame,
                               threshold: Double): DataFrame =
    minhashCandidates(withMh)
      .join(withMh.select(col("id").as("id_a"), col("mh").as("mh_a")), Seq("id_a"))
      .join(withMh.select(col("id").as("id_b"), col("mh").as("mh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("mh_a"), col("mh_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)

  /** Lazy plan: the sketch subtree appears five times (bounded bucket
    * agg, keeper-star band scan, keeper broadcast, two rescore joins),
    * so each downstream scan re-shingles the text. Fine for one
    * materialization of a slice; for repeated actions or big corpora
    * materialize [[minhashSketches]] to storage first and call
    * [[minhashPairsFromSketches]] — the lake-scale shape. Nothing is
    * cached here, so nothing leaks into the session's storage memory. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7): DataFrame =
    minhashPairsFromSketches(minhashSketches(df, idCol, textCol), threshold)

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over word tokens (row-local UDF). */
  def simhashImpl(text: String): Long = {
    if (text == null) return 0L
    val counts = new Array[Int](64)
    NonWord.split(text.toLowerCase(java.util.Locale.ROOT))
      .foreach { tok =>
        if (tok.nonEmpty) {
          var h = tok.hashCode.toLong * 0x9E3779B97F4A7C15L
          h ^= h >>> 29
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) counts(bit) += 1
            else counts(bit) -= 1
            bit += 1
          }
        }
      }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }
  val simhash = udf(simhashImpl _)

  /** Sign-LSH bucket-size distribution for an embedding corpus — the
    * observability hook for [[embeddingNearDups]]'s cap. Pass the SAME
    * `planes` as the dedup run being observed: the default-16 stats
    * describe 2^16 buckets and say nothing about a run bucketed with,
    * say, adaptivePlanes(corpusSize). */
  def embeddingBucketSizes(emb: DataFrame, idCol: String,
                           vecCol: String,
                           planes: Int = Similarity.NumPlanes): DataFrame =
    emb.select(col(idCol).as("id"),
        Similarity.hyperplaneBucket(col(vecCol), planes).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("bn"))

  /** Bucket-size distribution for a corpus — the observability hook for
    * the MaxBucketSize cap (how many buckets / docs are over-cap). */
  def bucketSizes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashBands(minhashSketches(df, idCol, textCol))
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("bn"))

  /** SimHash near-dup pairs with hamming ≤ maxDist, candidates via the
    * pigeonhole principle: split 64 bits in 4 blocks of 16; any pair at
    * distance ≤3 shares at least one intact block. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "pigeonhole blocks sized for maxDist ≤ 3")
    // members carry (id, 64-bit sketch), so hamming is scored in place
    val blocks = df
      .select(col(idCol).as("id"), simhash(col(textCol)).as("p"))
      .select(col("id"), col("p"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> (shiftright(p, b * 16) & 65535))"))
          .as(Seq("block", "sig")))
    cappedPairs[Long](blocks, "block", "sig")((a, b) => bit_count(a.bitwiseXOR(b)))
      .filter(col("score") <= maxDist)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("score")).as("hamming"))
  }

  // ------------------------------------------------------------------
  // n-gram Jaccard (exact, within LSH candidates)
  // ------------------------------------------------------------------

  /** Word 3-gram set hashes (row-local). */
  def ngramSetImpl(text: String): Array[Long] = {
    if (text == null) return Array.empty
    val toks = NonWord.split(text.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)
    if (toks.length < 3) return toks.map(_.hashCode.toLong).distinct
    (0 to toks.length - 3).map { i =>
      (toks(i), toks(i + 1), toks(i + 2)).hashCode.toLong
    }.distinct.toArray
  }
  val ngramSet = udf(ngramSetImpl _)

  val jaccardUdf = udf((a: Seq[Long], b: Seq[Long]) => {
    if (a.isEmpty && b.isEmpty) 1.0
    else {
      val sa = a.toSet
      val sb = b.toSet
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
  })

  private def ngramRescore(cands: DataFrame, sets: DataFrame,
                           threshold: Double): DataFrame =
    cands
      .join(sets.withColumnRenamed("id", "id_a")
        .withColumnRenamed("ng", "ng_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("id", "id_b")
        .withColumnRenamed("ng", "ng_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(jaccardUdf(col("ng_a"), col("ng_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact n-gram Jaccard over MinHash-LSH candidates: LSH prunes the
    * O(n²) space; the exact measure then re-scores survivors. Lazy,
    * nothing cached (see [[minhashPairs]]). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        candidateThreshold: Double = 0.5,
                        threshold: Double = 0.6): DataFrame = {
    val cands = minhashPairs(df, idCol, textCol, candidateThreshold)
    val sets = df.select(col(idCol).as("id"), ngramSet(col(textCol)).as("ng"))
    ngramRescore(cands, sets, threshold)
  }

  // ------------------------------------------------------------------
  // embedding-cosine near-dup (delegates to Similarity's LSH machinery)
  // ------------------------------------------------------------------

  /** Plane count sized to the corpus: expected bucket population is
    * N / 2^planes, so planes ≈ log2(N / targetBucket) keeps buckets
    * near `targetBucket` as the corpus grows — at 10^12 docs with
    * targetBucket 32 this is ~35 planes, vs the old fixed 16 whose
    * buckets would hold ~15M vectors each. Floor of 16 preserves the
    * round-1/2 behavior on small corpora. */
  def adaptivePlanes(corpusSize: Long, targetBucket: Int = 32): Int =
    math.max(Similarity.NumPlanes,
      math.ceil(math.log(math.max(1L, corpusSize).toDouble / targetBucket) /
        math.log(2.0)).toInt)

  /** Near-duplicate pairs by embedding cosine ≥ threshold, candidates
    * via sign-LSH buckets (see [[Similarity.hyperplaneBucket]]).
    * Buckets over [[MaxBucketSize]] fall back to the linear
    * member→keeper star (same as the text LSH paths) — observable via
    * [[embeddingBucketSizes]] — so pair generation never goes quadratic
    * and giant duplicate clusters are still fully linked. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.95,
                        planes: Int = Similarity.NumPlanes): DataFrame = {
    val bucketed = emb.select(col(idCol).as("id"), col(vecCol).as("p"),
      Similarity.hyperplaneBucket(col(vecCol), planes).as("bucket"))
    // r6 is the half-up pathway of the d5 oracle; Spark's round() goes
    // through BigDecimal HALF_UP, which can differ by 1e-6 on values
    // whose double·1e6 sits on a rounding boundary. A vector has one
    // bucket, so cappedPairs emits each pair once: no dedup step
    cappedPairs[Seq[Float]](bucketed, "bucket")((a, b) =>
        TextOps.r6(Similarity.cosineUdf(a, b)))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score").as("cosine"))
  }
}
