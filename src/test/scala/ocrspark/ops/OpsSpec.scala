package ocrspark.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite

class OpsSpec extends AnyFunSuite with SparkSuite {

  lazy val docs = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    d.cache(); d.count(); d
  }
  lazy val corpus = {
    val c = DedupCorpus.withPlantedDups(docs)
    c.cache(); c.count(); c
  }
  lazy val emb = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    e.cache(); e.count(); e
  }

  // ---------------- exact dedup ----------------
  test("exact dedup removes exactly the planted exact copies") {
    import spark.implicits._
    val survivors = Dedup.exactDedup(corpus, "doc_id", "text")
    val survivorIds = survivors.select($"doc_id").as[Long].collect().toSet
    val planted = docs.select($"doc_id").as[Long].collect()
      .filter(_ % 11 == 0).map(_ + DedupCorpus.ExactOffset).toSet
    // all planted exact copies removed; originals kept
    assert(planted.intersect(survivorIds).isEmpty)
    assert(survivors.count() == corpus.count() - planted.size)
  }

  // ---------------- minhash LSH ----------------
  test("minhash-LSH finds planted near-dups with high recall and sane precision") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    val nearTruth = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect()
      .filter { case (id, t) => id % 7 == 0 && t != null && t.length > 100 }
      .map { case (id, _) => (id, id + DedupCorpus.NearOffset) }.toSet
    assert(nearTruth.nonEmpty)
    val found = pairs.map(p => (p._1, p._2)).toSet
    val recall = nearTruth.count(found.contains).toDouble / nearTruth.size
    assert(recall >= 0.9, s"recall=$recall")
    // precision against EXACT shingle jaccard (the documents table
    // contains genuine near-dups of its own, so planted ids alone are
    // not the full truth): every est ≥ 0.7 pair must verify ≥ 0.55.
    val texts = corpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().toMap
    def exactJ(x: Long, y: Long): Double = {
      val sa = Dedup.shingleHashes(texts(x)).toSet
      val sb = Dedup.shingleHashes(texts(y)).toSet
      sa.intersect(sb).size.toDouble / math.max(1, sa.union(sb).size)
    }
    val verified = found.count { case (x, y) => exactJ(x, y) >= 0.55 }
    val precision = verified.toDouble / math.max(1, found.size)
    assert(precision >= 0.95, s"precision=$precision (found ${found.size})")
  }

  test("minhash estimate tracks exact jaccard on identical and disjoint docs") {
    val a = Dedup.minhashImpl("identical text body for hashing and more words here")
    val b = Dedup.minhashImpl("identical text body for hashing and more words here")
    val c = Dedup.minhashImpl("zq zw ze zr zt zy zu zi zo zp completely other")
    assert(Dedup.estJaccardImpl(a, b) == 1.0)
    assert(Dedup.estJaccardImpl(a, c) < 0.2)
  }

  // ---------------- simhash ----------------
  test("simhash: exact copies at hamming 0; near copies close; pairs found") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again and again"
    assert(Dedup.simhashImpl(t) == Dedup.simhashImpl(t))
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect()
    val exactTruth = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .filter { case (id, t0) => id % 11 == 0 && t0 != null }
      .map { case (id, _) => (id, id + DedupCorpus.ExactOffset) }.toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    val exactRecall = exactTruth.count(found.contains).toDouble / exactTruth.size
    assert(exactRecall == 1.0, s"exact-copy recall=$exactRecall")
    // exact copies must be at distance 0
    pairs.filter(p => exactTruth.contains((p._1, p._2)))
      .foreach(p => assert(p._3 == 0))
  }

  // ---------------- ngram jaccard ----------------
  test("ngram-jaccard rescoring keeps planted pairs above 0.6") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      candidateThreshold = 0.5, threshold = 0.6)
      .as[(Long, Long, Double)].collect()
    val nearTruth = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect()
      .filter { case (id, t) => id % 7 == 0 && t != null && t.length > 100 }
      .map { case (id, _) => (id, id + DedupCorpus.NearOffset) }.toSet
    val found = pairs.map(p => (p._2, p._1)).toSet ++ pairs.map(p => (p._1, p._2)).toSet
    val recall = nearTruth.count(found.contains).toDouble / nearTruth.size
    assert(recall >= 0.85, s"recall=$recall")
  }

  // ---------------- embeddings: ANN + near-dup ----------------
  test("brute-force top-k is deterministic, ranked, and self-excluding") {
    import spark.implicits._
    val r = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      Seq(0L, 1L, 2L), 5)
    val rows = r.as[(Long, Long, Double, Int)].collect()
    assert(rows.length == 15)
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq == (1 to 5))
      assert(g.forall(x => x._2 != x._1))
      // ranks ordered by cosine desc
      val byRank = g.sortBy(_._4).map(_._3)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k recall vs brute force on clustered data") {
    import spark.implicits._
    // deterministic clustered corpus: 40 centroids × 25 members in R^32
    // (ANN recall is only meaningful when neighbors actually cluster;
    // uniform-random embeddings have no structure to exploit)
    def unit(seed: Long, j: Int): Float = {
      var z = seed * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z ^= z >>> 31
      ((z >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
    }
    val dim = 32
    val data = (0 until 1000).map { i =>
      val c = i % 40
      val v = Array.tabulate(dim)(j => unit(c + 7L, j) + 0.15f * unit(i + 9999L, j))
      (i.toLong, v)
    }
    val df = spark.createDataset(data).toDF("vec_id", "embedding")
    val queries = (0L until 20L).toSeq
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(df, "vec_id", "embedding", queries, 10,
      planes = 6)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("IVF top-k recall vs brute force on clustered data") {
    import spark.implicits._
    def unit(seed: Long, j: Int): Float = {
      var z = seed * 0x9E3779B97F4A7C15L + j * 0xC2B2AE3D27D4EB4FL
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z ^= z >>> 31
      ((z >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
    }
    val dim = 32
    val data = (0 until 1000).map { i =>
      val c = i % 40
      val v = Array.tabulate(dim)(j => unit(c + 7L, j) + 0.15f * unit(i + 9999L, j))
      (i.toLong, v)
    }
    val df = spark.createDataset(data).toDF("vec_id", "embedding")
    val queries = (0L until 20L).toSeq
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 10)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val centroids = Similarity.kmeansCentroids(df, "vec_id", "embedding", 32)
    val approx = Similarity.ivfTopK(df, "vec_id", "embedding", queries, 10,
      centroids, nProbe = 4)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // k-means cells track the planted clusters, so IVF should beat the
    // hash-bucket LSH floor comfortably
    assert(recall >= 0.8, s"recall=$recall")
    // ranked, self-excluding contract (same as the other top-k ops)
    val r = Similarity.ivfTopK(df, "vec_id", "embedding", Seq(0L), 5,
        Similarity.kmeansCentroids(df, "vec_id", "embedding", 16))
      .as[(Long, Long, Double, Int)].collect()
    assert(r.map(_._4).sorted.toSeq == (1 to 5))
    assert(r.forall(x => x._2 != x._1))
  }

  test("top-k refuses more query ids than it broadcasts, before any job runs") {
    // the query side is broadcast whole to every task: one id over the
    // cap throws while the DataFrame is built, for every top-k path
    val ids = (0L to Similarity.MaxQueryIds.toLong).toSeq
    val centroids = Array(Array.fill(4)(0f))
    val vecs = emb // cached outside the job group
    val sc = spark.sparkContext
    sc.setJobGroup("topk-guard", "topk-guard")
    try {
      for ((name, topK) <- Seq[(String, () => Any)](
        "brute" -> (() => Similarity.bruteForceTopK(vecs, "vec_id", "embedding", ids, 5)),
        "lsh" -> (() => Similarity.lshTopK(vecs, "vec_id", "embedding", ids, 5)),
        "ivf" -> (() => Similarity.ivfTopK(vecs, "vec_id", "embedding", ids, 5,
          centroids)))) {
        val e = intercept[IllegalArgumentException](topK())
        assert(e.getMessage.contains(s"${Similarity.MaxQueryIds}"), s"$name: ${e.getMessage}")
      }
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("topk-guard").isEmpty)
  }

  test("embedding near-dups: planted perturbed copies are found") {
    import spark.implicits._
    val base = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().take(50)
    val planted = base.map { case (id, v) =>
      (id + 10000L, v.map(x => x + 0.001f))
    }
    val all = spark.createDataset(base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(all, "vec_id", "embedding", 0.99)
      .as[(Long, Long, Double)].collect()
    val truth = base.map { case (id, _) => (id, id + 10000L) }.toSet
    val found = pairs.map(p => (p._1, p._2)).toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("adaptive plane count: floor at 16, grows log2 with the corpus") {
    assert(Dedup.adaptivePlanes(0) == 16)
    assert(Dedup.adaptivePlanes(1000) == 16) // small corpus keeps r1/r2 geometry
    assert(Dedup.adaptivePlanes(1L << 21, 32) == 16) // 2^21/32 = 2^16
    assert(Dedup.adaptivePlanes(1L << 26, 32) == 21)
    assert(Dedup.adaptivePlanes(1000000000000L, 32) == 35) // 10^12 docs
  }

  test("embedding near-dups: over-cap bucket degrades to keeper star, never quadratic") {
    import spark.implicits._
    // 1000 identical vectors land in ONE sign-LSH bucket; uncapped this
    // self-join is 499500 pairs. The over-cap fallback must emit exactly
    // the linear member→keeper star (999 pairs, keeper = min id), and
    // the bucket size must stay observable.
    val v = Array.fill(32)(0.5f)
    val degen = spark.createDataset((0L until 1000L).map(i => (i, v)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(degen, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 999, s"expected 999 star pairs, got ${pairs.length}")
    assert(pairs.forall(_._1 == 0L), "keeper must be the min id")
    assert(pairs.map(_._2).toSet == (1L until 1000L).toSet)
    assert(pairs.forall(_._3 == 1.0))
    val sizes = Dedup.embeddingBucketSizes(degen, "vec_id", "embedding")
      .filter($"bn" > Dedup.MaxBucketSize).as[(Long, Long)].collect()
    assert(sizes.nonEmpty && sizes.head._2 == 1000L)
  }

  test("minhash-LSH: 500-member duplicate cluster all pairs to its keeper") {
    import spark.implicits._
    // A giant genuine-duplicate cluster (boilerplate page mirrored 500×)
    // exceeds MaxBucketSize in every band bucket. Dropping it would skip
    // exactly the docs most worth deduping; the star fallback must link
    // every member to the keeper (min id) with est_jaccard 1.0.
    val text = "identical boilerplate page body shared across mirrors " * 20
    val cluster = spark.createDataset((0L until 500L).map(i => (i, text)))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(cluster, "doc_id", "text", 0.7)
      .as[(Long, Long, Double)].collect()
    assert(pairs.forall(_._1 == 0L), "keeper must be the min id")
    assert(pairs.map(_._2).toSet == (1L until 500L).toSet,
      s"star must cover every member; got ${pairs.length} pairs")
    assert(pairs.forall(_._3 == 1.0))
  }

  test("simhash: 500-member duplicate cluster all pairs to its keeper at hamming 0") {
    import spark.implicits._
    val text = "identical boilerplate page body shared across mirrors " * 20
    val cluster = spark.createDataset((0L until 500L).map(i => (i, text)))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(cluster, "doc_id", "text", 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.forall(_._1 == 0L), "keeper must be the min id")
    assert(pairs.map(_._2).toSet == (1L until 500L).toSet,
      s"star must cover every member; got ${pairs.length} pairs")
    assert(pairs.forall(_._3 == 0))
  }

  // ---------------- text ops ----------------
  test("token counts: ws and bpe-ish") {
    import spark.implicits._
    val df = Seq("one two  three", "a-b c!", "", "  ").toDF("text")
    val ws = df.select(TextOps.wsTokenCount($"text")).as[Int].collect().toSeq
    assert(ws == Seq(3, 2, 0, 0))
    val bpe = df.select(TextOps.bpeTokenCount($"text")).as[Int].collect().toSeq
    assert(bpe == Seq(3, 5, 0, 0)) // a,-,b,c,!
  }

  test("as-of join: latest at-or-before match per key, no join node in plan") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 10L, t("2024-01-01 10:00:00")), // after e1 → e1
      (2L, 10L, t("2024-01-01 12:00:00")), // after e2 → e2
      (3L, 10L, t("2024-01-01 11:00:00")), // tie with e2 → e2 (at-or-before)
      (4L, 20L, t("2024-01-01 09:00:00")), // before any error → null
      (5L, 30L, t("2024-01-01 09:00:00"))  // key with no errors → null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, 10L, t("2024-01-01 09:30:00"), 1.0),
      (102L, 10L, t("2024-01-01 11:00:00"), 2.0),
      (103L, 20L, t("2024-01-01 10:00:00"), 3.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val out = AsOfJoin.asOf(left, right, "user_id", "ts")
      .select($"event_id", $"asof.event_id".as("m"))
      .as[(Long, Option[Long])].collect().toMap
    assert(out == Map(1L -> Some(101L), 2L -> Some(102L),
      3L -> Some(102L), 4L -> None, 5L -> None))
    // union-scan shape: a window over one shuffle, NO join operator
    val plan = AsOfJoin.asOf(left, right, "user_id", "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("ranged as-of join: hot key splits across ranges, result equals plain asOf") {
    import spark.implicits._
    val width = 3600L * 1000000L // 1-hour ranges, ts in epoch micros
    val base = 1700000000000000L
    // hot key 10: 400 left events + 40 right events across ~12 hours;
    // includes ranges with NO right rows (carry-in exercised), left rows
    // before any right row (asof null), and an exact-tie timestamp.
    val leftRows =
      (0 until 400).map(i => (1000L + i, 10L, base + i * 100000000L)) ++
      Seq((2000L, 20L, base + 7200000000L), // quiet key
          (2001L, 20L, base)) // before key 20's only right row → null
    val rightRows =
      (0 until 40).map(j => (3000L + j, 10L, base + j * 1000000000L)) ++
      Seq((3100L, 20L, base + 3600000000L))
    val left = leftRows.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
    val right = rightRows.toDF("event_id", "user_id", "us")
      .withColumn("ts", timestamp_micros($"us")).drop("us")
    val plain = AsOfJoin.asOf(left, right, "user_id", "ts")
      .select($"event_id", $"asof.event_id".as("m"))
      .as[(Long, Option[Long])].collect().toMap
    val ranged = AsOfJoin.asOfRanged(left, right, "user_id", "ts", width)
      .select($"event_id", $"asof.event_id".as("m"))
      .as[(Long, Option[Long])].collect().toMap
    assert(ranged == plain, s"diff: ${
      (ranged.toSet -- plain.toSet) ++ (plain.toSet -- ranged.toSet)}")
    assert(plain(2001L).isEmpty && plain(2000L).contains(3100L))
    // the within-range window shuffles on (key, range): the hot key's
    // rows are spread over >1 task instead of funneling into one
    val plan = AsOfJoin.asOfRanged(left, right, "user_id", "ts", width)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(__k#\\d+L?, __rg#".r.findFirstIn(plan).isDefined,
      plan)
  }

  test("ranged as-of join: randomized equivalence with plain asOf (boundary-biased)") {
    import spark.implicits._
    val base = 1700000000000000L
    for (seed <- Seq(7, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val width = Seq(1000000L, 3600000000L)(rnd.nextInt(2)) // 1 s or 1 h
      // timestamps biased onto range boundaries (exact multiples of
      // width), boundary±1 µs, and exact left==right tie instants
      def ts(): Long = {
        val r = rnd.nextInt(10)
        val k = rnd.nextInt(20).toLong
        if (r < 4) base + k * width + Seq(-1L, 0L, 1L)(rnd.nextInt(3))
        else base + (rnd.nextLong() % (20 * width)).abs
      }
      val keys = Seq(1L, 2L, 3L)
      val left = (1 to 120).map(i =>
        (i.toLong, keys(rnd.nextInt(3)), ts()))
      val rightTs = (1 to 40).map(_ => ts()).distinct
      val right = rightTs.zipWithIndex.map { case (t, i) =>
        (1000L + i, keys(rnd.nextInt(3)), t)
      }
      val lDf = left.toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros($"us")).drop("us")
      // (key, ts) unique on the right by construction (rightTs is
      // globally distinct) per the determinism contract
      val rDf = right.toDF("event_id", "user_id", "us")
        .withColumn("ts", timestamp_micros($"us")).drop("us")
      val plain = AsOfJoin.asOf(lDf, rDf, "user_id", "ts")
        .select($"event_id", $"asof.event_id".as("m"))
        .as[(Long, Option[Long])].collect().toMap
      val ranged = AsOfJoin.asOfRanged(lDf, rDf, "user_id", "ts", width)
        .select($"event_id", $"asof.event_id".as("m"))
        .as[(Long, Option[Long])].collect().toMap
      assert(ranged == plain, s"seed $seed width $width diff: ${
        (ranged.toSet -- plain.toSet) ++ (plain.toSet -- ranged.toSet)}")
    }
  }

  test("range join: binned equi-join matches brute force, no nested-loop join") {
    import spark.implicits._
    // intervals of varying length ≤ binWidth; points on and off edges
    val points = Seq((10L, 100L), (10L, 150L), (10L, 151L), (10L, 99L),
      (20L, 500L), (30L, 42L)).toDF("k", "p")
    val ivls = Seq((1L, 10L, 100L, 150L), (2L, 10L, 140L, 160L),
      (3L, 20L, 0L, 50L), (4L, 30L, 40L, 44L)).toDF("ivl", "k", "s", "e")
    val got = RangeJoin.pointInInterval(points, ivls, "k", "p", "s", "e", 200L)
      .select($"ivl", $"p").as[(Long, Long)].collect().toSet
    // brute force truth
    val truth = (for {
      (pk, p) <- Seq((10L, 100L), (10L, 150L), (10L, 151L), (10L, 99L),
        (20L, 500L), (30L, 42L))
      (ivl, ik, s, e) <- Seq((1L, 10L, 100L, 150L), (2L, 10L, 140L, 160L),
        (3L, 20L, 0L, 50L), (4L, 30L, 40L, 44L))
      if pk == ik && p >= s && p <= e
    } yield (ivl, p)).toSet
    assert(got == truth, s"got $got want $truth")
    val plan = RangeJoin.pointInInterval(points, ivls, "k", "p", "s", "e", 200L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("as-of join: null-key left rows never match null-key right rows") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, Some(10L), t("2024-01-01 10:00:00")),
      (2L, None, t("2024-01-01 12:00:00"))    // null key → asof must be null
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (101L, Some(10L), t("2024-01-01 09:30:00")),
      (102L, None, t("2024-01-01 11:00:00"))  // null-key right row: ignored
    ).toDF("event_id", "user_id", "ts")
    val out = AsOfJoin.asOf(left, right, "user_id", "ts")
      .select($"event_id", $"asof.event_id".as("m"))
      .as[(Long, Option[Long])].collect().toMap
    // join-equality semantics: NULL ≠ NULL (matches the DuckDB ASOF oracle)
    assert(out == Map(1L -> Some(101L), 2L -> None), out.toString)
  }

  test("range join: one absurd-endpoint interval cannot explode the bin fan-out") {
    import spark.implicits._
    val points = Seq((10L, 100L), (10L, 150L)).toDF("k", "p")
    // interval 2's end bound is a corrupt year-9999-style value: naively
    // it would explode into ~1.26e15 bins; the maxBins guard must treat
    // it like an inverted interval (zero matches) without touching row 1
    val ivls = Seq((1L, 10L, 100L, 150L),
      (2L, 10L, 0L, 253402300799000000L)).toDF("ivl", "k", "s", "e")
    val got = RangeJoin.pointInInterval(points, ivls, "k", "p", "s", "e", 200L)
      .select($"ivl", $"p").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (1L, 150L)), got.toString)
    // the drop is not silent: droppedIntervals surfaces exactly the
    // excluded row so a caller can assert zero-drop completeness
    val dropped = RangeJoin.droppedIntervals(ivls, "s", "e", 200L)
      .select($"ivl").as[Long].collect().toSeq
    assert(dropped == Seq(2L), dropped.toString)
    // a well-sized binning drops nothing
    assert(RangeJoin.droppedIntervals(
      ivls.filter($"ivl" === 1L), "s", "e", 200L).count() == 0L)
  }

  test("token histogram: counts, empty-token filtering, deterministic top-N") {
    import spark.implicits._
    val df = Seq("a b a", "a\t\tc", "  ", null.asInstanceOf[String]).toDF("text")
    val h = TextOps.tokenHistogram(df, "text", 2).as[(String, Long)].collect()
    assert(h.toSeq == Seq(("a", 3L), ("b", 1L))) // tie b/c → lexicographic
  }

  test("language id on authored snippets") {
    assert(TextOps.languageIdImpl(
      "the cat is in the house and it is warm with the fire") == "en")
    assert(TextOps.languageIdImpl(
      "el gato es de la casa y que es por una de las cosas") == "es")
    assert(TextOps.languageIdImpl(
      "der Hund ist nicht in die Stadt und das ist mit ein Auto") == "de")
    assert(TextOps.languageIdImpl(
      "le chat est dans les maisons et une pour des amis sur la table") == "fr")
    assert(TextOps.languageIdImpl("这是一个中文测试文档内容") == "zh")
    assert(TextOps.languageIdImpl("qqq www eee rrr") == "und")
    assert(TextOps.languageIdImpl("") == "und")
    assert(TextOps.languageIdImpl(null) == "und")
  }

  test("fingerprint is whitespace-insensitive and discriminative") {
    val a = TextOps.fingerprintImpl("hola mundo este es un documento de prueba")
    val b = TextOps.fingerprintImpl("hola   mundo\neste es\tun documento   de prueba")
    val c = TextOps.fingerprintImpl("otro documento totalmente distinto en contenido")
    assert(a == b)
    assert(a != c)
  }

  test("quality score in [0,1]; prose beats punctuation soup") {
    import spark.implicits._
    val prose = "The report describes the data in a clear and useful way " * 10
    val junk = "!!! ??? ### ||| @@@ %%% ^^^ &&& *** ((( )))" * 5
    val df = Seq(prose, junk).toDF("text")
    val scores = df.select(TextOps.qualityScore($"text")).as[Double].collect()
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
    assert(scores(0) > scores(1) + 0.3)
  }

  // ---------------- multimodal ----------------
  test("image header parses read true dimensions (PNG/JPEG/GIF/BMP)") {
    // synth PNG (docId 40 → png branch) and JPEG (docId 20 → jpg branch)
    // carry real IHDR / SOF0 headers; dims must match the closed form
    val pngId = 40L
    val (pw, ph) = ocrspark.job.Synth.imageDims(pngId)
    val png = ocrspark.job.Synth.imageFor(pngId)
    assert(Multimodal.pngDims(png).contains((pw, ph)))
    val jpgId = 20L
    val (jw, jh) = ocrspark.job.Synth.imageDims(jpgId)
    val jpg = ocrspark.job.Synth.imageFor(jpgId)
    assert(Multimodal.jpegDims(jpg).contains((jw, jh)))
    // hand-built GIF89a logical screen descriptor: 640×350 little-endian
    val gif = Array[Byte]('G', 'I', 'F', '8', '9', 'a',
      0x80.toByte, 0x02, 0x5E, 0x01, 0, 0, 0)
    assert(Multimodal.gifDims(gif).contains((640, 350)))
    // hand-built BMP: BITMAPINFOHEADER (size 40), 800×600, top-down
    // (negative height) must report the magnitude
    val bmp = new Array[Byte](54)
    bmp(0) = 'B'; bmp(1) = 'M'; bmp(14) = 40
    bmp(18) = 0x20; bmp(19) = 0x03 // 800 LE
    val negH = -600
    bmp(22) = negH.toByte; bmp(23) = (negH >> 8).toByte
    bmp(24) = (negH >> 16).toByte; bmp(25) = (negH >> 24).toByte
    assert(Multimodal.bmpDims(bmp).contains((800, 600)))
    // truncated headers are honest unknowns, not fabrications
    assert(Multimodal.pngDims(png.take(12)).isEmpty)
    assert(Multimodal.jpegDims(jpg.take(10)).isEmpty)
    // a payload ENDING in a 0xFF fill run must not read past the buffer
    assert(Multimodal.jpegDims(Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xFF,
      0xFF, 0xFF).map(_.toByte)).isEmpty)
    // decode surfaces the parsed dims and a single frame
    val m = Multimodal.decodeMedia(png)
    assert(m.kind == "image/png" && m.width == pw && m.height == ph &&
      m.n_frames == 1)
  }

  test("wav metadata: real RIFF walk — sample frames and duration from fmt/data") {
    // synth cohort: closed-form geometry (8 kHz mono 16-bit, frames%8==0)
    for (i <- 0L until 16L) {
      val (frames, durMs) = ocrspark.job.Synth.wavSpec(i)
      val m = Multimodal.decodeMedia(ocrspark.job.Synth.wavFor(i))
      assert(m.kind == "audio/wav" && m.n_frames == frames &&
        m.duration_ms == durMs, s"wav $i: $m")
    }
    // hand-built: 16 kHz stereo 16-bit (byteRate 64000, blockAlign 4),
    // 32000 data bytes → 8000 frames, 500 ms
    val wav = ocrspark.job.Synth.wavFor(0L)
    val hand = java.util.Arrays.copyOf(wav, 44 + 32000)
    def w32le(o: Int, v: Long): Unit = {
      hand(o) = v.toByte; hand(o + 1) = (v >>> 8).toByte
      hand(o + 2) = (v >>> 16).toByte; hand(o + 3) = (v >>> 24).toByte
    }
    w32le(24, 16000); w32le(28, 64000)
    hand(32) = 4; hand(33) = 0
    w32le(40, 32000)
    assert(Multimodal.wavMeta(hand).contains((8000L, 500L)))
    // declared data size beyond the buffer (truncated upload) still
    // reports the declared duration — header metadata, demuxer stance
    assert(Multimodal.wavMeta(java.util.Arrays.copyOf(wav, 100))
      .contains({ val (f, d) = ocrspark.job.Synth.wavSpec(0L); (f.toLong, d) }))
    // headerless RIFF junk is an honest unknown
    val junk = "RIFFxxxxWAVE".getBytes ++ Array.fill[Byte](20)(0x7F)
    assert(Multimodal.wavMeta(junk).isEmpty)
    assert(Multimodal.decodeMedia(junk).duration_ms == 0L)
  }

  test("mp4 metadata: real moov/mvhd walk — duration from timescale ticks") {
    for (i <- 0L until 16L) {
      val m = Multimodal.decodeMedia(ocrspark.job.Synth.mp4For(i))
      assert(m.kind == "video/mp4" &&
        m.duration_ms == ocrspark.job.Synth.mp4DurationMs(i), s"mp4 $i: $m")
      // frame count = sum of the two stts entries' sample counts
      assert(m.n_frames == ocrspark.job.Synth.mp4Frames(i), s"mp4 $i: $m")
    }
    // truncation before moov → honest zero duration
    val cut = java.util.Arrays.copyOf(ocrspark.job.Synth.mp4For(0L), 16)
    assert(Multimodal.mp4Meta(cut).isEmpty)
    assert(Multimodal.decodeMedia(cut).kind == "video/mp4")
    // mvhd v1 (64-bit creation/modification times): duration at +32
    val v1 = new Array[Byte](8 + 8 + 120)
    def w32be(a: Array[Byte], o: Int, v: Long): Unit = {
      a(o) = (v >>> 24).toByte; a(o + 1) = (v >>> 16).toByte
      a(o + 2) = (v >>> 8).toByte; a(o + 3) = v.toByte
    }
    def tag(a: Array[Byte], o: Int, s: String): Unit =
      (0 until 4).foreach(j => a(o + j) = s(j).toByte)
    w32be(v1, 0, 8 + 128); tag(v1, 4, "moov")
    w32be(v1, 8, 120); tag(v1, 12, "mvhd"); v1(16) = 1 // version 1
    w32be(v1, 36, 1000) // timescale at mvhd+28
    w32be(v1, 40, 0); w32be(v1, 44, 2500) // u64 duration at mvhd+32
    assert(Multimodal.mp4Meta(v1).contains(2500L))
    // adversarial u32 box size (0xFFFFFFFF): the walk must return None,
    // not drive an Int cursor negative and throw out-of-bounds
    val evil = new Array[Byte](64)
    w32be(evil, 0, 16); tag(evil, 4, "ftyp")
    w32be(evil, 16, 0xFFFFFFFFL); tag(evil, 20, "free")
    assert(Multimodal.mp4Meta(evil).isEmpty)
    assert(Multimodal.decodeMedia(evil).duration_ms == 0L)
    // RIFF form types route correctly: AVI is sniffed but not demuxed
    val avi = "RIFF0000AVI LIST".getBytes
    assert(Multimodal.decodeMedia(avi).kind == "video/avi")
    assert(Multimodal.decodeMedia(avi).duration_ms == 0L)
    // a payload ending EXACTLY at the mvhd size+tag must degrade to
    // None (the version byte at mv+8 is out of bounds), never throw
    val atTag = new Array[Byte](24)
    w32be(atTag, 0, 116); tag(atTag, 4, "moov")
    w32be(atTag, 8, 108); tag(atTag, 12, "mvhd")
    assert(Multimodal.mp4Meta(atTag).isEmpty)
    assert(Multimodal.decodeMedia(atTag).duration_ms == 0L)
  }

  test("mp4 stts walk: frame count from the sample table, truncation-safe") {
    def w32be(a: Array[Byte], o: Int, v: Long): Unit = {
      a(o) = (v >>> 24).toByte; a(o + 1) = (v >>> 16).toByte
      a(o + 2) = (v >>> 8).toByte; a(o + 3) = v.toByte
    }
    // hand-built three-entry stts: 10+20+30 = 60 frames. Box totals:
    // stts 40 (8 hdr + 4 ver/flags + 4 count + 3×8), each ancestor +8.
    val stts = 40
    val sizes = Seq(("moov", 80), ("trak", 72), ("mdia", 64),
      ("minf", 56), ("stbl", 48))
    val b = new Array[Byte](80)
    var o = 0
    for ((t, sz) <- sizes) {
      w32be(b, o, sz)
      (0 until 4).foreach(j => b(o + 4 + j) = t(j).toByte)
      o += 8
    }
    w32be(b, o, stts)
    "stts".zipWithIndex.foreach { case (c, j) => b(o + 4 + j) = c.toByte }
    w32be(b, o + 12, 3) // entry count
    w32be(b, o + 16, 10); w32be(b, o + 20, 100)
    w32be(b, o + 24, 20); w32be(b, o + 28, 200)
    w32be(b, o + 32, 30); w32be(b, o + 36, 300)
    assert(Multimodal.mp4FrameCount(b).contains(60L))
    // truncated entry table → None, never a partial sum
    assert(Multimodal.mp4FrameCount(
      java.util.Arrays.copyOf(b, b.length - 4)).isEmpty)
    // a path box missing (no minf) → None
    val noMinf = b.clone()
    noMinf(8 * 3 + 4) = 'x'
    assert(Multimodal.mp4FrameCount(noMinf).isEmpty)
    // synth cohort closed form
    for (i <- 0L until 16L)
      assert(Multimodal.mp4FrameCount(ocrspark.job.Synth.mp4For(i))
        .contains(ocrspark.job.Synth.mp4Frames(i)))
  }

  test("tiff metadata: IFD0 dims in both byte orders, truncation-safe") {
    for (i <- 0L until 16L) {
      val (w, h) = ocrspark.job.Synth.tiffDims(i)
      val m = Multimodal.decodeMedia(ocrspark.job.Synth.tiffFor(i))
      assert(m.kind == "image/tiff" && m.width == w && m.height == h &&
        m.n_frames == 1, s"tiff $i: $m")
    }
    val t = ocrspark.job.Synth.tiffFor(2L)
    // truncated before the IFD → honest 0×0
    assert(Multimodal.tiffDims(java.util.Arrays.copyOf(t, 9)).isEmpty)
    // truncated mid-entry: the complete-entry prefix is read; with only
    // ImageWidth in bounds, dims stay unknown (both tags required)
    assert(Multimodal.tiffDims(java.util.Arrays.copyOf(t, 23)).isEmpty)
    // IFD offset pointing past the buffer → None, never a throw
    val far = t.clone(); far(4) = 0xFF.toByte; far(5) = 0xFF.toByte
    assert(Multimodal.tiffDims(far).isEmpty)
  }

  test("pdf metadata: n_frames is the true page count") {
    val pdf = ocrspark.job.Synth.textPdfFor(8L, "contenido de prueba " * 50)
    val pages = ocrspark.parse.PdfExtract.parse(pdf, 0)
      .fold(_ => -1, _.pageCount)
    assert(pages > 0)
    val m = Multimodal.decodeMedia(pdf)
    assert(m.kind == "application/pdf" && m.n_frames == pages)
  }

  test("media metadata: real header decode with partition-batched plumbing") {
    import spark.implicits._
    val pdf = ocrspark.job.Synth.textPdfFor(8L, "contenido de prueba " * 50)
    val df = Seq((1L, pdf), (2L, Array[Byte](0x89.toByte, 'P', 'N', 'G')),
      (3L, Array.emptyByteArray), (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val meta = Multimodal.withMediaMetadata(df, "id", "payload")
    val rows = meta.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("kind")).toMap
    assert(rows(1L) == "application/pdf")
    assert(rows(2L) == "image/png")
    assert(rows(3L) == "empty")
    assert(rows(4L) == "empty")
    // determinism
    val again = Multimodal.withMediaMetadata(df, "id", "payload")
    assert(meta.exceptAll(again).count() == 0)
  }

  test("frame sampling and resize plan arithmetic") {
    import spark.implicits._
    val meta = Seq((1L, 10, 400, 300), (2L, 1, 2000, 1000))
      .toDF("id", "n_frames", "width", "height")
    val frames = Multimodal.sampleFrames(meta, "id", 3)
    assert(frames.filter($"id" === 1L).count() == 4) // 0,3,6,9
    assert(frames.filter($"id" === 2L).count() == 1)
    val plan = Multimodal.resizePlan(meta, 512)
    val r2 = plan.filter($"id" === 2L).collect()(0)
    assert(r2.getAs[Int]("out_w") == 512)
    assert(r2.getAs[Int]("out_h") == 256)
    val r1 = plan.filter($"id" === 1L).collect()(0)
    assert(r1.getAs[Int]("out_w") == 400) // no upscale
  }

  test("near-dup operators persist nothing") {
    corpus.count() // materialize the fixture caches first
    val before = spark.sparkContext.getPersistentRDDs.size
    val n1 = Dedup.minhashPairs(corpus, "doc_id", "text", 0.7).count()
    val n2 = Dedup.ngramJaccardPairs(corpus, "doc_id", "text").count()
    assert(n1 > 0 && n2 > 0)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before,
      s"sketch caches leaked: $before persistent RDDs before, $after after")
  }
}
