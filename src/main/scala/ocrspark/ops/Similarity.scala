package ocrspark.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline and
  * a sign-LSH (random-hyperplane) bucketed variant as the scale path.
  *
  * Scale notes: brute force is a broadcast of the (small) query set
  * against the full table — one pass, no shuffle of the corpus, fine
  * whenever |queries| ≪ |corpus|. The LSH variant buckets the corpus
  * once (16-bit signature → 65k buckets), then joins queries to their
  * bucket (+ multiprobe neighbors at hamming distance 1), cutting the
  * scanned fraction to ~bucket_size/N per query at a recall cost
  * measured in SimilaritySpec.
  */
object Similarity {

  val NumPlanes = 16

  /** Deterministic pseudo-random hyperplane component (plane p, dim j)
    * in [-1, 1] — no RNG state, stable across executors. */
  private def planeComponent(p: Int, j: Int): Float = {
    var z = p.toLong * 0x9E3779B97F4A7C15L + j.toLong * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    ((z >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
  }

  def cosineImpl(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
  val cosineUdf = udf(cosineImpl _)

  def bucketImpl(v: Seq[Float], planes: Int): Long = {
    // Long signature: adaptivePlanes legitimately asks for >31 planes
    // at 10^12-doc scale, where an Int signature would alias planes
    // 32+ onto low bits (JVM masks shifts) and silently collapse the
    // bucket space
    require(planes <= 63, s"sign-LSH signature holds at most 63 planes, got $planes")
    var sig = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += planeComponent(p, j) * v(j); j += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Sign-LSH bucket id for an embedding column. `planes` sizes the
    * bucket space (2^planes buckets): pick ≈ log2(corpusSize /
    * targetBucketSize) — high-sim near-dup detection tolerates many
    * planes (default 16); top-k search wants fewer + multiprobe. */
  def hyperplaneBucket(vec: Column, planes: Int = NumPlanes): Column =
    udf((v: Seq[Float]) => bucketImpl(v, planes)).apply(vec)

  /** Multiprobe bucket list: own bucket + all hamming-1 neighbors
    * (planes+1 probes) — recovers most of the recall sign-LSH loses at
    * the bucket boundary. */
  def probeBucketsImpl(v: Seq[Float], planes: Int): Array[Long] = {
    val b = bucketImpl(v, planes)
    val out = new Array[Long](planes + 1)
    out(0) = b
    var p = 0
    while (p < planes) { out(p + 1) = b ^ (1L << p); p += 1 }
    out
  }
  def probeBuckets(vec: Column, planes: Int): Column =
    udf((v: Seq[Float]) => probeBucketsImpl(v, planes)).apply(vec)

  /** Two-phase rank step shared by every ANN path: per-partition local
    * top-k via the bounded [[BoundedCollect.topKNbrs]] aggregator
    * (map-side partial aggregation — each task keeps ≤ 2k candidates
    * per query), then a merge of the ≤ k×partitions survivors. The old
    * `row_number().over(partitionBy("query_id"))` window funneled a
    * query's ENTIRE scored set into one task — for brute force at
    * 100 TB that is the whole corpus through |queries| tasks. `finish`
    * emits the top k already ordered, so rank = position + 1. Input:
    * (query_id, neighbor_id, cosine). */
  private[ops] def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(BoundedCollect.topKNbrs(k)(col("neighbor_id"), col("cosine"))
        .as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "nc")))
      .select(col("query_id"),
        col("nc.neighbor_id").as("neighbor_id"),
        col("nc.cosine").as("cosine"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact brute-force cosine top-k for each query id. Output:
    * (query_id, neighbor_id, cosine, rank), rank 1..k, deterministic
    * tiebreak on neighbor id. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame = {
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val joined = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineUdf(col("qv"), col("nv")), 6).as("cosine"))
    rankTopK(joined, k)
  }

  /** LSH-bucketed approximate top-k: queries probe their own bucket and
    * hamming-1 neighbors; only those corpus slices are scored.
    * `planes` defaults to 6 (64 buckets) — size it up with the corpus. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, planes: Int = 6): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nv"), hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probeBuckets(col(vecCol), planes)).as("bucket"))
    val joined = corpus.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineUdf(col("qv"), col("nv")), 6).as("cosine"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine")) // dedupe multi-probe hits
    rankTopK(joined, k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means coarse quantizer + cell probing
  // ------------------------------------------------------------------

  private def sqDist(a: Array[Float], b: Seq[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d.toDouble * d; i += 1 }
    s
  }

  private def nearestCell(v: Seq[Float], cs: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      val d = sqDist(cs(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic Lloyd's k-means over the embedding column.
    * Initialization is the k vectors with the smallest ids (stable, no
    * RNG). Each round is ONE distributed pass: mapPartitions emits
    * per-partition (cell, sumVector, count) partials — k×d doubles per
    * partition, never raw vectors — reduced on the driver (partials are
    * numPartitions×k rows; the MLlib-style scalable shape). Empty cells
    * keep their previous centroid. */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 4): Array[Array[Float]] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val ds = emb.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
    var centroids: Array[Array[Float]] =
      ds.orderBy(col(idCol)).limit(k).collect().map(_._2)
    var it = 0
    while (it < iters && centroids.nonEmpty) {
      val cs = centroids
      val partials = ds.mapPartitions { rows =>
        val kk = cs.length
        val d = cs(0).length
        val sums = Array.fill(kk)(new Array[Double](d))
        val counts = new Array[Long](kk)
        rows.foreach { case (_, v) =>
          val c = nearestCell(v, cs)
          val s = sums(c)
          var j = 0
          val n = math.min(d, v.length)
          while (j < n) { s(j) += v(j); j += 1 }
          counts(c) += 1
        }
        Iterator.range(0, kk).filter(counts(_) > 0)
          .map(c => (c, sums(c), counts(c)))
      }.collect()
      val sums = Array.fill(cs.length)(new Array[Double](cs(0).length))
      val counts = new Array[Long](cs.length)
      partials.foreach { case (c, s, n) =>
        var j = 0
        while (j < s.length) { sums(c)(j) += s(j); j += 1 }
        counts(c) += n
      }
      centroids = Array.tabulate(cs.length) { c =>
        if (counts(c) == 0) cs(c)
        else {
          val out = new Array[Float](sums(c).length)
          var j = 0
          while (j < out.length) {
            out(j) = (sums(c)(j) / counts(c)).toFloat; j += 1
          }
          out
        }
      }
      it += 1
    }
    centroids
  }

  /** Nearest-centroid cell of an embedding column. */
  private def nearestCellCol(vec: Column,
                             centroids: Array[Array[Float]]): Column =
    udf((v: Seq[Float]) => nearestCell(v, centroids)).apply(vec)

  /** The `nProbe` nearest cells of an embedding column, nearest first. */
  private def probedCellsCol(vec: Column, centroids: Array[Array[Float]],
                             nProbe: Int): Column =
    udf((v: Seq[Float]) => centroids.indices
      .sortBy(c => sqDist(centroids(c), v)).take(nProbe).toArray).apply(vec)

  /** Corpus cell assignments (id, cell) from a trained quantizer —
    * exposed so the s4 oracle can dump them and re-derive candidate
    * generation + scoring + ranking in SQL (the quantizer itself is
    * sbt-verified; re-deriving float-precision argmin cross-engine
    * would be a tie-break lottery). Callers running several IVF
    * artifacts over one corpus (cells dump + probes dump + the query
    * itself) train ONCE with [[kmeansCentroids]] and share the
    * centroids. */
  def ivfCellsFrom(emb: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[Array[Float]]): DataFrame =
    emb.select(col(idCol).as("id"),
      nearestCellCol(col(vecCol), centroids).as("cell"))

  /** Per-query probed cells (query_id, cells): the nearest `nProbe`
    * centroids, for the same oracle dump as [[ivfCellsFrom]]. */
  def ivfProbesFrom(emb: DataFrame, idCol: String, vecCol: String,
                    queryIds: Seq[Long], centroids: Array[Array[Float]],
                    nProbe: Int = 4): DataFrame =
    emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"),
        probedCellsCol(col(vecCol), centroids, nProbe).as("cells"))

  /** IVF approximate top-k: the corpus is partitioned into `nCells`
    * k-means cells (one assignment pass; the coarse quantizer ships in
    * task closures — k×d floats); each query probes its `nProbe`
    * nearest cells and scores only those slices with exact cosine.
    * Scanned fraction ≈ nProbe/nCells per query — the IVF scale path
    * next to [[lshTopK]]'s hash-bucket one (IVF adapts to the data
    * distribution; LSH needs no training pass). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, nCells: Int = 16,
              nProbe: Int = 4, iters: Int = 4): DataFrame =
    ivfTopKFrom(emb, idCol, vecCol, queryIds, k,
      kmeansCentroids(emb, idCol, vecCol, nCells, iters), nProbe)

  /** [[ivfTopK]] over a precomputed quantizer. */
  def ivfTopKFrom(emb: DataFrame, idCol: String, vecCol: String,
                  queryIds: Seq[Long], k: Int,
                  centroids: Array[Array[Float]],
                  nProbe: Int = 4): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nv"), nearestCellCol(col(vecCol), centroids).as("cell"))
    val q = emb.filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(probedCellsCol(col(vecCol), centroids, nProbe)).as("cell"))
    val joined = corpus.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineUdf(col("qv"), col("nv")), 6).as("cosine"))
    rankTopK(joined, k)
  }
}
