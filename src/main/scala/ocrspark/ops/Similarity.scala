package ocrspark.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline,
  * sign-LSH buckets and IVF (k-means) cells as the scale paths.
  *
  * All three run one probe-join step: the query rows, each with the
  * cells it probes, are broadcast against the corpus, each row in its
  * one cell — one pass, no shuffle of the corpus, fine while |queries|
  * ≪ |corpus|, and refused above [[MaxQueryIds]]. Brute force probes
  * every row; LSH a query's bucket + its hamming-1 neighbors, IVF its
  * `nProbe` nearest cells, cutting the scanned fraction at a recall
  * cost measured in OpsSpec.
  */
object Similarity {

  val NumPlanes = 16

  /** Most query ids one top-k call takes: the query rows are broadcast
    * whole to every task, once per probe (1 + planes rows for LSH), so
    * the broadcast's size comes from this bound, not from a guess. */
  val MaxQueryIds = 1024

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

  /** A scale path's cell of a corpus row and cells a query probes. */
  private case class Index(cell: Column => Column, probes: Column => Column)

  /** The one top-k step: broadcast the query rows with their exploded
    * probes, join the corpus on its cell (no index: every row), drop
    * self-pairs, rank `round(cosine, 6)`. A corpus row has one cell and
    * a query's probes are distinct, so no pair is joined twice. Output:
    * (query_id, neighbor_id, cosine, rank), rank 1..k, ties by id. */
  private def probeTopK(emb: DataFrame, idCol: String, vecCol: String,
                        queryIds: Seq[Long], k: Int,
                        index: Option[Index]): DataFrame = {
    require(queryIds.size <= MaxQueryIds,
      s"top-k broadcasts its query rows: at most $MaxQueryIds ids, got ${queryIds.size}")
    val vec = col(vecCol)
    val corpus = emb.select(Seq(col(idCol).as("neighbor_id"), vec.as("nv")) ++
      index.map(_.cell(vec).as("cell")): _*)
    val queries = broadcast(emb.filter(col(idCol).isin(queryIds: _*))
      .select(Seq(col(idCol).as("query_id"), vec.as("qv")) ++
        index.map(i => explode(i.probes(vec)).as("probe")): _*))
    val pairs = index.fold(corpus.join(queries))(_ =>
      corpus.join(queries, col("cell") === col("probe")))
    rankTopK(pairs.filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosineUdf(col("qv"), col("nv")), 6).as("cosine")), k)
  }

  /** Exact brute-force cosine top-k for each query id. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame =
    probeTopK(emb, idCol, vecCol, queryIds, k, None)

  /** LSH-bucketed approximate top-k: queries probe their own bucket and
    * hamming-1 neighbors; only those corpus slices are scored.
    * `planes` defaults to 6 (64 buckets) — size it up with the corpus. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, planes: Int = 6): DataFrame =
    probeTopK(emb, idCol, vecCol, queryIds, k, Some(Index(
      hyperplaneBucket(_, planes), probeBuckets(_, planes))))

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

  /** Nearest-centroid IVF cell of an embedding column. Public, like
    * [[hyperplaneBucket]], so the s4 oracle can dump the assignments
    * (re-deriving a float argmin cross-engine is a tie-break lottery). */
  def ivfCell(vec: Column, centroids: Array[Array[Float]]): Column =
    udf((v: Seq[Float]) => nearestCell(v, centroids)).apply(vec)

  /** The `nProbe` nearest IVF cells of an embedding column, nearest
    * first — the IVF counterpart of [[probeBuckets]]. */
  def ivfProbes(vec: Column, centroids: Array[Array[Float]],
                nProbe: Int): Column =
    udf((v: Seq[Float]) => centroids.indices
      .sortBy(c => sqDist(centroids(c), v)).take(nProbe).toArray).apply(vec)

  /** IVF approximate top-k over [[kmeansCentroids]]: each query scores
    * the corpus rows of its `nProbe` nearest cells with exact cosine
    * (scanned fraction ≈ nProbe/cells). IVF adapts to the data; LSH
    * needs no training pass. Callers share one training across calls. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              centroids: Array[Array[Float]], nProbe: Int = 4): DataFrame =
    probeTopK(emb, idCol, vecCol, queryIds, k, Some(Index(
      ivfCell(_, centroids), ivfProbes(_, centroids, nProbe))))
}
