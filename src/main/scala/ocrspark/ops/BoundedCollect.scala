package ocrspark.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.{Encoder, functions}

/** Bounded-memory "collect the cap smallest members" aggregates: the
  * LSH buckets' by-id collect and the ANN paths' top-k.
  *
  * `collect_list` over a degenerate bucket (boilerplate pages, mirrored
  * sites, near-empty docs) is unbounded: at 10^12 docs a single hot
  * (band, signature) key can hold 10^9 members and OOM its reduce task
  * before any size filter runs. These aggregators keep AT MOST 2×`cap`
  * elements per group at every point (trim is deferred to amortize the
  * sort; `finish` returns exactly ≤ cap) and they are Aggregator-based,
  * so Spark runs them with map-side partial aggregation: the shuffle
  * carries pre-trimmed partial buffers, never the full degenerate
  * bucket.
  *
  * The LSH buckets collect (id, payload) members by id alone
  * ([[boundedById]]): the bucket's keeper (min id) always survives
  * trimming, so an over-cap bucket can still emit member→keeper pairs
  * (see Dedup).
  */
object BoundedCollect {

  /** The `cap` smallest inputs under `ord`, in order. Appends and merges
    * trim LAZILY: the buffer grows to 2×cap before a sort-and-trim back
    * to cap, so a hot bucket (the 10^9-member degenerate case this class
    * exists for) pays an amortized O(log cap) per element instead of a
    * full sort + copy per element, while the buffer stays bounded at
    * 2×cap everywhere. The cap smallest elements always survive a trim,
    * so the eventual keeper (global min) is never lost. */
  class BoundedSmallest[T](cap: Int, enc: Encoder[Seq[T]])
                          (implicit ord: Ordering[T])
      extends Aggregator[T, Seq[T], Seq[T]] {
    private def trim(s: Seq[T]): Seq[T] =
      if (s.length <= 2 * cap) s else s.sorted.take(cap)
    def zero: Seq[T] = Vector.empty
    def reduce(b: Seq[T], a: T): Seq[T] = trim(b :+ a)
    def merge(x: Seq[T], y: Seq[T]): Seq[T] = trim(x ++ y)
    def finish(b: Seq[T]): Seq[T] = b.sorted.take(cap)
    def bufferEncoder: Encoder[Seq[T]] = enc
    def outputEncoder: Encoder[Seq[T]] = enc
  }

  private[ops] def boundedSmallest[T: TypeTag: Ordering](cap: Int): BoundedSmallest[T] =
    new BoundedSmallest[T](cap, ExpressionEncoder[Seq[T]]())

  case class NbrScore(neighbor_id: Long, cosine: Double)
  object NbrScore {
    /** Top-k order: best cosine first, ties to the smallest neighbor id
      * — the same deterministic order the ANN rank step needs, so "cap
      * smallest under this ordering" IS the top-k set. */
    implicit val byRank: Ordering[NbrScore] =
      Ordering.by(ns => (-ns.cosine, ns.neighbor_id))
  }

  private def udaf[T: TypeTag](agg: BoundedSmallest[T]): UserDefinedFunction =
    functions.udaf(agg, ExpressionEncoder[T]())

  /** The `cap` smallest (id, payload) members by id alone, keeper first. */
  private[ops] def smallestById[P: TypeTag](cap: Int): BoundedSmallest[(Long, P)] =
    boundedSmallest[(Long, P)](cap)(implicitly, Ordering.by(_._1))

  /** By-id collect over two columns (id, payload), ready for
    * `groupBy(...).agg(...)`; members come out as `_1` (id), `_2`. */
  private[ops] def boundedById[P: TypeTag](cap: Int): UserDefinedFunction =
    udaf(smallestById[P](cap))

  /** Two-phase top-k building block for the ANN paths: map-side partial
    * aggregation keeps the best k (buffer ≤ 2k) per query per partition,
    * so the shuffle carries ≤ k×partitions rows per query and NO task
    * ever holds a query's full scored set — unlike a rank window over
    * `partitionBy(query_id)`, which funnels every scored row of a query
    * into one task (the 100 TB scale-killer this replaces). `finish`
    * returns the top k already in rank order. */
  def topKNbrs(k: Int): UserDefinedFunction = udaf(boundedSmallest[NbrScore](k))
}
