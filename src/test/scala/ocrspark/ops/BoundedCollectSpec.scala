package ocrspark.ops

import org.apache.spark.sql.expressions.Aggregator
import org.scalatest.funsuite.AnyFunSuite

import BoundedCollect.NbrScore

/** Direct checks of the bounded aggregators' invariants, without a
  * Spark plan: two partial buffers fed through `reduce`, then `merge`,
  * then `finish`. */
class BoundedCollectSpec extends AnyFunSuite {

  val cap = 8

  /** Feeds `elems` (shuffled) into two buffers via `reduce`, merges
    * them, and returns `finish` plus the largest buffer ever seen. */
  def run[T](agg: Aggregator[T, Seq[T], Seq[T]], elems: Seq[T]): (Seq[T], Int) = {
    val shuffled = new scala.util.Random(42).shuffle(elems)
    var largest = 0
    def fill(part: Seq[T]): Seq[T] = part.foldLeft(agg.zero) { (b, a) =>
      val next = agg.reduce(b, a)
      largest = math.max(largest, next.length)
      next
    }
    val (left, right) = shuffled.splitAt(shuffled.length / 3)
    val merged = agg.merge(fill(left), fill(right))
    largest = math.max(largest, merged.length)
    (agg.finish(merged), largest)
  }

  def check[T](agg: Aggregator[T, Seq[T], Seq[T]], elems: Seq[T],
               expected: Seq[T]): Unit = {
    assert(elems.length > 2 * cap)
    val (out, largest) = run(agg, elems)
    assert(out == expected, s"finish must return the $cap smallest in order")
    assert(out.head == expected.head, "the keeper (global minimum) must survive")
    assert(largest <= 2 * cap, s"a buffer held $largest > 2×cap elements")
  }

  test("ids: keeps exactly the cap smallest, keeper first, buffers ≤ 2×cap") {
    val ids = (0L until 100L).map(_ * 7 + 3)
    check(BoundedCollect.boundedSmallest[Long](cap), ids, ids.take(cap))
  }

  test("(id, simhash) members are ordered by id alone") {
    val members = (0L until 50L).map(i => (i, (i * 0x9E3779B97F4A7C15L) ^ 5L))
    check(BoundedCollect.smallestById[Long](cap), members, members.take(cap))
  }

  test("(id, vector) members are ordered by id alone") {
    val members = (0L until 40L).map(i => (i, Seq(i.toFloat, -i.toFloat)))
    check(BoundedCollect.smallestById[Seq[Float]](cap), members, members.take(cap))
  }

  test("top-k neighbours: best cosine first, ties to the smallest id") {
    val scores = (0L until 60L).map(i => NbrScore(i, (i % 20).toDouble / 20))
    val expected = scores.sortBy(s => (-s.cosine, s.neighbor_id)).take(cap)
    assert(expected.head == NbrScore(19L, 0.95))
    check(BoundedCollect.boundedSmallest[NbrScore](cap), scores, expected)
  }

  test("merge of two small buffers keeps every element") {
    val agg = BoundedCollect.boundedSmallest[Long](cap)
    val merged = agg.merge(Seq(5L, 1L), Seq(3L))
    assert(agg.finish(merged) == Seq(1L, 3L, 5L))
    assert(agg.finish(agg.zero).isEmpty)
  }
}
