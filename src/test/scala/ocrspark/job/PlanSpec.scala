package ocrspark.job

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import ocrspark.SparkSuite

/** Physical-plan shape assertions — the 100 TB design intent, pinned
  * (SURVEY.md §4): predicate pushdown + column pruning reach the parquet
  * scan, batch extraction adds no exchange over a lake scan, the lake
  * write adds exactly one (the `rebalance(bucket)`, AFTER map-side
  * extraction), dimension joins broadcast, and aggregations run partial
  * (map-side) before final. AQE is disabled in this suite, so the static
  * plan shape is inspectable; production sessions keep it on, and the
  * lake-write test turns it back on (a rebalance needs it). */
class PlanSpec extends AnyFunSuite with SparkSuite {

  /** Plan traversal that descends into adaptive plans and query stages. */
  private object AqePlan extends AdaptiveSparkPlanHelper

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  /** Pages as a parquet scan (the production shape: the lake table on
    * disk, not the in-session generator with its own exchange). */
  lazy val pagesParquet: org.apache.spark.sql.DataFrame = {
    val dir = root.resolve("pages").toString
    Synth.pagesDF(spark, sfDir).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter+project pushes predicates and prunes columns at the scan") {
    val df = graft.SparkEntry.queries("p1_filter_project")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(n_chars"), plan)
    // ReadSchema must NOT include the heavy text column
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), readSchema)
  }

  test("extraction over a lake scan: exactly one exchange, AFTER the extract UDF") {
    // the exchange is the lake writer's: pin the staged write of a
    // resumed IncrementalExtract commit, as the engine plans it. Spark
    // plans a rebalance only with AQE on, so this test turns it on and
    // reads the final adaptive plan
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val writes = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.executedPlan match {
          case a: AdaptiveSparkPlanExec
              if AqePlan.find(a)(_.isInstanceOf[DataWritingCommandExec]).isDefined =>
            writes.add(a.executedPlan)
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val plan =
      try {
        val table = new ocrspark.lake.LakeTable(root.resolve("lake").toString)
        IncrementalExtract.run(spark,
          pagesParquet.filter(ExtractJob.bucketCol(ExtractJob.DefaultBuckets) < 20), table)
        spark.listenerManager.register(listener)
        assert(!IncrementalExtract.run(spark, pagesParquet, table).noop)
        eventually(timeout(30.seconds))(writes.asScala.head)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
      }
    // every node of the final plan, query stages included
    val nodes = AqePlan.collect(plan) { case p => p }
    // the resume step filters committed buckets; it does not join
    assert(!nodes.exists(_.isInstanceOf[BaseJoinExec]), plan)
    val exchanges = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size == 1, s"expected 1 exchange, got ${exchanges.size}\n$plan")
    val exchange = exchanges.head
    assert(exchange.shuffleOrigin == REBALANCE_PARTITIONS_BY_COL, plan)
    // map-side extraction: every node that runs the UDF sits BELOW it
    def runsUdf(p: SparkPlan) = p.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))
    val udfBelow = AqePlan.collect(exchange.child) { case p if runsUdf(p) => p }
    assert(udfBelow.nonEmpty && udfBelow.size == nodes.count(runsUdf), plan)
    // and the exchange payload is pruned: no html binary crosses the wire
    assert(!exchange.child.output.exists(_.name == "html"), exchange.child.output)
  }

  test("batch extraction over a lake scan runs with no exchange") {
    val plan = planOf(ExtractJob.run(pagesParquet))
    assert(!plan.contains("Exchange"), plan)
  }

  test("analyze-only query over a lake scan runs with no shuffle at all") {
    val plan = planOf(ExtractJob.analyzeOnly(pagesParquet))
    assert(!plan.contains("Exchange"), plan)
  }

  test("dimension join broadcasts the small side") {
    val df = graft.SparkEntry.queries("j1_join_agg")(spark, sfDir)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("gated average aggregates partially before the shuffle") {
    val df = graft.SparkEntry.queries("a1_gated_avg")(spark, sfDir)
    val plan = planOf(df)
    val hashAggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate\n$plan")
  }

  test("whole-stage codegen covers the lake scan stage") {
    // simpleString marks whole-stage-codegen stages as "*(n)"
    val plan = planOf(ExtractJob.run(pagesParquet))
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("), plan)
  }

  test("bucketed lake tables join with no shuffle and no sort") {
    // The 100 TB co-located-join story: two lake tables bucketed+sorted
    // by url join WITHOUT any Exchange (bucketing provides the hash
    // distribution) and WITHOUT a sort (one file per bucket, sortBy
    // honored at the scan). On a cluster this is the difference between
    // re-shuffling 100 TB per join and reading co-located splits.
    import spark.implicits._
    val wh = root.resolve("wh").toString
    val a = pagesParquet.select($"url", $"lang")
    val b = pagesParquet.select($"url", org.apache.spark.sql.functions
      .octet_length($"html").as("n_bytes"))
    spark.sql("DROP TABLE IF EXISTS pages_b")
    spark.sql("DROP TABLE IF EXISTS ext_b")
    a.coalesce(1).write.format("parquet")
      .option("path", s"$wh/pages_b")
      .bucketBy(8, "url").sortBy("url").saveAsTable("pages_b")
    b.coalesce(1).write.format("parquet")
      .option("path", s"$wh/ext_b")
      .bucketBy(8, "url").sortBy("url").saveAsTable("ext_b")
    // force the shuffle-join path: at sf0.001 both sides fit under the
    // broadcast threshold, which would bypass bucketing entirely (and
    // at 100 TB neither fact table broadcasts)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("pages_b").join(spark.table("ext_b"), Seq("url"))
      val plan = planOf(j)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(!plan.linesIterator.exists(l => l.trim.startsWith("+- Sort") ||
        l.trim.startsWith(":- Sort")), plan)
      assert(j.count() == a.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS pages_b")
      spark.sql("DROP TABLE IF EXISTS ext_b")
    }
  }

  test("ANN rank step is two-phase top-k: no per-query global window, partial agg before the shuffle") {
    // A `row_number over partitionBy(query_id)` window funnels a query's
    // ENTIRE scored set into one task — for brute force at 100 TB that is
    // the whole corpus through |queries| tasks. The two-phase shape keeps
    // a bounded top-k aggregator map-side, so the shuffle carries at most
    // k×partitions rows per query.
    import ocrspark.ops.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    for ((name, df) <- Seq(
      "brute" -> Similarity.bruteForceTopK(emb, "vec_id", "embedding", qids, 5),
      "lsh" -> Similarity.lshTopK(emb, "vec_id", "embedding", qids, 5),
      "ivf" -> Similarity.ivfTopK(emb, "vec_id", "embedding", qids, 5,
        Similarity.kmeansCentroids(emb, "vec_id", "embedding", 16)))) {
      val plan = planOf(df)
      assert(!plan.contains("Window"), s"$name still ranks via a window\n$plan")
      // the udaf runs as ObjectHashAggregate/SortAggregate with a partial
      // (map-side) pass before the exchange
      val aggs = plan.linesIterator.count(l =>
        l.contains("ObjectHashAggregate") || l.contains("SortAggregate"))
      assert(aggs == 2, s"$name: expected partial+final top-k aggregate\n$plan")
      // and nothing else aggregates: no per-pair dedup between the
      // probe join and the rank step
      val nodes = df.queryExecution.executedPlan.collect { case p => p }
      assert(!nodes.exists(_.isInstanceOf[HashAggregateExec]), s"$name: extra aggregate\n$plan")
      // the query side is the one broadcast
      assert(nodes.count(_.isInstanceOf[BroadcastExchangeExec]) == 1,
        s"$name: expected one broadcast of the queries\n$plan")
    }
  }

  test("LSH candidate generation has no self-join and no sort-merge join") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    // in-cap pairs explode inside the bounded bucket aggregation (no
    // self-join); the only joins allowed are (a) minhash's two
    // sketch-rescore hash joins and (b) the over-cap keeper-star join of
    // simhash, minhash and embedding near-dup, which must be a BROADCAST
    // of the (tiny) keeper set — never a sort-merge self-join of band rows
    val sim = planOf(ocrspark.ops.Dedup.simhashPairs(docs, "doc_id", "text"))
    assert(!sim.contains("SortMergeJoin"), sim)
    val simJoins = sim.linesIterator.count(_.contains("Join"))
    val simBcast = sim.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(simJoins == simBcast && simJoins <= 1,
      s"simhash may only have the broadcast keeper-star join\n$sim")
    val mh = planOf(ocrspark.ops.Dedup.minhashPairs(docs, "doc_id", "text"))
    assert(!mh.contains("SortMergeJoin"), mh)
    val joins = mh.linesIterator.count(_.contains("HashJoin"))
    assert(joins <= 3, s"expected ≤2 rescore + 1 keeper-star joins, got $joins\n$mh")
    assert(mh.linesIterator.exists(_.contains("BroadcastHashJoin")),
      s"keeper-star join must broadcast the keeper set\n$mh")
    val embDf = ocrspark.ops.Dedup.embeddingNearDups(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding")
    val emb = planOf(embDf)
    assert(!emb.contains("SortMergeJoin"), emb)
    val embJoins = emb.linesIterator.count(_.contains("Join"))
    val embBcast = emb.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(embJoins == 1 && embBcast == 1,
      s"embedding near-dup may only have the broadcast keeper-star join\n$emb")
    // a vector has one bucket, so no pair needs a dedup aggregate
    assert(embDf.queryExecution.executedPlan
      .collect { case a: HashAggregateExec => a }.isEmpty,
      s"embedding near-dup dedups pairs\n$emb")
  }
}
