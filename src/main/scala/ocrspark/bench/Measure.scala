package ocrspark.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one measurement protocol shared by [[graft.Bench]] and
  * [[ScalingBench]]: the same session, the same forcing action and the
  * same warm-up-then-time rule, so compile, JIT and codegen cost fall
  * outside every timed rep in the same way.
  * [[session]] is also the only place a session is built: `graft.Verify`,
  * `graft.Explain` and the test suites take theirs from it too.
  */
object Measure {

  /** Timed reps of one measured action: wall seconds of every rep, in
    * run order, and the row count the last rep returned. */
  final case class Reps(seconds: Seq[Double], rows: Long) {
    def median: Double = Measure.median(seconds)
    def min: Double = seconds.min
  }

  /** A fresh `local[cores]` session: shuffle partitions `2 × cores`,
    * AQE on, UTC, UI off. */
  def session(cores: Int): SparkSession = session(cores, 2 * cores)

  /** A fresh `local[cores]` session, `shufflePartitions` wide, AQE on,
    * UTC, UI off. Any active session is stopped first, so each caller
    * gets its own context and none inherits another's SQL conf. */
  def session(cores: Int, shufflePartitions: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `df` to completion and returns its row count. A bare count()
    * lets ColumnPruning drop deterministic projections (an extraction
    * UDF, a text-stat kernel, an aggregate's values), so the action
    * hashes `cols` — every column when none are named — into a one-row
    * aggregate. The sum ignores row order, so a sort whose order nothing
    * reads is still not timed. */
  def force(df: DataFrame, cols: String*): Long = {
    val hashed = if (cols.isEmpty) df.columns.toSeq else cols
    df.agg(sum(pmod(xxhash64(hashed.map(col): _*), lit(1000000007L))).as("h"),
      count(lit(1)).as("n")).collect()(0).getAs[Long]("n")
  }

  def timed(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** One warm-up pass, then `reps` timed passes with a GC before each:
    * the UDF-heavy passes allocate GBs of short-lived strings, and
    * without the GC rep k pays rep k-1's collection debt (p5's reps
    * once read 0.29/0.57/0.95 s in an otherwise clean window). */
  def reps(reps: Int)(f: => Long): Reps = {
    f
    var rows = 0L
    val seconds = (1 to reps).map { _ =>
      System.gc()
      val (s, n) = timed(f)
      rows = n
      s
    }
    Reps(seconds, rows)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}
