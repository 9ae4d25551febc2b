package ocrspark.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite

class MeasureSpec extends AnyFunSuite with SparkSuite {

  test("force evaluates a projection that count() prunes") {
    val calls = spark.sparkContext.longAccumulator("udf calls")
    val doubled = udf { (x: Long) => calls.add(1); x * 2 }
    val df = spark.range(100).select(doubled(col("id")).as("y"))
    assert(df.count() == 100)
    assert(calls.value == 0, "count() should prune the deterministic UDF")
    assert(Measure.force(df) == 100)
    assert(calls.value == 100)
    calls.reset()
    assert(Measure.force(df, "y") == 100)
    assert(calls.value == 100)
  }

  test("rep loop: one warm-up, then exactly `reps` timed passes") {
    var passes = 0
    val r = Measure.reps(3) { passes += 1; passes.toLong }
    assert(passes == 4)
    assert(r.seconds.size == 3)
    assert(r.rows == 4L, "rows come from the last timed pass")
  }

  // Runs last: a new session stops the suite's own.
  test("session: a fresh one has AQE on, UTC and the requested shuffle width") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/Lima")
    def check(s: SparkSession, cores: Int, width: Int): Unit =
      try {
        assert(s.sparkContext.master == s"local[$cores]")
        assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
        assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
        assert(s.conf.get("spark.sql.shuffle.partitions") == width.toString)
      } finally s.stop()
    check(Measure.session(2, 3), 2, 3)
    assert(spark.sparkContext.isStopped, "the earlier session was not stopped")
    check(Measure.session(3), 3, 6)
  }
}
