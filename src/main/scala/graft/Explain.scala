package graft

/** Plan inspector: `runMain graft.Explain <query> [<query> ...]` prints
  * the formatted physical plan of each named SparkEntry query over
  * SPARK_GRAFT_SF_DIR (default sf0.001) — the explain-first workflow
  * PlanSpec pins the critical shapes of. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = ocrspark.bench.Measure.session(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(s"\n===== $n =====")
          val df = q(spark, sfDir)
          if (sys.env.contains("GRAFT_EXPLAIN_EXEC")) {
            // execute first, then print the FINAL adaptive plan — shows
            // runtime decisions (exchange reuse, AQE join/skew changes)
            // that the static formatted plan can't. Must drive THIS
            // df's own QueryExecution (collect does; a count() would
            // build and execute a separate aggregate QE and leave this
            // one unexecuted/non-final).
            df.collect()
            println(df.queryExecution.executedPlan.toString)
          } else df.explain("formatted")
        case None => System.err.println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
