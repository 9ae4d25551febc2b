package ocrspark.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import ocrspark.SparkSuite

class StreamSpec extends AnyFunSuite with SparkSuite {

  test("streaming extraction processes a pages backlog exactly once and resumes") {
    import spark.implicits._
    val dir = Files.createTempDirectory(root, "stream_pages").toString
    val ckpt = Files.createTempDirectory(root, "stream_ckpt").toString
    val pages = ocrspark.job.Synth.pagesDF(spark, sfDir).cache()
    // first micro-deposit: 60% of pages
    pages.filter(xxhash64($"url") % 10 < 6).write.mode("append").parquet(dir)

    // file sink (memory sink cannot recover from a checkpoint)
    val sink = Files.createTempDirectory(root, "stream_sink").toString
    def runAvailable(): Unit = {
      val q = StreamExtract.extractStream(spark, dir).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runAvailable()
    val n1 = spark.read.parquet(sink).count()
    assert(n1 > 0 && n1 < 500)

    // second deposit: the remaining pages arrive; SAME checkpoint →
    // only the new files are processed (no reprocessing)
    pages.filter(xxhash64($"url") % 10 >= 6).write.mode("append").parquet(dir)
    runAvailable()
    val n2 = spark.read.parquet(sink).count()
    assert(n2 == 500L, s"expected 500 total, got $n2 (first batch $n1)")

    // streamed output matches the batch extraction byte-for-byte
    val streamed = spark.read.parquet(sink).select($"url", $"text")
    val batch = ocrspark.job.ExtractJob.run(pages).select($"url", $"text".as("t2"))
    val mismatches = streamed.join(batch, Seq("url"), "full_outer")
      .filter(!($"text" <=> $"t2")).count()
    assert(mismatches == 0L)
  }

  test("watermarked windowed aggregation over the events stream") {
    // batch DataFrame through the same aggregation definition first
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val batchAgg = StreamExtract.eventCounts(events)
    assert(batchAgg.count() > 0)

    // then as a genuine stream from a file source
    import spark.implicits._
    val dir = Files.createTempDirectory(root, "stream_events").toString
    events.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(events.schema).parquet(dir)
    val q = StreamExtract.eventCounts(stream).writeStream
      .outputMode("append").format("memory").queryName("evagg")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode only emits windows sealed by the watermark; totals per
    // emitted (window, type) must match the batch result
    val streamed = spark.table("evagg")
    val joined = streamed.join(batchAgg
        .withColumnRenamed("n", "n_b").withColumnRenamed("gated_avg", "g_b"),
      Seq("win_start", "event_type"))
    assert(joined.filter($"n" =!= $"n_b" || !($"gated_avg" <=> $"g_b")).count() == 0L)
  }

  test("stateful host sessionization with inactivity gap (batch harness)") {
    import spark.implicits._
    // deterministic page events: two hosts, gap-separated bursts
    val base = 1700000000000L
    val events = Seq(
      StreamExtract.PageEvent("a.com", new java.sql.Timestamp(base)),
      StreamExtract.PageEvent("a.com", new java.sql.Timestamp(base + 1000)),
      StreamExtract.PageEvent("a.com", new java.sql.Timestamp(base + 100000)), // new session
      StreamExtract.PageEvent("b.org", new java.sql.Timestamp(base + 500)))
    // state function exercised directly (deterministic, no clock):
    val out = StreamExtract.sessionize(60000L)(
      "a.com", events.filter(_.host == "a.com").iterator,
      new TestGroupState[StreamExtract.SessionState])
      .toVector
    assert(out.size == 1) // first burst closed by the 100s gap
    assert(out.head.n_pages == 2)
    assert(out.head.start_ts.getTime == base)
    assert(out.head.end_ts.getTime == base + 1000)
  }

  test("streaming exact dedup emits each distinct text once across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory(root, "dedup_docs").toString
    val ckpt = Files.createTempDirectory(root, "dedup_ckpt").toString
    val sink = Files.createTempDirectory(root, "dedup_sink").toString

    def deposit(docs: Seq[StreamExtract.DocEvent]): Unit =
      docs.toDS().write.mode("append").parquet(dir)
    def runAvailable(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEvent]].schema)
        .parquet(dir).as[StreamExtract.DocEvent]
      val q = StreamExtract.dedupStream(stream).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // batch 1: texts A (ids 5, 3 — keeper must be 3), B (id 10)
    deposit(Seq(StreamExtract.DocEvent(5, "texto A"),
      StreamExtract.DocEvent(3, "texto A"),
      StreamExtract.DocEvent(10, "texto B")))
    runAvailable()
    val out1 = spark.read.parquet(sink).as[StreamExtract.DocEvent]
      .collect().sortBy(_.doc_id)
    assert(out1.map(_.doc_id).toSeq == Seq(3L, 10L))

    // batch 2: A again (id 1 — already-seen content must NOT re-emit,
    // even with a smaller id: first-batch-wins), plus new text C
    deposit(Seq(StreamExtract.DocEvent(1, "texto A"),
      StreamExtract.DocEvent(7, "texto C")))
    runAvailable()
    val out2 = spark.read.parquet(sink).as[StreamExtract.DocEvent]
      .collect().sortBy(_.doc_id)
    assert(out2.map(_.doc_id).toSeq == Seq(3L, 7L, 10L),
      s"got ${out2.toSeq}")
  }

  test("streaming near-dup catches a mutated copy arriving batches later") {
    import spark.implicits._
    val dir = Files.createTempDirectory(root, "ndup_docs").toString
    val ckpt = Files.createTempDirectory(root, "ndup_ckpt").toString
    val sink = Files.createTempDirectory(root, "ndup_sink").toString

    def deposit(docs: Seq[StreamExtract.DocEvent]): Unit =
      docs.toDS().write.mode("append").parquet(dir)
    def runAvailable(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEvent]].schema)
        .parquet(dir).as[StreamExtract.DocEvent]
      val q = StreamExtract.nearDupStream(stream, 0.7).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    val base = ("los documentos administrativos del expediente se archivan " +
      "por orden cronologico en la mesa de partes principal ") * 5
    val unrelated = ("el clima de la sierra peruana cambia rapidamente " +
      "durante la temporada de lluvias intensas de verano ") * 5
    // batch 1: the original + an unrelated doc → no pairs yet
    deposit(Seq(StreamExtract.DocEvent(10, base),
      StreamExtract.DocEvent(20, unrelated)))
    runAvailable()
    val out1 = spark.read.parquet(sink).as[StreamExtract.BandPair].collect()
    assert(out1.isEmpty, s"no near-dups expected in batch 1: ${out1.toSeq}")

    // batch 2: a lightly MUTATED copy of doc 10 (word substitution) —
    // the cross-batch band state must catch it
    val mutated = base.replace("cronologico", "alfabetico")
    deposit(Seq(StreamExtract.DocEvent(30, mutated)))
    runAvailable()
    val out2 = spark.read.parquet(sink).as[StreamExtract.BandPair].collect()
    val pairs = out2.map(p => (p.id_a, p.id_b)).toSet
    assert(pairs == Set((10L, 30L)), s"got ${out2.toSeq}")
    assert(out2.forall(_.est_jaccard >= 0.7))

    // batch 3: an EXACT copy of the mutated doc joins the cluster — it
    // must pair with the cluster (est 1.0 vs doc 30), never duplicate a
    // previously emitted (band, pair) row
    deposit(Seq(StreamExtract.DocEvent(40, mutated)))
    runAvailable()
    val out3 = spark.read.parquet(sink).as[StreamExtract.BandPair].collect()
    val newPairs = out3.map(p => (p.id_a, p.id_b)).toSet -- pairs
    assert(newPairs.contains((30L, 40L)), s"got ${out3.toSeq}")
    assert(out3.filter(p => (p.id_a, p.id_b) == ((30L, 40L)))
      .forall(_.est_jaccard == 1.0))
  }

  test("streaming dedup keeps null-text and empty-text as distinct groups (batch parity)") {
    import spark.implicits._
    val dir = Files.createTempDirectory(root, "dedupn_docs").toString
    val ckpt = Files.createTempDirectory(root, "dedupn_ckpt").toString
    val sink = Files.createTempDirectory(root, "dedupn_sink").toString
    Seq(StreamExtract.DocEvent(1, null),
      StreamExtract.DocEvent(2, ""),
      StreamExtract.DocEvent(3, null))
      .toDS().write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEvent]].schema)
      .parquet(dir).as[StreamExtract.DocEvent]
    val q = StreamExtract.dedupStream(stream).writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.read.parquet(sink).as[StreamExtract.DocEvent]
      .collect().sortBy(_.doc_id)
    // batch exactDedup groups all nulls together (null md5 key) and ""
    // separately (md5 of empty bytes): 2 survivors, keepers 1 and 2
    assert(out.map(_.doc_id).toSeq == Seq(1L, 2L), s"got ${out.toSeq}")
  }

  test("streaming near-dup state is capped; over-cap arrivals star to the keeper") {
    // direct state-fn unit test: 70 identical-sketch docs into ONE
    // band bucket (cap 64). State must hold at most 64 members; the 6
    // over-cap arrivals must each pair against the keeper (first-seen
    // member), never against each other pairwise.
    val mh = Seq.fill(64)(7L)
    val state = new TestGroupState[Seq[(Long, Seq[Long])]]
    val out1 = StreamExtract.nearDupBand(0.7, 64)(
      (0, 123), (0L until 64L).map(i => (i, mh)).iterator, state).toVector
    assert(state.get.size == 64)
    // 64 in-cap arrivals: each pairs against all earlier members
    assert(out1.size == 64 * 63 / 2)
    val out2 = StreamExtract.nearDupBand(0.7, 64)(
      (0, 123), (100L until 106L).map(i => (i, mh)).iterator, state).toVector
    assert(state.get.size == 64, "state must stay capped")
    assert(out2.size == 6, s"each over-cap arrival pairs once: $out2")
    assert(out2.forall(p => p.id_a == 0L && p.est_jaccard == 1.0),
      s"over-cap arrivals must star to the keeper: $out2")
  }

  test("streaming dedup TTL evicts idle state; a later duplicate is re-admitted") {
    import spark.implicits._
    val dir = Files.createTempDirectory(root, "dedupttl_docs").toString
    val ckpt = Files.createTempDirectory(root, "dedupttl_ckpt").toString
    val sink = Files.createTempDirectory(root, "dedupttl_sink").toString
    val ttl = 1500L

    def deposit(docs: Seq[StreamExtract.DocEvent]): Unit =
      docs.toDS().write.mode("append").parquet(dir)
    // ONE live query. NOTE: with ProcessingTimeTimeout the stateful
    // operator reports shouldRunAnotherBatch=true on every trigger (to
    // check timers), so the engine never sets noNewData — BOTH
    // Trigger.AvailableNow (never terminates) and processAllAvailable
    // (never unblocks) are unusable. Sink-polling with a deadline is
    // the only correct wait.
    deposit(Seq(StreamExtract.DocEvent(3, "ttl texto A")))
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEvent]].schema)
      .parquet(dir).as[StreamExtract.DocEvent]
    val q = StreamExtract.dedupStream(stream, ttlMs = Some(ttl)).writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("200 milliseconds")).start()
    def sinkIds(): Seq[Long] =
      scala.util.Try(spark.read.parquet(sink).as[StreamExtract.DocEvent]
        .collect().map(_.doc_id).sorted.toSeq).getOrElse(Seq.empty)
    def awaitSink(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 120000
      while (sinkIds().size < n && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
    }
    try {
      awaitSink(1) // batch 1: A admitted, timer armed

      // idle past the TTL: the engine's timeout batch evicts A's group
      Thread.sleep(ttl + 2000)
      deposit(Seq(StreamExtract.DocEvent(10, "ttl texto B")))
      awaitSink(2)

      // duplicate of A arrives AFTER eviction → re-admitted (windowed
      // dedup semantics: bounded state trades exactly-once for
      // at-most-once-per-TTL-window)
      deposit(Seq(StreamExtract.DocEvent(8, "ttl texto A")))
      awaitSink(3)

      val out = sinkIds()
      assert(out == Seq(3L, 8L, 10L), s"got $out")
      // eviction observed in the state-operator metrics: at least one
      // batch removed a state row, and live state never exceeded the
      // 2 concurrently-warm groups
      val ops = q.recentProgress.flatMap(_.stateOperators)
      assert(ops.exists(_.numRowsRemoved >= 1L),
        s"no eviction recorded: ${ops.map(o => (o.numRowsTotal, o.numRowsRemoved)).toSeq}")
      assert(ops.forall(_.numRowsTotal <= 2L),
        s"state not bounded: ${ops.map(_.numRowsTotal).toSeq}")
    } finally q.stop()
  }

  test("event-time TTL dedup: eviction is replay-deterministic (two runs, identical outputs)") {
    import spark.implicits._
    val t0 = 1700000000000L
    val ttl = 5000L
    // the SAME deposit/batch sequence, replayed through two independent
    // checkpoints: batch 3's watermark (t0+20s, from batch 2's max event
    // time) passes A's and B's timers (t0+5s) → evicted; the batch-4
    // duplicate of A re-admits. Event-time timers make both runs evict
    // at identical points — the processing-time variant's eviction
    // depends on wall-clock pacing instead.
    val batches = Seq(
      Seq(StreamExtract.DocEventTs(3, "et texto A", new java.sql.Timestamp(t0)),
        StreamExtract.DocEventTs(10, "et texto B", new java.sql.Timestamp(t0))),
      Seq(StreamExtract.DocEventTs(20, "et texto W", new java.sql.Timestamp(t0 + 20000))),
      Seq(StreamExtract.DocEventTs(30, "et texto X", new java.sql.Timestamp(t0 + 40000))),
      Seq(StreamExtract.DocEventTs(8, "et texto A", new java.sql.Timestamp(t0 + 41000))))

    def replay(): Seq[(Long, Long)] = {
      val dir = Files.createTempDirectory(root, "dedupet_docs").toString
      val ckpt = Files.createTempDirectory(root, "dedupet_ckpt").toString
      val sink = Files.createTempDirectory(root, "dedupet_sink").toString
      batches.foreach { docs =>
        docs.toDS().write.mode("append").parquet(dir)
        val stream = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEventTs]].schema)
          .parquet(dir).as[StreamExtract.DocEventTs]
        val q = StreamExtract.dedupStreamEventTime(stream, ttlMs = ttl)
          .writeStream
          .outputMode("append").format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      spark.read.parquet(sink).as[StreamExtract.DocEventTs]
        .collect().map(d => (d.doc_id, d.ts.getTime)).sortBy(_._1).toSeq
    }

    val run1 = replay()
    // every first-seen doc emitted; the re-arrival of "et texto A" (id 8)
    // lands AFTER its group's event-time eviction → re-admitted
    assert(run1.map(_._1) == Seq(3L, 8L, 10L, 20L, 30L), s"got $run1")
    val run2 = replay()
    assert(run1 == run2, s"replay diverged: $run1 vs $run2")
  }

  test("event-time near-dup: planted pair emitted, evicted bucket not re-paired, replay-deterministic") {
    import spark.implicits._
    val t0 = 1700000000000L
    val ttl = 5000L
    val base = ("los documentos administrativos del expediente se archivan " +
      "por orden cronologico en la mesa de partes principal ") * 5
    val mutated = base.replace("cronologico", "alfabetico")
    def doc(id: Long, text: String, dt: Long) =
      StreamExtract.DocEventTs(id, text, new java.sql.Timestamp(t0 + dt))
    // batch 1 plants the pair (10, 11); batch 2 moves the watermark to
    // t0+20s, so batch 3 evicts their buckets (timers at t0+5s); doc 40,
    // a copy of doc 10 arriving after that, must start fresh buckets
    val batches = Seq(
      Seq(doc(10, base, 0), doc(11, mutated, 0),
        doc(12, "el clima de la sierra cambia durante la temporada de lluvias", 0)),
      Seq(doc(20, "et texto W sin relacion con los demas documentos", 20000)),
      Seq(doc(30, "et texto X tampoco se parece a ningun otro", 40000)),
      Seq(doc(40, base, 41000)))

    def replay(): Seq[StreamExtract.BandPair] = {
      val dir = Files.createTempDirectory(root, "ndupet_docs").toString
      val ckpt = Files.createTempDirectory(root, "ndupet_ckpt").toString
      val sink = Files.createTempDirectory(root, "ndupet_sink").toString
      batches.foreach { docs =>
        docs.toDS().write.mode("append").parquet(dir)
        val stream = spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEventTs]].schema)
          .parquet(dir).as[StreamExtract.DocEventTs]
        val q = StreamExtract.nearDupStreamEventTime(stream, 0.7, ttlMs = ttl)
          .writeStream
          .outputMode("append").format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      spark.read.parquet(sink).as[StreamExtract.BandPair].collect().toSeq
        .sortBy(p => (p.id_a, p.id_b, p.band))
    }

    val run1 = replay()
    assert(run1.nonEmpty && run1.map(p => (p.id_a, p.id_b)).toSet == Set((10L, 11L)),
      s"only the planted pair may be emitted: $run1")
    assert(run1.forall(_.est_jaccard >= 0.7))
    val run2 = replay()
    assert(run1 == run2, s"replay diverged: $run1 vs $run2")
  }

  test("streaming near-dup groups by the batch band keys; bucketSizes counts every band row") {
    import spark.implicits._
    import ocrspark.ops.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val dir = Files.createTempDirectory(root, "bands_docs").toString + "/docs"
    docs.write.parquet(dir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamExtract.DocEvent]].schema)
      .parquet(dir)
    val q = StreamExtract.bandRows(stream).select($"id", $"band", $"sig")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_band_rows")
      .option("checkpointLocation", Files.createTempDirectory(root, "bands_ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("stream_band_rows").as[(Long, Int, Int)].collect()
    val batch = Dedup.minhashBands(Dedup.minhashSketches(docs, "doc_id", "text"))
      .as[(Long, Int, Int)].collect()
    val nDocs = docs.count()
    assert(batch.length == Dedup.NumBands * nDocs)
    assert(streamed.sorted.toSeq == batch.sorted.toSeq,
      "streaming band keys differ from Dedup.minhashBands")

    val sizes = Dedup.bucketSizes(docs, "doc_id", "text")
      .agg(sum($"bn"), count(lit(1))).as[(Long, Long)].head()
    assert(sizes._1 == Dedup.NumBands * nDocs,
      s"bucket sizes sum to ${sizes._1}, expected ${Dedup.NumBands} × $nDocs")
    assert(sizes._2 == batch.map(r => (r._2, r._3)).distinct.length)
  }

  test("event-time TTL state fn: timer anchored to last event time, not the clock") {
    val state = new TestGroupState[Long]
    val ts = new java.sql.Timestamp(1700000000000L)
    val out = StreamExtract.dedupFirstSeenEventTime(5000L)(
      "k", Iterator(StreamExtract.DocEventTs(4, "x", ts),
        StreamExtract.DocEventTs(2, "x", ts)), state).toVector
    assert(out.map(_.doc_id) == Vector(2L)) // smallest id wins in-batch
    assert(state.timeoutTs == ts.getTime + 5000L,
      s"timer must be event-time anchored: ${state.timeoutTs}")
    // duplicate in a later batch re-arms the timer but emits nothing
    val ts2 = new java.sql.Timestamp(ts.getTime + 3000L)
    val out2 = StreamExtract.dedupFirstSeenEventTime(5000L)(
      "k", Iterator(StreamExtract.DocEventTs(9, "x", ts2)), state).toVector
    assert(out2.isEmpty && state.timeoutTs == ts2.getTime + 5000L)
    // timeout invocation evicts
    state.timedOut = true
    val out3 = StreamExtract.dedupFirstSeenEventTime(5000L)(
      "k", Iterator.empty, state).toVector
    assert(out3.isEmpty && state.getOption.isEmpty)
  }

  test("near-dup band bucket is evicted wholesale on TTL timeout") {
    val mh = Seq.fill(64)(7L)
    val state = new TestGroupState[Seq[(Long, Seq[Long])]]
    StreamExtract.nearDupBand(0.7, 64, Some(1000L))(
      (0, 123), Iterator((1L, mh), (2L, mh)), state)
      .toVector // force the iterator so state is updated
    assert(state.get.size == 2)
    // simulate the timeout invocation (no rows, hasTimedOut = true)
    state.timedOut = true
    val out = StreamExtract.nearDupBand(0.7, 64, Some(1000L))(
      (0, 123), Iterator.empty, state).toVector
    assert(out.isEmpty && state.getOption.isEmpty, "bucket must be removed")
    // a fresh near-dup after eviction starts a NEW bucket (no pairing
    // with evicted members — documented windowed semantics)
    state.timedOut = false
    val out2 = StreamExtract.nearDupBand(0.7, 64, Some(1000L))(
      (0, 123), Iterator((9L, mh)), state).toVector
    assert(out2.isEmpty && state.get.map(_._1) == Seq(9L))
  }

  /** Minimal GroupState stub for direct unit-testing of the state fn. */
  class TestGroupState[S] extends org.apache.spark.sql.streaming.GroupState[S] {
    private var v: Option[S] = None
    var timedOut: Boolean = false
    var timeoutTs: Long = -1L
    override def exists: Boolean = v.isDefined
    override def get: S = v.get
    override def getOption: Option[S] = v
    override def update(s: S): Unit = v = Some(s)
    override def remove(): Unit = v = None
    override def hasTimedOut: Boolean = timedOut
    override def setTimeoutDuration(d: Long): Unit = ()
    override def setTimeoutDuration(d: String): Unit = ()
    override def setTimeoutTimestamp(t: Long): Unit = timeoutTs = t
    override def setTimeoutTimestamp(t: Long, add: String): Unit = ()
    override def setTimeoutTimestamp(t: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(t: java.sql.Date, add: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = 0L
    override def getCurrentProcessingTimeMs(): Long = 0L
  }
}
