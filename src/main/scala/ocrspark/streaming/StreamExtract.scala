package ocrspark.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import ocrspark.ops.Dedup

/** Structured Streaming surface (SURVEY.md §2.8).
  *
  * The production resume story is batch-incremental (manifest snapshots
  * + committed-bucket filter, `IncrementalExtract`) because the north rule wants
  * partition-level lineage; this module provides the streaming
  * ALTERNATIVE for continuously arriving pages plus the standard
  * streaming analytics the engine exposes:
  *
  *  - [[extractStream]]: file-source stream over a pages directory →
  *    the same map-side extraction projection → any sink, with
  *    checkpointed exactly-once progress; `Trigger.AvailableNow` turns
  *    it into a catch-up batch that dies when caught up.
  *  - [[eventCountsStream]]: watermarked sliding-window aggregation
  *    (late data dropped after the watermark), the A1-shaped gated
  *    average per window.
  *  - [[hostSessions]]: `flatMapGroupsWithState` custom state — crawl
  *    "sessions" per host with an inactivity gap, the canonical
  *    KeyValueGroupedDataset stateful pattern.
  */
object StreamExtract {

  /** Streaming extraction over a pages parquet directory: columns of
    * the batch job's map-side projection (`ExtractJob.run`) — one
    * definition, two execution modes. */
  def extractStream(spark: SparkSession, pagesDir: String): DataFrame = {
    val schema = Encoders.product[ocrspark.model.PageRow].schema
    ocrspark.job.ExtractJob.run(spark.readStream.schema(schema).parquet(pagesDir))
      .select(col("url"), col("warc_ts"), col("lang"), col("bucket"),
        col("text"), col("fields"), col("method"), col("confidence"),
        col("error"))
  }

  /** Watermarked sliding-window event aggregation with the reference's
    * gated-average shape (A1) per window. */
  def eventCounts(events: DataFrame, watermark: String = "10 minutes",
                  window_ : String = "5 minutes",
                  slide: String = "5 minutes"): DataFrame =
    events
      // parquet writes TIMESTAMP_NTZ; event-time watermarks need
      // TIMESTAMP (session TZ is pinned UTC so the cast is lossless)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(when(col("value") > 60.0, col("value")).otherwise(lit(0.0))) /
          greatest(lit(1L), count(when(col("value") > 60.0, lit(1)))), 4)
          .as("gated_avg"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("gated_avg"))

  // ---- stateful sessionization -------------------------------------

  case class PageEvent(host: String, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, count: Long)
  case class HostSession(host: String, start_ts: java.sql.Timestamp,
                         end_ts: java.sql.Timestamp, n_pages: Long)

  /** Close a host's crawl session after `gapMs` of inactivity —
    * `flatMapGroupsWithState` with processing-time timeout. Emits a
    * session row when the gap elapses (or the state times out). */
  def sessionize(gapMs: Long)(
      host: String, rows: Iterator[PageEvent],
      state: GroupState[SessionState]): Iterator[HostSession] = {
    val sorted = rows.toSeq.sortBy(_.ts.getTime)
    var out = Vector.empty[HostSession]
    var cur = state.getOption
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= gapMs =>
          cur = Some(s.copy(last = t, count = s.count + 1))
        case Some(s) =>
          out :+= HostSession(host, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.last), s.count)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    if (state.hasTimedOut) {
      cur.foreach { s =>
        out :+= HostSession(host, new java.sql.Timestamp(s.start),
          new java.sql.Timestamp(s.last), s.count)
      }
      state.remove()
    } else {
      cur.foreach(state.update)
      state.setTimeoutDuration(gapMs)
    }
    out.iterator
  }

  /** Wire sessionization over a stream of (host, ts). */
  def hostSessions(pages: Dataset[PageEvent], gapMs: Long): Dataset[HostSession] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout())(sessionize(gapMs))
  }

  // ---- streaming exact dedup ----------------------------------------

  case class DocEvent(doc_id: Long, text: String)

  /** Streaming exact dedup: emit each distinct text ONCE across the
    * whole stream (state survives micro-batches via the checkpoint),
    * keyed by a 128-bit content hash so the state store never holds
    * text — the streaming analog of [[ocrspark.ops.Dedup.exactDedup]].
    * State per key is just the keeper id; a duplicate arriving any
    * number of batches later emits nothing. flatMapGroupsWithState is
    * used (not dropDuplicates) so the keeper choice — smallest id within
    * the batch, first-batch-wins across batches — is explicit and
    * testable.
    *
    * `ttlMs`: optional idle-state TTL. Without it the number of distinct
    * content hashes — and so the state store — grows without bound over
    * an unbounded stream. With it, a hash idle for `ttlMs` of processing
    * time is evicted, and a duplicate arriving AFTER eviction is
    * re-admitted (re-emitted) — the documented trade: bounded state for
    * at-most-once-per-TTL-window dedup, the standard windowed-dedup
    * semantics at web scale. Every arrival re-arms its group's timer. */
  def dedupFirstSeen(ttlMs: Option[Long] = None)(
      key: String, rows: Iterator[DocEvent],
      state: GroupState[Long]): Iterator[DocEvent] = {
    if (state.hasTimedOut) { // idle TTL elapsed: evict
      state.remove()
      Iterator.empty
    } else {
      val out =
        if (state.exists || !rows.hasNext) Iterator.empty[DocEvent]
        else {
          val keeper = rows.minBy(_.doc_id)
          state.update(keeper.doc_id)
          Iterator.single(keeper)
        }
      if (state.exists) ttlMs.foreach(state.setTimeoutDuration)
      out
    }
  }

  // ---- event-time (watermark) TTL variants ---------------------------

  /** A document event carrying its EVENT time — the event-time TTL
    * variants key eviction to this, not the wall clock. */
  case class DocEventTs(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Event-time variant of [[dedupFirstSeen]]: the idle TTL is anchored
    * to the data's own timestamps — a key is evicted when the WATERMARK
    * passes (last event time seen for the key + ttlMs). Replaying the
    * same event-time-stamped data through the same batch boundaries
    * evicts at identical points on every run, unlike the
    * processing-time variant whose eviction depends on how fast the
    * replay happens to execute. */
  def dedupFirstSeenEventTime(ttlMs: Long)(
      key: String, rows: Iterator[DocEventTs],
      state: GroupState[Long]): Iterator[DocEventTs] =
    withEventTimeTtl(ttlMs, rows, state)(_.ts.getTime) { batch =>
      if (state.exists || batch.isEmpty) Iterator.empty
      else {
        val keeper = batch.minBy(_.doc_id)
        state.update(keeper.doc_id)
        Iterator.single(keeper)
      }
    }

  /** Event-time TTL around a state step: on timeout (the watermark
    * passed the key's last event time + ttlMs) the state is evicted;
    * otherwise `step` runs on the batch and, if state is held, the
    * timer is re-armed at the batch's last event time + ttlMs. (The
    * max() guard keeps Spark's timeout-must-exceed-watermark contract
    * when a key's last-seen event time lags far behind the stream.) */
  private def withEventTimeTtl[R, S, O](ttlMs: Long, rows: Iterator[R],
                                        state: GroupState[S])(
      eventMs: R => Long)(step: Seq[R] => Iterator[O]): Iterator[O] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val batch = rows.toSeq
      val out = step(batch)
      if (state.exists && batch.nonEmpty)
        state.setTimeoutTimestamp(math.max(
          batch.iterator.map(eventMs).max + ttlMs,
          state.getCurrentWatermarkMs() + 1))
      out
    }

  /** Wire the event-time-TTL dedup: same md5-content grouping as
    * [[dedupStream]], but `EventTimeTimeout` + a watermark on `ts`
    * drive eviction — replay-deterministic windowed dedup. */
  def dedupStreamEventTime(docs: Dataset[DocEventTs], ttlMs: Long,
                           watermarkDelay: String = "0 seconds"): Dataset[DocEventTs] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.withWatermark("ts", watermarkDelay)
      .groupByKey(d => contentKey(d.text))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout())(dedupFirstSeenEventTime(ttlMs))
  }

  /** Event-time variant of [[nearDupStream]]: identical banding + capped
    * per-bucket state, with idle-bucket eviction keyed to the WATERMARK
    * passing (bucket's last event time + ttlMs) instead of wall-clock
    * processing time — the same replayed data evicts identically. */
  def nearDupStreamEventTime(docs: Dataset[DocEventTs],
                             threshold: Double = 0.7,
                             ttlMs: Long,
                             watermarkDelay: String = "0 seconds"): Dataset[BandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandRows(docs.withWatermark("ts", watermarkDelay).toDF(), "ts")
      .as[(Long, Seq[Long], java.sql.Timestamp, Int, Int)]
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout()) {
        (key: (Int, Int),
         rows: Iterator[(Long, Seq[Long], java.sql.Timestamp, Int, Int)],
         state: GroupState[Seq[(Long, Seq[Long])]]) =>
          withEventTimeTtl(ttlMs, rows, state)(_._3.getTime) { batch =>
            nearDupBand(threshold, Dedup.MaxBucketSize, None)(
              key, batch.iterator.map(r => (r._1, r._2)), state)
          }
      }
  }

  // ---- streaming minhash near-dup -----------------------------------

  case class BandPair(id_a: Long, id_b: Long, band: Int, est_jaccard: Double)

  /** Per-bucket state transition for [[nearDupStream]]: the bucket's
    * state holds up to `cap` first-seen (id, sketch) members — never
    * text. An arriving doc is scored (est jaccard) against the held
    * members and appended while under cap; once the bucket is over cap,
    * arrivals score against the bucket KEEPER only (first-seen member)
    * — the streaming analog of the batch over-cap member→keeper star,
    * so giant duplicate clusters keep linking instead of blowing up
    * state. Same-batch arrivals pair with each other because earlier
    * arrivals are appended before later ones are scored.
    *
    * `ttlMs`: optional idle TTL. Per-bucket state is capped at `cap`
    * sketches, but the NUMBER of (band, sig) buckets grows with the
    * number of distinct documents seen — unbounded over an unbounded
    * stream. A bucket idle for `ttlMs` of processing time is evicted
    * wholesale; a near-dup of an evicted bucket's members arriving later
    * starts a fresh bucket and is NOT paired with them (windowed-dedup
    * semantics). Every arrival re-arms its bucket's timer. */
  def nearDupBand(threshold: Double, cap: Int, ttlMs: Option[Long] = None)(
      key: (Int, Int), rows: Iterator[(Long, Seq[Long])],
      state: GroupState[Seq[(Long, Seq[Long])]]): Iterator[BandPair] = {
    if (state.hasTimedOut) { // idle TTL elapsed: evict the whole bucket
      state.remove()
      Iterator.empty
    } else {
      var members = state.getOption.getOrElse(Seq.empty)
      val out = Vector.newBuilder[BandPair]
      rows.toSeq.sortBy(_._1).foreach { case (id, mh) =>
        val against = if (members.size >= cap) members.take(1) else members
        against.foreach { case (mid, mmh) =>
          if (mid != id) {
            val est = ocrspark.ops.Dedup.estJaccardImpl(mmh, mh)
            if (est >= threshold)
              out += BandPair(math.min(mid, id), math.max(mid, id), key._1, est)
          }
        }
        if (members.size < cap) members = members :+ ((id, mh))
      }
      state.update(members)
      ttlMs.foreach(state.setTimeoutDuration)
      out.result().iterator
    }
  }

  /** The rows the near-dup operators group by: (id, mh, [carry,] band,
    * sig) from the batch sketch projection and band derivation
    * ([[Dedup.minhashSketches]], [[Dedup.minhashBands]]), carrying the
    * sketch for in-bucket scoring. */
  private[streaming] def bandRows(docs: DataFrame, carry: String*): DataFrame =
    Dedup.minhashBands(Dedup.minhashSketches(docs, "doc_id", "text", carry: _*),
      "mh" +: carry: _*)

  /** Processing-time timeouts only when an idle TTL is set. */
  private def processingTimeout(ttlMs: Option[Long]): GroupStateTimeout =
    if (ttlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
    else GroupStateTimeout.NoTimeout()

  /** Streaming MinHash near-dup: the batch banding pipeline
    * ([[ocrspark.ops.Dedup.minhashPairs]]) re-expressed as per-bucket
    * `flatMapGroupsWithState`. Sketching and band-signature derivation
    * are the batch functions themselves ([[bandRows]]: one row-local
    * sketch UDF, then 16 (band, sig) keys per doc); the shuffle carries
    * (band_sig, id, sketch) and the state store holds ≤ MaxBucketSize
    * sketches per bucket. A pair colliding in k bands is emitted once
    * per band (the `band` column disambiguates); consumers aggregate by
    * (id_a, id_b) exactly as the batch path's distinct() does.
    *
    * `ttlMs`: idle-bucket eviction TTL (see [[nearDupBand]]) — without
    * it, total state-store size grows with distinct docs forever. */
  def nearDupStream(docs: Dataset[DocEvent],
                    threshold: Double = 0.7,
                    ttlMs: Option[Long] = None): Dataset[BandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandRows(docs.toDF()).as[(Long, Seq[Long], Int, Int)]
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, processingTimeout(ttlMs)) {
        (key: (Int, Int), rows: Iterator[(Long, Seq[Long], Int, Int)],
         state: GroupState[Seq[(Long, Seq[Long])]]) =>
          nearDupBand(threshold, Dedup.MaxBucketSize, ttlMs)(
            key, rows.map(r => (r._1, r._2)), state)
      }
  }

  /** Content key of a document: md5 hex of a null-marker byte + the
    * UTF-8 text, so a null-text doc never collides with an empty-string
    * doc (batch md5(cast binary) keeps null and "" as distinct groups;
    * streaming matches that). */
  private def contentKey(text: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(if (text == null) 0.toByte else 1.toByte)
    md.digest(if (text == null) Array.emptyByteArray else text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Wire the stateful dedup over a stream of documents. The group key
    * is md5(text) (content-derived, shuffle carries hash+id+text of the
    * batch only; the STATE holds just hash → keeper id). `ttlMs` bounds
    * state on an unbounded stream (see [[dedupFirstSeen]]). */
  def dedupStream(docs: Dataset[DocEvent],
                  ttlMs: Option[Long] = None): Dataset[DocEvent] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.groupByKey(d => contentKey(d.text))
      .flatMapGroupsWithState(OutputMode.Append,
        processingTimeout(ttlMs))(dedupFirstSeen(ttlMs))
  }
}
