package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event for stateful processing (timestamps as epoch micros —
  * identical to unix_micros(ts), so batch q21 and this path agree).
  */
final case class GraftEvent(user_id: Long, event_id: Long, ts_us: Long)

/** One closed session emitted by the stateful sessionizer. */
final case class GraftSession(user_id: Long, session_seq: Long, n_events: Long,
    start_us: Long, end_us: Long, duration_us: Long)

/** Open-session accumulator carried in GroupState between triggers. */
final case class SessState(seq: Long, n: Long, start_us: Long, last_us: Long)

/** Streaming event with both the raw timestamp (carries the watermark)
  * and epoch micros (session arithmetic).
  */
final case class GraftEventW(user_id: Long, event_id: Long, ts_us: Long,
    ts: java.sql.Timestamp)

/** Structured Streaming surface (SURVEY.md §2 q70–q71, §4).
  *
  * `hourlyCounts` is the watermarked tumbling-window aggregate — in
  * streaming mode Spark keeps only windows newer than the watermark in
  * the state store, so state is bounded by (window span / watermark
  * delay) × |event_type|. The batch-equivalent form (q70) is the same
  * logical aggregate, which is how the DuckDB oracle checks it.
  *
  * `sessionize` is flatMapGroupsWithState gap sessionization. On a
  * stream it emits a session when the gap closes it (or on event-time
  * timeout); on a batch Dataset Spark runs the same function once per
  * key with empty state — q71 runs it in batch mode and StreamingSpec
  * asserts it agrees with the declarative window-based q21.
  * Per-key events are sorted inside the group; at scale this holds
  * while a single user's events fit an executor (same bound as any
  * keyed-state operator).
  */
object EventStreams {
  implicit val eventEnc: Encoder[GraftEvent] = Encoders.product[GraftEvent]
  implicit val sessionEnc: Encoder[GraftSession] = Encoders.product[GraftSession]
  implicit val stateEnc: Encoder[SessState] = Encoders.product[SessState]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Watermarked tumbling 1-hour window counts per event type. Works on
    * a streaming or batch DataFrame with (ts: timestamp, event_type,
    * value) — on batch, withWatermark is a no-op.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(graft.functions.det.D20_6)).cast("double").as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"), col("n"), col("total_value"))

  implicit val eventWEnc: Encoder[GraftEventW] = Encoders.product[GraftEventW]

  /** Stream-static enrichment: events joined to a broadcast customer
    * dim, rolled up to per-segment/event-type counts (SURVEY §2 q73).
    * On a stream this is Spark's stream-static join — the dim is
    * re-broadcast per microbatch, the stream side never shuffles for
    * the join, and the aggregate holds one row of state per
    * (segment, event_type); identical logical plan in batch, which is
    * how the oracle checks it.
    */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .join(graft.Dims.dimBroadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(graft.functions.det.D20_6)).cast("double").as("total_value"))
      .select(col("segment"), col("event_type"), col("n"), col("total_value"))

  /** Streaming exact dedup by content hash — the dedup tier meeting the
    * streaming tier (SURVEY §2 q72): first arrival per md5(text)
    * survives; `dropDuplicatesWithinWatermark` keeps per-hash state
    * only until the watermark passes it, so state is bounded by the
    * duplicate-arrival horizon instead of growing with the corpus —
    * the correct semantics for a training-data ingest stream where
    * duplicates cluster in time (crawl re-fetches, retries).
    *
    * Input needs (`textCol`, ts: timestamp). On a batch frame (where
    * Spark rejects dropDuplicatesWithinWatermark outright) the same
    * semantics are a plain dropDuplicates on the hash — that branch is
    * how the q72 oracle checks the survivor aggregate.
    */
  def dedupByContent(docs: DataFrame, textCol: String,
      watermarkDelay: String = "1 hour"): DataFrame = {
    val hashed = docs.withColumn("graft_content_hash", md5(col(textCol)))
    if (hashed.isStreaming)
      hashed.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("graft_content_hash")
    else hashed.dropDuplicates("graft_content_hash")
  }

  /** STREAMING near-dup ADMISSION flag (SURVEY §2 q114) — the
    * streaming twin of [[graft.operators.Dedup.incrementalReport]]:
    * each arriving doc is near-dup-checked against the STATIC base
    * corpus via a stream-static banded join, flagging duplicates as
    * they arrive instead of in a nightly batch.
    *
    * Mechanics: base signatures + band table are computed once from
    * the static side (in production they ARE the stored signature
    * table — ~520 B/doc); each stream doc folds its own signature
    * (projection), explodes to 16 band keys, and stream-static
    * inner-joins the base bands — per-row state NONE (the static side
    * is a build-side lookup; no-match docs never produce state or
    * output, the q91 zero-touch economics). Survivors pass the
    * signature-agreement prefilter, then the EXACT n-gram jaccard
    * verify — all projections. Band-collision repeats collapse via
    * `dropDuplicatesWithinWatermark` (state bounded by the duplicate-
    * arrival horizon), and the per-doc partner count is a watermarked
    * hourly-window aggregate — a chained stateful pipeline (dedup →
    * windowed agg) in append mode. Output: one row per FLAGGED doc
    * (win_start_us, doc_id, n_base_dups); clean docs flow through
    * unflagged (the admission gate is an anti-join downstream).
    *
    * On batch frames the same code is plain dropDuplicates + window
    * aggregate — the q114 oracle path.
    */
  def nearDupFlagged(docs: DataFrame, baseDocs: DataFrame,
      textCol: String = "text", n: Int = 5, minJaccard: Double = 0.8,
      watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.operators.{Dedup => D}
    val bandExpr =
      "transform(sequence(0, 15), b -> xxhash64(b, slice(minhash, b * 4 + 1, 4)))"
    val baseBands = D.withMinHashFromText(
        baseDocs.select(col("doc_id"), col(textCol)), textCol, n, numHashes = 64)
      .select(col("doc_id").as("graft_b"), col("minhash").as("graft_mh_b"),
        col(textCol).as("graft_text_b"),
        posexplode(expr(bandExpr)).as(Seq("band", "band_hash")))
    val streamBands = D.withMinHashFromText(docs, textCol, n, numHashes = 64)
      .select(col("doc_id"), col("ts"), col(textCol).as("graft_text_s"),
        col("minhash"), posexplode(expr(bandExpr)).as(Seq("band", "band_hash")))
    val matched = streamBands.join(baseBands, Seq("band", "band_hash"))
      .filter(graft.functions.sketch.sigAgreement(col("minhash"), col("graft_mh_b"))
        >= minJaccard - 0.2)
      .withColumn("jaccard", graft.functions.sketch.textJaccard(
        col("graft_text_s"), col("graft_text_b"), n))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id"), col("ts"), col("graft_b"))
    val pairs =
      if (matched.isStreaming)
        matched.withWatermark("ts", watermarkDelay)
          .dropDuplicatesWithinWatermark("doc_id", "graft_b")
      else matched.dropDuplicates("doc_id", "graft_b")
    pairs
      .groupBy(window(col("ts"), "1 hour").as("graft_win"), col("doc_id"))
      .agg(count(lit(1)).as("n_base_dups"))
      .select(unix_micros(col("graft_win.start")).as("win_start_us"),
        col("doc_id"), col("n_base_dups"))
  }

  /** Stream-stream interval-join attribution (SURVEY §2 q76; the
    * streaming twin of q69's impression→outcome machinery and the
    * reference's real-time personalization consumer —
    * /root/reference/SQL/Real-time Personalization Effectiveness.txt:3-60):
    * each outcome is attributed to every impression by the SAME user
    * that strictly precedes it within `maxDelaySeconds`.
    *
    * Both inputs need (user_id, event_id, ts). In streaming mode this
    * is Spark's watermarked stream-stream inner join: the time-range
    * condition (out_ts in (imp_ts, imp_ts + delay]) lets the state
    * store evict an impression once the outcome-side watermark passes
    * imp_ts + delay and an outcome once the impression-side watermark
    * passes out_ts — state per side is bounded by arrival-rate ×
    * (watermark delay + attribution window), never by stream length.
    * Inner-join matches emit eagerly on arrival (no watermark wait);
    * the watermark governs only eviction, so feeding in event-time
    * order loses nothing (StreamingDifferentialSpec sweeps random
    * batch splits against the batch answer). The join exchanges both
    * sides on user_id — the same single-shuffle shape as the batch
    * plan.
    *
    * On batch frames the watermark nodes are eliminated and this is a
    * plain user_id equi-join with the interval predicate — the q76
    * oracle path. Timestamps surface as epoch micros (BIGINT), the
    * repo's cross-engine-stable timestamp currency (≡ DuckDB
    * epoch_us; see Tables.events).
    */
  def attributeWithin(impressions: DataFrame, outcomes: DataFrame,
      maxDelaySeconds: Long,
      impWatermarkDelay: String = "1 hour",
      outWatermarkDelay: String = "1 hour"): DataFrame =
    attributionJoin(impressions, outcomes, maxDelaySeconds,
      impWatermarkDelay, outWatermarkDelay)
      .select(col("user_id"), col("imp_id"), col("out_id"),
        unix_micros(col("imp_ts")).as("imp_us"),
        unix_micros(col("out_ts")).as("out_us"),
        (unix_micros(col("out_ts")) - unix_micros(col("imp_ts"))).as("delay_us"))

  /** The watermarked interval join both attribution forms share; keeps
    * `out_ts` as a live event-time column so a downstream stateful
    * aggregate ([[lastTouchWithin]]) can ride the propagated watermark.
    */
  private def attributionJoin(impressions: DataFrame, outcomes: DataFrame,
      maxDelaySeconds: Long, impWatermarkDelay: String,
      outWatermarkDelay: String): DataFrame = {
    val imp = impressions
      .withWatermark("ts", impWatermarkDelay)
      .select(col("user_id"), col("event_id").as("imp_id"), col("ts").as("imp_ts"))
    val out = outcomes
      .withWatermark("ts", outWatermarkDelay)
      .select(col("user_id").as("graft_out_user"), col("event_id").as("out_id"),
        col("ts").as("out_ts"))
    imp.join(out,
      col("user_id") === col("graft_out_user") &&
        col("out_ts") > col("imp_ts") &&
        col("out_ts") <= col("imp_ts") + expr(s"INTERVAL $maxDelaySeconds SECOND"))
  }

  /** LAST-TOUCH attribution (SURVEY §2 q77): each outcome credited to
    * only its LATEST qualifying impression (ties on the microsecond
    * broken by highest imp_id — mirrored in the oracle's ORDER BY).
    *
    * This is both the production attribution semantic and the hot-key
    * output bound [[attributeWithin]] lacks: all-pairs attribution
    * emits views×purchases rows per user per window (a bot user doing
    * 10k of each per day is 10⁸ pairs/day from ONE key), while
    * last-touch emits exactly one row per outcome — output ∝ outcome
    * rate, whatever the impression rate (the q65 pairCap doctrine
    * applied to the streaming tier).
    *
    * In streaming mode this chains two stateful operators — the
    * interval join, then a max-aggregate grouped on (1h tumbling
    * window of out_ts, user, outcome) — which Spark supports when the
    * grouping carries the propagated event-time window: a result row
    * finalizes (appends) once the watermark clears its window, the
    * aggregate state is dropped with it, and because an outcome's
    * qualifying impressions all precede it by construction, every pair
    * has arrived before that watermark. Per-outcome ties collapse via
    * one max(struct) — no second exchange beyond the aggregate's own.
    * On batch frames the same plan is the join + a per-outcome
    * argmax; the q77 oracle checks it row-exactly.
    */
  def lastTouchWithin(impressions: DataFrame, outcomes: DataFrame,
      maxDelaySeconds: Long,
      impWatermarkDelay: String = "1 hour",
      outWatermarkDelay: String = "1 hour"): DataFrame =
    attributionJoin(impressions, outcomes, maxDelaySeconds,
      impWatermarkDelay, outWatermarkDelay)
      .groupBy(window(col("out_ts"), "1 hour"), col("user_id"), col("out_id"))
      .agg(
        max(struct(unix_micros(col("imp_ts")).as("imp_us"), col("imp_id"))).as("touch"),
        max(unix_micros(col("out_ts"))).as("out_us"))
      .select(col("user_id"), col("out_id"),
        col("touch.imp_id").as("imp_id"),
        col("touch.imp_us").as("imp_us"),
        col("out_us"),
        (col("out_us") - col("touch.imp_us")).as("delay_us"))

  /** UNATTRIBUTED-outcome report (SURVEY §2 q99): every outcome with
    * its count of qualifying impressions — INCLUDING ZERO. The
    * LEFT-OUTER stream-stream interval join is the only member of the
    * join matrix that can say "this conversion had NO touch" (the
    * inner forms q76/q77 silently drop exactly the rows a funnel-gap
    * monitor exists to find); its null-padded rows emit only once the
    * watermark proves no matching impression can still arrive — the
    * lateness bound is what makes "nothing matched" a statement
    * instead of a race.
    *
    * Streaming form chains the outer join into the same windowed
    * aggregate shape as [[lastTouchWithin]] (two stateful operators on
    * the propagated watermark; `count(imp_id)` skips the null-padded
    * row, so an untouched outcome reports 0). State per side is
    * arrival-rate × (watermark + window) exactly as q76; output is one
    * row per outcome (the q77 hot-key bound) whatever the impression
    * rate. On batch frames the watermarks are eliminated and the plan
    * is a plain left-outer interval join + per-outcome aggregate — the
    * q99 oracle path.
    */
  def unattributedWithin(impressions: DataFrame, outcomes: DataFrame,
      maxDelaySeconds: Long,
      impWatermarkDelay: String = "1 hour",
      outWatermarkDelay: String = "1 hour"): DataFrame = {
    val imp = impressions
      .withWatermark("ts", impWatermarkDelay)
      .select(col("user_id").as("graft_imp_user"),
        col("event_id").as("imp_id"), col("ts").as("imp_ts"))
    val out = outcomes
      .withWatermark("ts", outWatermarkDelay)
      .select(col("user_id"), col("event_id").as("out_id"),
        col("ts").as("out_ts"))
    out.join(imp,
        col("user_id") === col("graft_imp_user") &&
          col("out_ts") > col("imp_ts") &&
          col("out_ts") <= col("imp_ts") +
            expr(s"INTERVAL $maxDelaySeconds SECOND"),
        "left_outer")
      .groupBy(window(col("out_ts"), "1 hour"), col("user_id"), col("out_id"))
      .agg(
        max(unix_micros(col("out_ts"))).as("out_us"),
        count(col("imp_id")).as("n_touches"),
        max(unix_micros(col("imp_ts"))).as("last_touch_us"))
      .select(col("user_id"), col("out_id"), col("out_us"),
        col("n_touches"), col("last_touch_us"))
  }

  /** Streaming corpus curation (SURVEY §2 q90): the round-8 curation
    * tier applied to an INGEST STREAM — every arriving document is
    * PII-scrubbed ([[graft.queries.Pii.redactText]]) and
    * repetition-gated ([[graft.queries.Quality.withVerdict]]), then
    * rolled up per (lang, verdict) with kept-char accounting — the
    * live quality monitor a crawl pipeline runs next to its sink.
    * Both building blocks are stateless per-row projections, so the
    * only streaming state is one row per (lang, verdict) cell in the
    * aggregate; identical logical plan in batch, which is how the q90
    * oracle checks it (the StreamingSpec file-source run must equal
    * the batch run exactly).
    */
  def curatedCounts(docs: DataFrame): DataFrame =
    graft.queries.Quality.withVerdict(graft.queries.Pii.withSyntheticPii(docs))
      .select(col("lang"), col("verdict"),
        length(graft.queries.Pii.redactText(col("t2"))).as("rlen"))
      .groupBy(col("lang"), col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("rlen")).as("redacted_chars"))

  /** Idempotent partitioned-parquet sink — closes the ingest loop
    * (VERDICT r4 #7; deployment shape of the reference's "Real-time
    * Personalization Effectiveness" consumer): `Trigger.AvailableNow`
    * drains whatever the source currently holds and stops, and each
    * microbatch lands via the batchId-guarded
    * [[graft.sources.PartitionedStore.writeBatch]] — a replayed batch
    * (crash between sink write and checkpoint commit) deletes and
    * rewrites exactly its own `graft_batch_id=<id>` tree, so restarts
    * never duplicate output (pinned by StreamingSpec's restart test).
    * Downstream reads through `PartitionedStore.readPartitioned` get
    * planning-time pruning on `partitionCols` as usual. They still
    * infer the schema from parquet footers (one Spark job per read):
    * only `PartitionedStore.readCommitted`, over [[sinkCommitted]]'s
    * store, reads with the `_graft_schema` that `writeBatch` records.
    */
  def sinkPartitioned(stream: DataFrame, path: String, partitionCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.PartitionedStore.writeBatch(
          batch.toDF(), path, partitionCols, batchId)
      }
      .start()

  /** [[sinkPartitioned]] with the round-11 watermark commit: after a
    * batch's tree lands, ONE atomic pointer swap marks it committed,
    * and `PartitionedStore.readCommitted` shows readers every
    * committed batch whole — never a batch mid-write or mid-replay.
    * This closes the concurrency gap [[sinkPartitioned]]'s contract
    * documents (its delete-then-rewrite replay is visible to a
    * concurrent reader): a crash between the write and the commit
    * leaves an orphan tree BELOW the watermark's horizon, and the
    * replay rewrites it before the watermark ever reaches it.
    * SourcesSpec pins the reader-isolation sequence; StreamingSpec
    * drives it through a real MemoryStream restart.
    */
  def sinkCommitted(stream: DataFrame, path: String, partitionCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.PartitionedStore.writeBatch(
          batch.toDF(), path, partitionCols, batchId)
        graft.sources.PartitionedStore.commitBatchWatermark(
          batch.sparkSession, path, batchId)
      }
      .start()

  /** Walks a time-sorted slice of one user's events, closing sessions
    * whose gap exceeds `gapUs`. Returns (closed sessions, open tail).
    */
  private def advanceSessions(userId: Long, sorted: Seq[(Long, Long)], prev: Option[SessState],
      gapUs: Long): (Vector[GraftSession], Option[SessState]) = {
    val out = Vector.newBuilder[GraftSession]
    var st = prev.orNull
    for ((tsUs, _) <- sorted) {
      if (st == null) st = SessState(1L, 1L, tsUs, tsUs)
      // n == 0 is a counter-only tombstone (its session was already
      // emitted by an event-time timeout): it contributes the next
      // session_seq but no open session to extend
      else if (st.n == 0L) st = SessState(st.seq, 1L, tsUs, tsUs)
      else if (tsUs - st.last_us > gapUs) {
        out += GraftSession(userId, st.seq, st.n, st.start_us, st.last_us,
          st.last_us - st.start_us)
        st = SessState(st.seq + 1, 1L, tsUs, tsUs)
      } else st = st.copy(n = st.n + 1, last_us = tsUs)
    }
    (out.result(), Option(st))
  }

  /** Gap sessionization via flatMapGroupsWithState. Emits every closed
    * session; in batch mode all sessions close at end-of-group.
    */
  def sessionize(events: Dataset[GraftEvent], gapUs: Long): Dataset[GraftSession] =
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, GraftSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[GraftEvent], state: GroupState[SessState]) =>
          val sorted = it.toVector.sortBy(e => (e.ts_us, e.event_id)).map(e => (e.ts_us, e.event_id))
          val (closed, open) = advanceSessions(userId, sorted, state.getOption, gapUs)
          state.remove()
          // batch mode: the group is complete — close the open tail too
          val tail = open.map(st =>
            GraftSession(userId, st.seq, st.n, st.start_us, st.last_us,
              st.last_us - st.start_us))
          (closed ++ tail).iterator
      }

  /** STREAMING gap sessionization with event-time timeout: sessions
    * closed by an in-batch gap emit immediately; the open tail stays in
    * GroupState with a timeout at (last event + gap), so it emits when
    * the watermark passes that instant — the correct unbounded-stream
    * semantics. State per user is O(1) and, after a timeout, degrades
    * to a counter-only tombstone rather than being removed: the seq
    * counter must survive or the user's next session would renumber
    * from 1, diverging from the batch path (StreamingDifferentialSpec
    * pins stream ≡ batch across random epoch splits, session_seq
    * included).
    *
    * Tombstones are NOT kept forever (ADVICE r6: unbounded per-user
    * state on an ever-growing user set): each tombstone re-registers a
    * long secondary timeout at (last event + `tombstoneTtlSeconds`)
    * and is REMOVED when that fires, bounding the state store to users
    * active within the TTL. The trade-off is explicit: a user
    * returning after a full TTL of event-time silence restarts at
    * session_seq 1, so stream ≡ batch holds exactly for inactivity
    * gaps under the TTL (default 30 days — far past any plausible
    * session-gap parameter; must exceed the session gap).
    * Input needs (user_id, event_id, ts) with ts a watermarkable event
    * time.
    */
  def sessionizeStream(events: org.apache.spark.sql.DataFrame, gapSeconds: Long,
      watermarkDelay: String = "2 hours",
      tombstoneTtlSeconds: Long = 30L * 24 * 3600): Dataset[GraftSession] = {
    require(tombstoneTtlSeconds > gapSeconds,
      "tombstone TTL must exceed the session gap or open sessions could outlive their tombstones")
    val gapUs = gapSeconds * 1000000L
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"), col("ts"))
      .as[GraftEventW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, GraftSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[GraftEventW], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            if (st.n == 0L) {
              // the TOMBSTONE's TTL fired: the user has been silent a
              // full tombstoneTtl past their last event — drop the
              // counter and bound the state store (their next session,
              // if any, renumbers from 1; documented trade-off above)
              state.remove()
              Iterator.empty
            } else {
              // session timeout: emit the closed session and keep a
              // counter-only tombstone (n = 0) instead of removing
              // state — dropping the seq counter here would restart
              // the user's next session at 1, silently diverging from
              // the batch path's monotone per-user numbering (caught
              // by StreamingDifferentialSpec's random-epoch sweep).
              // The tombstone carries its own long timeout so it ages
              // out instead of living forever (ADVICE r6).
              val ttlMs = st.last_us / 1000L + tombstoneTtlSeconds * 1000L
              if (ttlMs <= state.getCurrentWatermarkMs()) {
                // the watermark already passed the TTL point by the
                // time this session closed (possible when the session
                // timeout fires late): the tombstone is expired on
                // arrival — registering it would also trip Spark's
                // timeout-behind-watermark check. Remove directly.
                state.remove()
              } else {
                state.update(SessState(st.seq + 1, 0L, st.last_us, st.last_us))
                state.setTimeoutTimestamp(ttlMs)
              }
              Iterator.single(GraftSession(userId, st.seq, st.n, st.start_us, st.last_us,
                st.last_us - st.start_us))
            }
          } else {
            val sorted = it.toVector.sortBy(e => (e.ts_us, e.event_id)).map(e => (e.ts_us, e.event_id))
            val (closed, open) = advanceSessions(userId, sorted, state.getOption, gapUs)
            open.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last_us / 1000L + gapSeconds * 1000L)
            }
            closed.iterator
          }
      }
  }
}
