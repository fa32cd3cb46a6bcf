package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-shaped transforms over the `events` table. The reference is a
  * scheduled batch job (SURVEY.md §2.9) — its incremental semantics map to
  * watermark + upsert; these operators give the engine the continuous
  * equivalent. Each transform is a pure DataFrame function, so the SAME code
  * runs in a batch query (Verify/Bench oracles) and under `readStream`
  * (watermarked, incremental) — see EventsStreamSpec.
  */
object EventsStream {

  /** `round(value * 100)` with the exact semantics of Spark's `round` on a
    * double (HALF_UP over the shortest-decimal representation) — the one
    * rounding rule used everywhere: here, in `hourlyTypeCounts`, and in the
    * DuckDB oracles. `math.rint` (half-even) disagrees on exact .5 binary
    * values such as 0.125*100.
    */
  private[graft] def halfUpCents(value: Double): Long =
    java.math.BigDecimal.valueOf(value * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** Tumbling-window aggregate by event type. In streaming mode callers add
    * `withWatermark("ts", ...)` upstream; the aggregation is identical.
    */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("value_cents"))

  /** Streaming variant with a watermark (late data beyond 1h dropped). */
  def hourlyTypeCountsStreaming(events: DataFrame): DataFrame =
    hourlyTypeCounts(events.withWatermark("ts", "1 hour"))

  /** Custom keyed state via `mapGroupsWithState`: running per-user totals
    * that survive across micro-batches (the KeyValueGroupedDataset state
    * API — for accumulators the built-in windows can't express). Update
    * output mode; batch twin is a plain groupBy sum. State per key is two
    * longs — bounded by the user population, not the event volume.
    */
  def runningUserTotals(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import events.sparkSession.implicits._
    // dirty-event guard: the tuple encoder's primitive fields throw
    // AssertNotNull on a null user_id/value — one poison event would
    // kill the query, and restart replays it forever. Dropping the row
    // is the asOfEnrich null contract applied consistently.
    events.select(col("user_id").cast("long"), col("value").cast("double"))
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val (n0, cents0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var cents = cents0
          rows.foreach { r => n += 1; cents += halfUpCents(r._2) }
          state.update((n, cents))
          (user, n, cents)
      }
  }

  /** Streaming exact dedup with BOUNDED state: keep the first event per
    * key, dropping repeats that arrive within the watermark window.
    * `dropDuplicatesWithinWatermark` evicts each key's dedup state once
    * the watermark passes it — unlike a plain streaming `dropDuplicates`,
    * whose state grows with every key ever seen and OOMs a 100 TB stream.
    * Trade: a duplicate arriving later than `lateness` after its first
    * occurrence is emitted again (at-least-once dedup) — the standard
    * contract for watermarked streams. Batch twin: `dropDuplicates(keys)`.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keys)

  /** Streaming inter-run dedup: drop every arriving document whose content
    * fingerprint already exists in the STATIC baseline corpus — the
    * streaming twin of `Dedup.dedupAgainstBaseline`'s anti-join half, as a
    * stream-static left-anti join (supported with the stream on the left;
    * no state store involved, so nothing grows with stream volume).
    * Within-stream duplicates compose via `dedupStream` upstream. The
    * baseline side reduces to DISTINCT fingerprints and is GUARD-PERSISTED:
    * a stream-static join re-executes the static subplan on EVERY
    * micro-batch, so an uncached baseline would re-fingerprint and
    * re-aggregate the whole corpus per batch for the stream's lifetime —
    * the cache bounds that to one pass (entry left to LRU;
    * recompute-on-eviction keeps it correct). PRECONDITION: the baseline
    * must be immutable for the stream's lifetime — the engine's snapshot
    * model (each run writes a NEW versioned snapshot dir, never appends)
    * guarantees this, and the cache then has no semantic effect. A
    * mutable baseline source would make batch output depend on WHEN cache
    * blocks evict (frozen-until-eviction, then silently refreshed) — to
    * pick up a newer baseline, restart the query against the new snapshot.
    */
  def dedupAgainstBaselineStream(docs: DataFrame, baseline: DataFrame,
                                 textCol: String = "text"): DataFrame = {
    val basFp = graft.util.Caching.ensurePersisted(baseline
      .select(graft.functions.GraftFunctions.fingerprint(
        org.apache.spark.sql.functions.col(textCol)).as("__basfp")).distinct())
    docs
      .withColumn("__fp", graft.functions.GraftFunctions.fingerprint(
        org.apache.spark.sql.functions.col(textCol)))
      .join(basFp, org.apache.spark.sql.functions.col("__fp") ===
        org.apache.spark.sql.functions.col("__basfp"), "left_anti")
      .drop("__fp")
  }

  /** Streaming twin of `Dedup.duplicateSpansAgainstBaseline`: per
    * micro-batch exact-span detection against the STATIC baseline via
    * `foreachBatch` — the gram self-join and the per-(pair, diagonal)
    * islands window are batch plans a streaming query cannot express, so
    * the micro-batch is the unit of streaming (the same boundary the
    * versioned `upsertStream` draws). PAIRING is batch-invariant: the
    * operator joins cross-side only, so a document's spans depend on the
    * baseline alone, never on which batch its neighbors rode in. The
    * occurrence CAP is not: it counts over (this batch ∪ baseline), so a
    * gram that is boilerplate only in aggregate across batches may still
    * pair in early batches — the cap is a join-volume bound per batch,
    * not a cross-batch semantic contract (size batches accordingly, or
    * fold detected boilerplate back into the baseline between runs).
    * The baseline's shared hash layer is guard-persisted on
    * first use and reused by every subsequent batch (plan-equal cache
    * substitution), so a batch pays only its own side of the gram join;
    * the baseline-immutability precondition and restart-to-refresh rule
    * of `dedupAgainstBaselineStream` apply unchanged (entry left to LRU,
    * like its fingerprint sibling). `sink` receives each batch's span
    * frame (at-least-once, per foreachBatch semantics). Per-BATCH cache
    * entries (the batch's hash layer, the capped gram union — distinct
    * plans every micro-batch) are released after the sink returns via the
    * managed variant: an unbounded stream must not stack one registration
    * per batch, and the release no-ops on the pre-registered baseline
    * layer by `Caching.acquire` ownership.
    */
  def spanDedupStream(docs: DataFrame, baseline: DataFrame, checkpoint: String,
                      n: Int = 8, maxOcc: Int = 64)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.util.Caching.ensurePersisted(
      graft.operators.Dedup.fullHashFrame(baseline, "doc_id", "text"))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (spans, release) = graft.operators.Dedup.duplicateSpansAgainstBaselineManaged(
          batch.toDF(), baseline, n, maxOcc)
        try sink(spans) finally release()
      }
      .start()
  }

  /** Streaming twin of `Dedup.noveltyRate`: per-micro-batch crawl-health
    * novelty against the STATIC baseline via `foreachBatch` — the
    * ingestion-path form of the triage signal (watch novelty collapse
    * DURING a crawl, not after it lands). Unlike the span twin, the
    * semantics here are FULLY batch-invariant: a document's novelty
    * depends on its own grams and the baseline alone — no occurrence
    * cap, no cross-document pairing — so any batching of the same
    * documents produces identical rows (`EventsStreamSpec` drives one-
    * and two-batch replays against the batch operator). The baseline's
    * shared hash layer is guard-persisted on first use and reused by
    * every batch; per-batch entries are released after the sink returns
    * via the managed variant (the unbounded-stream registration rule).
    * Baseline immutability and restart-to-refresh as every stream-static
    * sibling.
    */
  def noveltyStream(docs: DataFrame, baseline: DataFrame, checkpoint: String,
                    n: Int = 8)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // the baseline contributes only its DISTINCT gram SET — persist THAT
    // (8 bytes a row), not just the hash layer: every batch then joins
    // the cached set, instead of re-running the baseline-corpus-scale
    // gram explode + distinct per micro-batch
    val seen = graft.util.Caching.ensurePersisted(
      graft.operators.Dedup.initGramSet(baseline, n))
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (nov, release) = graft.operators.Dedup.noveltyAgainstGramsManaged(
          batch.toDF(), seen, n)
        try sink(nov) finally release()
      }
      .start()
  }

  /** Streaming twin of `Classifier.scoreLogistic` — the quality gate on
    * the ingestion path: score every arriving document under a FROZEN
    * trained weight frame (`Classifier.trainWeights` output), micro-batch
    * by micro-batch via `foreachBatch`. STATELESS and fully
    * batch-invariant: a document's score depends on its own grams and the
    * broadcast weights alone — no cross-document term, no cap, no state —
    * so any batching of the same documents produces identical rows
    * (`EventsStreamSpec` drives one- and two-batch replays against the
    * batch scorer). Weights collect ONCE to the dense dictionary-sized
    * vector before the stream starts and ride every batch as a broadcast;
    * per-batch hash-layer registrations are released after the sink
    * returns (the unbounded-stream registration rule — each micro-batch
    * is a distinct plan and must not stack session-lifetime cache
    * entries). Retraining = restart with a new weight frame, the same
    * baseline-refresh rule as every stream-static sibling.
    */
  def scoreStream(docs: DataFrame, weights: DataFrame, checkpoint: String,
                  idCol: String = "doc_id", textCol: String = "text")
                 (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val wMicro = graft.operators.Classifier.weightsToArray(weights)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (scored, release) = graft.operators.Classifier.scoreLogisticManaged(
          batch.toDF(), wMicro, idCol, textCol)
        try sink(scored) finally release()
      }
      .start()
  }

  /** Streaming twin of `Multimodal.nearDupAgainstBaseline` — perceptual
    * near-dup on the ingestion path: each micro-batch of incoming media
    * FINGERPRINTS pairs against the STATIC corpus fingerprint state via
    * `foreachBatch` (the banded pair join and its dropDuplicates are
    * batch plans a streaming query cannot express — the span twin's
    * boundary). PAIRING is batch-invariant: cross-side only, so a
    * fingerprint's pairs depend on the baseline state alone, never on
    * which batch its neighbors rode in. The bucket CAP is not: it counts
    * over (this batch ∪ baseline) — a per-batch join-volume bound, not a
    * cross-batch contract, the span twin's rule verbatim. The state frame
    * is guard-persisted on first use and reused by every batch; per-batch
    * registrations are released after the sink returns via the managed
    * variant (the unbounded-stream rule — `Caching.acquire` ownership
    * no-ops the release on the pre-registered state). Decode stays
    * upstream: the stream carries (doc_id, phash) rows — fingerprints are
    * computed where the media bytes land ([[graft.operators.Multimodal]]
    * `perceptualHash`/`audioFingerprint` inside the ingest job), and only
    * 16 bytes/row ride the stream. Baseline immutability and
    * restart-to-refresh as every stream-static sibling.
    */
  def mediaNearDupStream(fingerprints: DataFrame, baseline: DataFrame, checkpoint: String,
                         maxHamming: Int = 3, maxBucket: Int = 1000)
                        (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.util.Caching.ensurePersisted(baseline)
    fingerprints.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (pairs, release) = graft.operators.Multimodal.nearDupAgainstBaselineManaged(
          batch.toDF(), baseline, maxHamming, maxBucket)
        try sink(pairs) finally release()
      }
      .start()
  }

  /** Streaming URL dedup — the crawl scheduler's question asked the way
    * it actually arrives: a STREAM of candidate (doc_id, url) rows,
    * deduped within each micro-batch on the canonical key (keep-first)
    * and anti-joined against the crawled set's pre-reduced DISTINCT
    * canonical keys (`Dedup.urlDedupAgainstKeys` under a guard-persisted
    * key state — computed once, read every batch). Within-batch keep-first
    * matches the batch operator exactly when a canonical class arrives in
    * one batch; classes split across batches each keep their own first
    * (at-least-once frontier semantics — the downstream fetch layer's
    * own url dedup is the idempotency backstop, as in every production
    * crawler). Only (id, url) strings ride the stream.
    */
  def urlDedupStream(urls: DataFrame, baseline: DataFrame, checkpoint: String)
                    (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val keys = graft.util.Caching.ensurePersisted(
      baseline.select(
        graft.functions.GraftFunctions.canonicalUrl(col("url")).as("canonical_url"))
        .distinct())
    urls.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(graft.operators.Dedup.urlDedupAgainstKeys(batch.toDF(), keys))
      }
      .start()
  }

  /** Streaming VIDEO near-dup — [[mediaNearDupStream]]'s shape on the
    * sketch state: a stream of (doc_id, sketch_hash) rows (the winnow
    * sketch is computed where the frames land — only 16-byte rows ride
    * the stream, never pixels) pairs each micro-batch cross-side against
    * the settled corpus' sketch STATE via
    * `Multimodal.nearDupVideoAgainstBaselineManaged`. Pairing is
    * batch-invariant for a video whose sketch rows arrive in ONE batch
    * (cross-side join + per-pair count); the bucket cap counts over
    * (batch ∪ baseline), the per-batch join-volume bound. Per-batch
    * cache registrations are released after the sink returns — the
    * unbounded-stream rule.
    */
  def videoNearDupStream(sketches: DataFrame, baseline: DataFrame, checkpoint: String,
                         minShared: Int = 2, maxBucket: Int = 1000)
                        (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.util.Caching.ensurePersisted(baseline)
    sketches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (pairs, release) = graft.operators.Multimodal.nearDupVideoAgainstBaselineManaged(
          batch.toDF(), baseline, minShared, maxBucket)
        try sink(pairs) finally release()
      }
      .start()
  }

  /** Custom keyed state with MULTI-ROW emission via `flatMapGroupsWithState`
    * (the zero-or-more-outputs-per-group shape `mapGroupsWithState` cannot
    * express): per-user running spend with one alert row emitted for every
    * `stepCents` boundary the running total crosses — an event that jumps
    * two boundaries emits two rows; a total that falls and re-crosses a
    * boundary alerts again.
    *
    * Rows are folded in `(ms, event_id)` order — a total order, so the
    * batch run and an in-order streaming replay produce identical output
    * (EventsStreamSpec drives both). State per key is one long. Cents use
    * the same HALF_UP rounding as every other money path. In a production
    * stream a state TTL (`GroupStateTimeout`) would bound the key space;
    * the fixture population is finite.
    *
    * Per-invocation bound: the sort materializes ONE group's rows — in
    * streaming that is one user's slice of one micro-batch (bounded by
    * trigger size); in the BATCH twin it is the user's whole history, so
    * a power-law-hot key needs the funnelProgress discipline (drop
    * non-contributing rows before buffering / a secondary-sorted
    * iterator) before this runs over an unbounded archive — the same
    * caveat asOfEnrich's batch mode carries.
    */
  def spendAlerts(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                  stepCents: Long = 5000L)
      : org.apache.spark.sql.Dataset[(Long, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long"), unix_millis(col("ts")).as("ms"),
        col("event_id").cast("long"), col("value").cast("double"))
      // poison-pill guard (the runningUserTotals rule): all four fields
      // decode as primitives
      .filter(col("user_id").isNotNull && col("ms").isNotNull &&
        col("event_id").isNotNull && col("value").isNotNull)
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var cum = state.getOption.getOrElse(0L)
          val out = Vector.newBuilder[(Long, Long, Long)]
          rows.toVector.sortBy(r => (r._2, r._3)).foreach { r =>
            val prev = cum
            cum += halfUpCents(r._4)
            var b = Math.floorDiv(prev, stepCents) + 1
            while (b <= Math.floorDiv(cum, stepCents)) {
              out += ((user, b * stepCents, r._3))
              b += 1
            }
          }
          state.update(cum)
          out.result().iterator
      }
  }

  /** Streaming twin of `AsOf.asOfJoin` (point-in-time enrichment): each
    * `leftType` event is enriched with the most recent `rightType` event
    * at-or-before it for the same user, via `flatMapGroupsWithState` —
    * per-key state is ONE row (the latest right event seen), so state is
    * bounded by the key population, not the stream volume, and there is no
    * stream-stream join buffer to watermark.
    *
    * Rows fold in (ms, side, event_id) order with right before left at
    * equal ms — exactly the batch operator's union-sort order — so an
    * in-order replay equals `AsOf.asOfJoin` row-for-row
    * (EventsStreamSpec drives both). Out-of-order arrivals degrade along
    * the as-of contract, never against it: the emit guard
    * (`state ms <= left ms`) means a left event arriving after a LATER
    * right event gets no match rather than a future one (the leakage a
    * point-in-time join exists to prevent), and a late right event only
    * affects subsequent left events. Null ordinates mirror the batch
    * twin: a null-ts right event can never match; a null-ts left event is
    * emitted unmatched.
    */
  def asOfEnrich(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                 leftType: String = "purchase", rightType: String = "click")
      : org.apache.spark.sql.Dataset[(Long, Long, Option[Long], Option[Long], Option[Long], Option[Double])] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .select(col("user_id").cast("long"), unix_millis(col("ts")).as("ms"),
        col("event_id").cast("long"), col("event_type"), col("value").cast("double"))
      .filter(col("event_type").isin(leftType, rightType))
      // user_id and event_id decode as primitives (ms/value are already
      // Option) — drop the rows the encoder would otherwise die on
      .filter(col("user_id").isNotNull && col("event_id").isNotNull)
      .as[(Long, Option[Long], Long, String, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Option[Double]), (Long, Long, Option[Long], Option[Long], Option[Long], Option[Double])](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          var st = state.getOption // (click_ms, click_id, click_value)
          val out = Vector.newBuilder[(Long, Long, Option[Long], Option[Long], Option[Long], Option[Double])]
          rows.toVector
            .sortBy(r => (r._2.getOrElse(Long.MinValue), if (r._4 == rightType) 0 else 1, r._3))
            .foreach { r =>
              if (r._4 == rightType)
                r._2.foreach { ms =>
                  if (st.forall(s => s._1 < ms || (s._1 == ms && s._2 < r._3)))
                    st = Some((ms, r._3, r._5))
                }
              else {
                val m = r._2.flatMap(ms => st.filter(_._1 <= ms))
                out += ((user, r._3, r._2, m.map(_._2), m.map(_._1), m.flatMap(_._3)))
              }
            }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of `operators.Funnel.funnel` (3-step conversion
    * funnel) via `mapGroupsWithState`: per-user state is the Vector of
    * completion KEYS for the steps completed so far (≤ 3 longs — bounded
    * by the funnel depth, not the stream volume). Each invocation folds
    * its rows in ascending key order — `ms · 2²⁰ + id mod 2²⁰`, the batch
    * operator's total order — and greedily takes the first event of the
    * step currently awaited: in an in-order replay that is exactly the
    * batch chain of `min(key) > previous` (EventsStreamSpec drives both).
    * Out-of-order arrivals degrade conservatively: a step event arriving
    * after a later-keyed completion of its predecessor still counts iff
    * its key is greater, and never rewrites an existing completion.
    * Update-mode emission: one progress row per user per invocation.
    *
    * Memory: the ≤3-long bound is the STATE-STORE size. Per invocation,
    * events that can no longer matter — steps already completed, keys at
    * or below the last completion (re-deliveries, stale history) — drop
    * before buffering, and nothing is buffered once the funnel is full;
    * what remains is sorted in place, so the per-invocation footprint is
    * O(still-advanceable step events of that user in that micro-batch).
    * In streaming that is one micro-batch's slice; only the batch-mode
    * twin (whole history in one invocation) can see a heavy user's full
    * funnel-step backlog at once.
    */
  def funnelProgress(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                     steps: Seq[String] = Seq("view", "click", "purchase"))
      : org.apache.spark.sql.Dataset[(Long, Option[Long], Option[Long], Option[Long], Long)] = {
    require(steps.length == 3, "funnelProgress emits a fixed 3-step row")
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import events.sparkSession.implicits._
    val tieMod = 1L << 20
    events
      .filter(col("event_type").isin(steps: _*))
      .select(col("user_id").cast("long"), col("event_type"),
        (unix_millis(col("ts")) * tieMod + pmod(col("event_id"), lit(tieMod))).as("k"))
      .filter(col("user_id").isNotNull) // primitive key field; null would poison
      .as[(Long, String, Option[Long])]
      .groupByKey(_._1)
      .mapGroupsWithState[Vector[Long], (Long, Option[Long], Option[Long], Option[Long], Long)](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val done = advanceFunnel(
            state.getOption.getOrElse(Vector.empty[Long]), rows, steps)
          state.update(done)
          // floorDiv, not `/`: truncation decodes pre-1970 (negative)
          // timestamps one ms too high — matches the batch operator
          def ms(i: Int): Option[Long] = done.lift(i).map(Math.floorDiv(_, tieMod))
          (user, ms(0), ms(1), ms(2), done.length.toLong)
      }
  }

  /** The shared funnel fold: advance `done0` with this invocation's
    * events, greedily taking the first event of the awaited step in
    * ascending key order. Drop-before-buffer: an event of an already-
    * completed step, or keyed at/below the last completion, can never
    * extend the chain (done only grows, keys must strictly increase) —
    * so only still-advanceable events reach the sort buffer.
    */
  private def advanceFunnel(done0: Vector[Long],
                            rows: Iterator[(Long, String, Option[Long])],
                            steps: Seq[String]): Vector[Long] = {
    var done = done0
    if (done.length < steps.length) {
      val floor = done.lastOption.getOrElse(Long.MinValue)
      val entryLen = done.length
      val idxOf = steps.zipWithIndex.toMap
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      rows.foreach(r => r._3.foreach { k =>
        val i = idxOf(r._2)
        if (i >= entryLen && k > floor) buf += ((k, i))
      })
      buf.sortInPlaceBy(_._1).foreach { case (k, i) =>
        if (done.length < steps.length && i == done.length &&
            done.lastOption.forall(_ < k))
          done :+= k
      }
    }
    done
  }

  /** Streaming funnel with ABANDONMENT detection — the `EventTimeTimeout`
    * counterpart of [[funnelProgress]], and the state-EVICTION semantics a
    * `NoTimeout` operator cannot express: the store holds only in-flight
    * funnels. Each user emits at most one append-mode row per funnel run:
    *
    *   - `(user, 3, "converted")` in the micro-batch whose events complete
    *     the final step (state removed immediately);
    *   - `(user, depth, "abandoned")` when the WATERMARK moves `gapMinutes`
    *     of event time past their last completed step with the funnel still
    *     open — fired by the state-store timeout, so no per-user scan.
    *
    * The abandonment clock is the GLOBAL watermark, which advances with
    * observed STEP traffic: the optimizer pushes the step filter below
    * the watermark node (the predicate doesn't reference `ts`), so
    * non-step events never reach the clock — irrelevant on a busy stream
    * where other users' step events keep it moving, but a test must
    * advance time with step events. The timeout timestamp is clamped above
    * the current watermark (`setTimeoutTimestamp` rejects past-due
    * stamps); users whose state was evicted re-enter a FRESH funnel if
    * step events arrive later — by then their row was already emitted,
    * the same at-most-once-per-run contract a completed user has.
    * Progress folds via [[funnelProgress]]'s exact `advanceFunnel`.
    */
  def funnelWithAbandonment(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                            steps: Seq[String] = Seq("view", "click", "purchase"),
                            gapMinutes: Int = 60, lateness: String = "10 minutes")
      : org.apache.spark.sql.Dataset[(Long, Long, String)] = {
    require(steps.nonEmpty, "steps must be non-empty")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val tieMod = 1L << 20
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", lateness)
      .filter(col("event_type").isin(steps: _*))
      // ts rides along unused: the event-time-timeout checker requires the
      // WATERMARKED attribute to still exist in the stateful operator's
      // input — projecting it away severs the watermark association
      .select(col("user_id").cast("long"), col("event_type"),
        (unix_millis(col("ts")) * tieMod + pmod(col("event_id"), lit(tieMod))).as("k"),
        col("ts"))
      .filter(col("user_id").isNotNull) // primitive key field; null would poison
      .as[(Long, String, Option[Long], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Vector[Long], (Long, Long, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          if (state.hasTimedOut) {
            val depth = state.getOption.map(_.length.toLong).getOrElse(0L)
            state.remove()
            Iterator.single((user, depth, "abandoned"))
          } else {
            val done = advanceFunnel(
              state.getOption.getOrElse(Vector.empty[Long]),
              rows.map(r => (r._1, r._2, r._3)), steps)
            if (done.length == steps.length) {
              if (state.exists) state.remove()
              Iterator.single((user, done.length.toLong, "converted"))
            } else if (done.nonEmpty) {
              state.update(done)
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(done.last, tieMod) + gapMs,
                state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            } else Iterator.empty // no progress yet: nothing to abandon
          }
      }
  }

  /** Versioned state store for `upsertStream`. Each write lands in its own
    * `v-<version>` parquet dir; the COMMIT POINT is the creation of the
    * empty `commit-v-<version>` marker (file create is atomic), so a crash
    * mid-write leaves a dangling uncommitted dir that readers never see —
    * no overwrite-in-place, no window where state is partial. Readers pick
    * the highest committed version; read errors on a COMMITTED version
    * propagate (they are corruption, not cold start) instead of silently
    * resetting state.
    */
  private def stateFs(spark: org.apache.spark.sql.SparkSession, stateDir: String) = {
    val p = new org.apache.hadoop.fs.Path(stateDir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def versionName(v: Long): String = f"v-$v%020d"

  /** Highest committed version in `stateDir`, if any. */
  private def latestVersion(spark: org.apache.spark.sql.SparkSession, stateDir: String): Option[String] = {
    val (fs, dir) = stateFs(spark, stateDir)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName).filter(_.startsWith("commit-"))
      .maxOption.map(_.stripPrefix("commit-"))
  }

  /** Read the current committed state (None on cold start — no commits). */
  def readState(spark: org.apache.spark.sql.SparkSession, stateDir: String): Option[DataFrame] =
    latestVersion(spark, stateDir).map(v => spark.read.parquet(s"$stateDir/$v"))

  /** Write + commit one state version. Idempotent per version (a replayed
    * micro-batch overwrites its own dir and re-creates the same marker).
    * Committed versions older than the PREVIOUS one are garbage-collected
    * after the commit — the one-version grace keeps a concurrent reader
    * that selected the then-latest version via `readState` from hitting
    * FileNotFoundException when the writer commits right behind it.
    */
  def writeState(df: DataFrame, stateDir: String, version: Long): Unit = {
    val spark = df.sparkSession
    val vn = versionName(version)
    df.write.mode("overwrite").parquet(s"$stateDir/$vn")
    val (fs, dir) = stateFs(spark, stateDir)
    fs.create(new org.apache.hadoop.fs.Path(dir, s"commit-$vn"), true).close()
    val committed = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("commit-")).map(_.stripPrefix("commit-")).sorted
    val keep = committed.takeRight(2).toSet
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      val v = n.stripPrefix("commit-")
      if ((n.startsWith("commit-") || n.startsWith("v-")) && !keep.contains(v))
        fs.delete(st.getPath, true)
    }
  }

  /** I2 — the streaming twin of the reference's late/changed-data upsert
    * (`address_etl/geocode.py:231-270`): each micro-batch merges into the
    * carried state with `RelOps.upsert` (last write wins per key), the
    * `foreachBatch` merge pattern from SURVEY §2.9. State lives in the
    * versioned parquet store above (read with `readState`); batch N commits
    * version N+1, and because the merge reads from the previous version's
    * directory, there is no read-what-you-replace temp-dir copy. A replayed
    * batch whose version is already committed is skipped (exactly-once
    * state effect on top of foreachBatch's at-least-once delivery).
    * Returns the StreamingQuery.
    */
  def upsertStream(updates: DataFrame, keys: Seq[String], statePath: String,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        // a replayed batch whose version is already committed is a no-op —
        // merging again would read and overwrite the same version dir.
        // foreachBatch only ever replays the MOST RECENT batch, so the
        // no-op case is exactly `latest == target`; state strictly AHEAD
        // of the incoming batch id means the checkpoint was reset while
        // the state dir survived — skipping would silently drop every
        // batch until the counter catches up, so fail loudly instead.
        // KNOWN residual window: state at EXACTLY batchId+1 after a
        // checkpoint reset is indistinguishable from a genuine replay by
        // version numbers alone (a one-batch run, checkpoint deleted,
        // restart: the new batch 0 reads as the old batch 0's replay and
        // is skipped). Closing it needs a batch-content token in the
        // commit marker; operationally, clear BOTH dirs together.
        val target = versionName(batchId + 1)
        val latest = latestVersion(spark, statePath)
        if (latest.exists(_ > target))
          throw new IllegalStateException(
            s"upsertStream state at version ${latest.get} is ahead of micro-batch " +
              s"version $target: checkpoint and state dir disagree (was the " +
              "checkpoint deleted?). Refusing to silently drop batches — " +
              "remove or realign the state dir to recover.")
        // the symmetric gap: committed state BEHIND the previous batch's
        // version means intermediate batches' merges are missing (state dir
        // restored from an older backup) — merging batch N onto it would
        // mask the loss forever. (A fully ABSENT state dir stays a valid
        // cold start: deliberately clearing state to rebuild is a
        // documented recovery path.)
        if (latest.exists(_ < versionName(batchId)))
          throw new IllegalStateException(
            s"upsertStream state at version ${latest.get} is behind micro-batch " +
              s"version ${versionName(batchId)}: intermediate batches are missing " +
              "from the state dir (restored from an old backup?).")
        if (!latest.contains(target)) {
          // reduce the BATCH to one row per key first: RelOps.upsert keeps
          // every update row verbatim, so two same-key rows in one
          // micro-batch would land in the state together — key-uniqueness
          // broken, and state content depending on micro-batch slicing.
          // The within-batch winner is the greatest full-payload struct:
          // deterministic and partitioning-invariant; callers needing a
          // meaningful last-write order put a version/ts column first in
          // the payload (struct comparison is field-order lexicographic).
          val cols = batch.columns.toIndexedSeq
          val nonKey = cols.filterNot(keys.contains)
          val one =
            if (nonKey.isEmpty) batch.toDF().dropDuplicates(keys)
            else batch.toDF().groupBy(keys.map(col): _*)
              .agg(max(struct(nonKey.map(col): _*)).as("__r"))
              .select(cols.map(c =>
                if (keys.contains(c)) col(c) else col(s"__r.$c").as(c)): _*)
          val current = readState(spark, statePath).getOrElse(batch.limit(0).toDF())
          val merged = graft.operators.RelOps.upsert(current, one, keys)
          writeState(merged, statePath, batchId + 1)
        }
      }
      .start()

  /** Session windows via the native `session_window` aggregation — the
    * idiomatic Spark shape that runs identically in batch and Structured
    * Streaming (with a watermark, sessions emit on close in append mode).
    * A session extends while consecutive events are within `gapMinutes`;
    * window start = first event, end = last event + gap. Grouping is
    * identical to `sessionize`'s lag/cumsum formulation — only the output
    * shape differs (window bounds instead of ordinals).
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionAgg(msTruncated(events), gapMinutes)

  /** Streaming twin: watermarked, emits closed sessions in append mode.
    * Truncation happens BEFORE the watermark so `session_window` groups on
    * exactly the watermarked event-time column.
    */
  def sessionWindowsStreaming(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    sessionAgg(msTruncated(events).withWatermark("ts", s"$gapMinutes minutes"), gapMinutes)

  /** `ts` truncated to MILLISECONDS: the source carries ns-precision
    * timestamps (µs after Spark's read), and every other time operator —
    * and every oracle — compares at ms granularity. Without the
    * truncation, a session gap landing within 1 ms of the boundary splits
    * differently in `session_window` (µs math) than in the ms-based
    * `sessionize`/oracle formulation.
    */
  private def msTruncated(events: DataFrame): DataFrame =
    events.withColumn("ts", timestamp_millis(unix_millis(col("ts"))))

  private def sessionAgg(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col("user_id"),
        unix_millis(col("w.start")).as("start_ms"),
        unix_millis(col("w.end")).as("end_ms"),
        col("n_events"))

  /** Sessionization: a session ends after `gapMinutes` of user inactivity.
    * Batch implementation via lag + cumulative sum (`sessionWindows` above
    * is the streaming-native twin; session grouping is identical).
    *
    * All ordering/arithmetic happens on epoch MILLISECONDS (`unix_millis`),
    * not raw timestamps: the source carries ns precision that Spark
    * truncates to µs, so ms is the finest granularity at which a DuckDB
    * oracle over the original file sees identical values.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    events
      .withColumn("ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMinutes * 60000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).cast("long").as("n_events"),
        min(col("ms")).as("start_ms"),
        max(col("ms")).as("end_ms"))
  }
}
