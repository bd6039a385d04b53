package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's stateful operators
  * (SURVEY.md §2D). The transforms are the SAME expressions as the batch
  * layer — a streaming DataFrame flows through unchanged decode/mapping
  * stages (the reference's source→mapping→sink spine,
  * `IncomingRequestProcessor.java:140-164`); only the stateful tail differs.
  * Two families of stateful tail:
  *
  *  - Spark's own watermarked operators: session windows, window counts,
  *    within-watermark dedup and the interval joins. Their state expires
  *    with the watermark.
  *  - The keyed folds (anomaly, EWMA, CUSUM, near-dup, co-occurrence,
  *    KMV, top-k, funnel, t-digest, CDC, and the slot memory of
  *    [[graft.state.DuplicateMemory.flagDuplicates]], which
  *    [[flagDuplicatesStream]] views typed): each keeps one bounded state
  *    value per key and folds every micro-batch's rows into it through
  *    [[keyedFold]], the one stateful shell. Their keys never expire: a
  *    dormant key keeps its state for the life of the checkpoint.
  */
object Streams {

  /** The one stateful shell behind every keyed fold, over typed rows
    * grouped by a function or DataFrame rows grouped by a column
    * (`groupBy(..).as[K, Row]`, `U`'s encoder `Encoders.row`); on a batch
    * frame it is a plain grouped map. Per key and micro-batch: read the
    * state (or `zero` for a new key), sort the batch's rows by `order`,
    * fold them, store the new state and emit the fold's rows, with no
    * timeout and in output mode `mode`.
    *
    * `order` must be total over the rows of one key (ties broken by the
    * remaining fields), so the fold sees the same sequence whatever order
    * the shuffle delivers rows in: a replayed micro-batch rebuilds the same
    * state and emits the same rows, the deterministic batch that
    * exactly-once recovery needs. `zero` is evaluated per key, so a fold
    * may mutate its state in place. */
  private[graft] def keyedFold[K, T, S: Encoder, U: Encoder](
      groups: KeyValueGroupedDataset[K, T], mode: OutputMode)(order: Ordering[T], zero: => S)(
      fold: (K, S, Seq[T]) => (S, Iterator[U])): Dataset[U] =
    groups.flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout) {
      (k: K, batch: Iterator[T], state: GroupState[S]) =>
        val (next, out) = fold(k, state.getOption.getOrElse(zero), batch.toVector.sorted(order))
        state.update(next)
        out
    }

  /** The typed rows a DataFrame twin folds: `cols` projected, and any row
    * with a null in them dropped. A null would fail the non-nullable typed
    * decode and stop the query, not just skip the row. */
  private def nonNullRows[T: Encoder](events: DataFrame, cols: Column*): Dataset[T] = {
    val projected = events.select(cols: _*)
    projected.where(projected.columns.map(c => projected(c).isNotNull).reduce(_ && _)).as[T]
  }

  // Typed tuple fields decode SQL nulls as null, so string order is
  // null-safe (nulls first); doubles order totally (NaN last, -0.0 < 0.0).
  private implicit val nullableStrings: Ordering[String] =
    Ordering.Option(Ordering.String).on[String](Option(_))
  private implicit val totalDoubles: Ordering[Double] = Ordering.Double.TotalOrdering

  /** Sliding-inactivity sessionization (30-min default, reference
    * `BrowserSourceConfiguration.java:40`): `session_window` under a
    * watermark; emits one row per closed session. State is keyed by
    * (partyId, window) and scales horizontally with the shuffle. */
  def sessionize(events: DataFrame, partyCol: String, tsCol: String,
                 gap: String = "30 minutes", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(partyCol), session_window(col(tsCol), gap))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select(col(partyCol), col("n_events"), col("session_start"), col("session_end"))

  /** Duplicate REMOVAL in streaming: state-bounded exact dedup on the event
    * key within the watermark horizon — the filtering counterpart of the
    * reference's flag-only memory (`Mapping.java:102-126`
    * discard_duplicates). */
  def dropDuplicates(events: DataFrame, tsCol: String, keyCols: Seq[String],
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming duplicate FLAGGING on typed events: a typed view of
    * [[graft.state.DuplicateMemory.flagDuplicates]], the one slot memory
    * (its scaladoc states when a stream flags what the batch flags).
    *
    * Input: (partyId, sessionId, eventId, tsMillis), the ids hashed, the
    * party first in a slot's order and tsMillis the arrival time. Output
    * adds `duplicate`. Flag-not-filter, exactly like the reference. */
  def flagDuplicatesStream(
      events: Dataset[(String, String, String, Long)],
      slotCount: Int = 1 << 20): Dataset[(String, String, String, Long, Boolean)] = {
    import events.sparkSession.implicits._
    graft.state.DuplicateMemory.flagDuplicates(events.toDF(), Seq("_1", "_2", "_3"), "_1", "_4", slotCount)
      .withColumnRenamed("duplicate", "_5").as[(String, String, String, Long, Boolean)]
  }

  /** Online per-user anomaly flagging — the streaming form of the batch
    * [[graft.queries.EventQueries.anomaly]] z-score detector. Keyed state
    * holds each user's EXACT integer moments (n, sum, sum-of-squares of the
    * scaled value — longs, so the running moments are order-exact and
    * mergeable); each arriving event scores against the user's history SO
    * FAR (the online reading of the batch whole-population z) and is then
    * folded into the state. An event flags iff the user already has >= 2
    * prior observations with positive variance and |z| > 3.
    *
    * State per user is three longs, bounded whatever the stream length.
    * Dormant users are never expired: each user ever seen keeps its three
    * longs for the life of the checkpoint, so the state grows with the
    * number of distinct users. Scales horizontally with the state-store
    * shuffle on userId.
    *
    * The moments are EXACT while they fit a long; a hot key in a
    * long-lived stream (~4x10^7 fixture-scale events) would overflow the
    * sum of squares, so when the next event would overflow, the user's
    * history RESTARTS from that event — scoring resumes after two
    * warm-up observations. Values whose square cannot fit a long clamp
    * to ±floor(sqrt(Long.MaxValue)) INSIDE the moments (the emitted
    * value is untouched), so the restart state is always coherent. A
    * brief blind window, never silent garbage (the batch query's 2^53
    * sharding caveat, stream-shaped).
    *
    * Input: (userId, eventId, tsMillis, valueScaled). Output adds
    * (z, isAnomaly). Flag-not-filter, like the reference's duplicate flag. */
  def anomalyStream(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Option[Double], Boolean)] = {
    import events.sparkSession.implicits._
    keyedFold(events.groupByKey(_._1), OutputMode.Append)(
      Ordering.by(r => (r._3, r._2, r._4)), (0L, 0L, 0L)) { (_, moments, rows) =>
      var (n, s, sq) = moments
      val out = rows.map { case (user, event, ts, v) =>
        val z =
          if (n >= 2) {
            val nd = n.toDouble
            val variance = (sq.toDouble - s.toDouble * s.toDouble / nd) / (nd - 1)
            if (variance > 0)
              Some((v.toDouble - s.toDouble / nd) / math.sqrt(variance))
            else None
          } else None
        // 3037000499 = floor(sqrt(Long.MaxValue)): beyond it v*v is
        // unrepresentable. CLAMP the value folded into the MOMENTS
        // (the emitted value stays raw) so (n, s, sq) are always a
        // coherent triple — the old saturate-then-zero restart left
        // sq inconsistent with s and variance pinned negative for
        // that user ~forever. Long.MinValue needs its own arm
        // (math.abs wraps negative on it).
        val vm =
          if (v == Long.MinValue || v < -3037000499L) -3037000499L
          else if (v > 3037000499L) 3037000499L
          else v
        val vsq = vm * vm
        if (vsq > Long.MaxValue - sq ||
            math.abs(s) > Long.MaxValue - math.abs(vm)) {
          // accumulator (not value) overflow: restart the history
          // from this event with CONSISTENT moments
          n = 1; s = vm; sq = vsq
        } else {
          n += 1; s += vm; sq += vsq
        }
        (user, event, ts, v, z, z.exists(math.abs(_) > 3.0))
      }
      ((n, s, sq), out.iterator)
    }
  }

  /** Online per-user EWMA — the streaming form of the batch
    * [[graft.queries.EventQueries.ewma]]: keyed state holds each user's
    * last [[graft.functions.Ewma.WindowSize]] scaled values (oldest
    * first) and each arriving event emits the IDENTICAL truncated fold
    * ([[graft.functions.Ewma.fold]] — shared, so batch/stream parity
    * holds by construction; StateSpec pins it). State per user is a
    * bounded 20-long vector.
    *
    * Input: (userId, eventId, tsMillis, valueScaled). Output adds the
    * EWMA (rounded 6, like the batch query). */
  def ewmaStream(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)])
      : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Double)] = {
    import events.sparkSession.implicits._
    val win = graft.functions.Ewma.WindowSize
    keyedFold(events.groupByKey(_._1), OutputMode.Append)(
      Ordering.by(r => (r._3, r._2, r._4)), List.empty[Long]) { (_, last, rows) =>
      var hist = last
      val out = rows.map { case (user, event, ts, v) =>
        hist = (hist :+ v).takeRight(win)
        val e = BigDecimal(graft.functions.Ewma.fold(hist))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (user, event, ts, v, e)
      }
      (hist, out.iterator)
    }
  }

  /** Streaming one-sided CUSUM drift detector — the live-monitoring form
    * of the batch [[graft.queries.EventQueries.cusum]] change detector.
    * The batch query scores deviations against the series' OWN mean,
    * which a stream cannot know; the production monitor runs against a
    * configured reference rate (an SLO target or trailing-window mean),
    * so `ref` and the slack allowance arrive as parameters here. Per key,
    * each period count x updates the classic Page (1954) recursion in
    * exact integer arithmetic:
    *
    *   S := max(0, S + (x - ref) - slack),   alarm when S > h
    *
    * State per key is ONE long — bounded regardless of stream length,
    * the same state-bounds story as the other keyed folds (pinned in
    * StateSpec).
    *
    * Input: (key, periodId, x) with periodId ordering ties within a
    * micro-batch. Output: (key, periodId, x, s, isAlarm). */
  def cusumStream(counts: org.apache.spark.sql.Dataset[(String, Long, Long)],
                  ref: Long, slack: Long, h: Long)
      : org.apache.spark.sql.Dataset[(String, Long, Long, Long, Boolean)] = {
    import counts.sparkSession.implicits._
    keyedFold(counts.groupByKey(_._1), OutputMode.Append)(
      Ordering.by(r => (r._2, r._3)), 0L) { (_, s0, rows) =>
      var s = s0
      val out = rows.map { case (key, period, x) =>
        s = math.max(0L, s + (x - ref) - slack)
        (key, period, x, s, s > h)
      }
      (s, out.iterator)
    }
  }

  /** Windowed event-rate rollup (the monitoring aggregate the reference
    * delegates downstream): tumbling-window counts per event type. */
  def windowedCounts(events: DataFrame, tsCol: String, typeCol: String,
                     window: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(typeCol), col("n"))

  /** Chained stateful streaming: hourly rollup OVER the sessionization
    * output — sessions close under the watermark, then a second stateful
    * aggregate counts closed sessions and their event volume per start
    * hour (Spark's multiple-stateful-operator support; the batch analog is
    * `EventQueries.sessionStats`). Demonstrates that session records are
    * first-class streaming rows: any downstream windowed aggregate
    * composes without a round trip through storage. */
  def sessionRollup(events: DataFrame, partyCol: String, tsCol: String,
                    gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(partyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      // chained stateful op: the watermark PROPAGATES through the first
      // aggregate, and the event-time tag rides on the session_window
      // STRUCT — passing that struct to window() (not a plain field of
      // it) is what makes the second stateful aggregate legal in append
      // mode; the hourly bucket keys on the session's event time
      // (window_time = session end - 1µs)
      .groupBy(window(col("session_window"), "1 hour"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
      .select(col("window.start").as("hour_start"),
        col("n_sessions"), col("n_events"))

  /** Streaming MinHash/LSH near-duplicate detection — the stream-shaped
    * form of the batch `DocQueries.crossDedup` daily-ingest pattern: the
    * persisted base index becomes keyed state store entries, one per LSH
    * band bucket, and every arriving document probes the buckets its
    * signature lands in.
    *
    * State per bucket is ONE (canonical doc_id, 64-long signature) — the
    * first document ever seen in that bucket — so state size tracks the
    * number of distinct band buckets (sublinear in documents, the same
    * asymptotics as the batch base index), never the stream length. A
    * colliding arrival emits a candidate row `(doc_id, canonical_doc_id,
    * est_jaccard)` where est_jaccard is the MinHash estimate (matching
    * signature positions / k — the unbiased Jaccard estimator), computed
    * against the state-resident signature with no second lookup.
    *
    * A document with a null text is skipped: it joins no bucket and
    * emits nothing.
    *
    * Output is the CANDIDATE stream, at most `bands` rows per document;
    * the per-document verdict (any candidate with est >= threshold) is one
    * ordinary batch `groupBy(doc_id)` away in the consumer — kept out of
    * this operator so the query needs a single stateful stage (append
    * mode, no watermark coupling). Band layout (k=64, 8 rows x 8 bands)
    * matches the batch operators, so a document near-dups here iff it
    * would band-collide in `minhashLsh`'s candidate stage.
    *
    * Ordering: within a micro-batch, bucket occupants process in
    * (doc_id, signature) order (deterministic replay); across batches,
    * arrival order rules — exactly the incremental-ingest semantics of
    * crossDedup. */
  def nearDupStream(docs: org.apache.spark.sql.Dataset[(Long, String)],
                    k: Int = 64, bandRows: Int = 8)
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import docs.sparkSession.implicits._
    import scala.collection.immutable.ArraySeq
    import scala.math.Ordering.Implicits.seqOrdering
    val bands = k / bandRows
    val banded = docs.flatMap { case (docId, text) =>
      if (text == null) Nil // no shingles: the document never enters a bucket
      else {
        val sig = graft.functions.MinHash.signatureFromText(text, k)
        (0 until bands).map { b =>
          val key = new StringBuilder().append(b)
          var i = b * bandRows
          while (i < (b + 1) * bandRows) { key.append(':').append(sig(i)); i += 1 }
          (key.toString, docId, sig)
        }
      }
    }
    keyedFold(banded.groupByKey(_._1), OutputMode.Append)(
      Ordering.by(r => (r._2, ArraySeq.unsafeWrapArray(r._3))),
      null: (Long, Array[Long])) { (_, first, rows) =>
      var canon = first
      val out = Seq.newBuilder[(Long, Long, Double)]
      rows.foreach { case (_, docId, sig) =>
        if (canon == null) canon = (docId, sig)
        else if (docId != canon._1) {
          var matches = 0
          var i = 0
          while (i < k) { if (sig(i) == canon._2(i)) matches += 1; i += 1 }
          out += ((docId, canon._1, matches.toDouble / k))
        }
      }
      (canon, out.result().iterator)
    }
  }

  /** Streaming item co-occurrence maintenance — the incremental form of the
    * batch item-item similarity's pair counting
    * ([[graft.queries.EventQueries]] `itemSim`): state per user is the
    * distinct-item set seen so far (bounded by `cap` in arrival order — the
    * streaming analog of the batch frequency cap), and each newly-seen item
    * emits one canonical (i < j) delta pair per already-held item. A plain
    * downstream count over the emitted pairs IS the live co-occurrence
    * table; when no user exceeds the cap, the accumulated counts equal the
    * batch pair counts over the union of all batches regardless of batch
    * boundaries (pinned by CoocStreamSpec against an order-independent
    * brute force). State: ≤ cap ints per user; emission: ≤ cap pairs per
    * arrival — the batch operator's C²/2-per-user bound, paid
    * incrementally. Within-batch arrivals process in item order so a batch
    * is deterministic under shuffle. Append mode. */
  def coocStream(interactions: org.apache.spark.sql.Dataset[(Long, Int)],
                 cap: Int = 32)
      : org.apache.spark.sql.Dataset[(Int, Int)] = {
    import interactions.sparkSession.implicits._
    keyedFold(interactions.groupByKey(_._1), OutputMode.Append)(
      Ordering.by(_._2), Seq.empty[Int]) { (_, seen, rows) =>
      var held = seen
      val out = Seq.newBuilder[(Int, Int)]
      rows.foreach { case (_, item) =>
        if (!held.contains(item) && held.size < cap) {
          held.foreach { e =>
            out += ((math.min(item, e), math.max(item, e)))
          }
          held = held :+ item
        }
      }
      (held, out.result().iterator)
    }
  }

  /** Stream-stream attribution join: every (view, purchase) pair for the
    * same user where the purchase lands within `windowSpec` after the
    * view — the streaming form of `EventQueries.attribution` (the batch
    * form additionally picks the LATEST view; a streaming consumer does
    * that per-purchase downstream or via a chained max-aggregate).
    *
    * Both sides are watermarked so Spark bounds the join state: a
    * buffered view can be dropped once the purchase-side watermark passes
    * view_ts + window, which is exactly the interval condition's reach.
    * State is keyed on user_id and scales with the shuffle like every
    * other stateful operator here. */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      userCol: String = "user_id",
                      viewTs: String = "view_ts", purchaseTs: String = "purchase_ts",
                      window: String = "1 hour",
                      watermark: String = "10 minutes"): DataFrame = {
    val v = views.withWatermark(viewTs, watermark)
    val p = purchases.withWatermark(purchaseTs, watermark)
    v.join(p,
      v(userCol) === p(userCol) &&
        col(purchaseTs) >= col(viewTs) &&
        col(purchaseTs) <= col(viewTs) + expr(s"INTERVAL $window"),
      "inner")
      .drop(p(userCol))
  }

  /** Streaming KMV distinct-count — the cross-batch form of the batch
    * `evt_kmv_overlap` sketches: per group (e.g. event type), state is the
    * k smallest 60-bit md5 hashes seen so far (KMV is trivially mergeable,
    * so each micro-batch folds into the same bounded array), and every
    * batch emits the group's refreshed distinct estimate — exact below k,
    * (k-1)/kth-fraction above. State is k longs per group regardless of
    * stream length; the same hash as the batch operator, so a streaming
    * estimate equals the batch estimate over the union of all batches
    * (StateSpec pins this). Update output mode: one row per group touched
    * by the batch. */
  def kmvDistinctStream(events: DataFrame, typeCol: String = "event_type",
                        keyCol: String = "key", k: Int = 256): DataFrame = {
    import events.sparkSession.implicits._
    // the batch kmvOverlap drops null hashes via collect_set, so dropping
    // null rows keeps stream/batch parity
    val hashed = nonNullRows[(String, Long)](events,
      col(typeCol).cast("string"), graft.functions.Kmv.hash(col(keyCol)))
    keyedFold(hashed.groupByKey(_._1), OutputMode.Update)(
      Ordering.by(_._2), Array.empty[Long]) { (t, prev, rows) =>
      val merged = (prev ++ rows.map(_._2)).distinct.sorted.take(k)
      (merged, Iterator.single((t, merged.length, graft.functions.Kmv.estimateArr(k, merged))))
    }.toDF("event_type", "sketch_size", "distinct_est")
  }

  /** Streaming cross-batch top-k per group — the stream form of the batch
    * `evt_topk_agg` operator, and deliberately the SAME buffer logic: state
    * is [[graft.functions.TopK.TopKByValue]]'s <= k descending (value, id)
    * array, each micro-batch folds in through the aggregator's own
    * `reduce`, and every batch emits the group's refreshed ranking. Because
    * the state IS the batch aggregator's buffer, the streaming result
    * after any prefix of batches equals the batch operator over the union
    * of those batches — bit-exact, not approximately (spec pins this).
    * State is k pairs per group regardless of stream length. Update mode. */
  def topKStream(events: DataFrame, typeCol: String = "event_type",
                 idCol: String = "event_id", valueCol: String = "value",
                 k: Int = 5): DataFrame = {
    import events.sparkSession.implicits._
    val agg = new graft.functions.TopK.TopKByValue(k)
    val valued = nonNullRows[(String, Double, Long)](events,
      col(typeCol).cast("string"), col(valueCol).cast("double"), col(idCol).cast("long"))
    keyedFold(valued.groupByKey(_._1), OutputMode.Update)(
      Ordering.by(r => (r._2, r._3)), agg.zero) { (t, prev, rows) =>
      val buf = rows.foldLeft(prev) { case (b, (_, v, id)) => agg.reduce(b, (v, id)) }
      (buf, buf.iterator.zipWithIndex.map { case ((v, id), i) => (t, i + 1, id, v) })
    }.toDF("event_type", "rank", "event_id", "value")
  }

  /** Streaming funnel tracker — the real-time form of the batch funnel
    * family (`evt_funnel`/`evt_window_funnel`): per user, a stage pointer
    * advances when the NEXT stage's event arrives with event-time >= the
    * time the previous stage was reached. State is O(1) per user
    * ((stage, ts) — never the event history), which forces the honest
    * streaming contract: event-time order WITHIN each micro-batch (the
    * batch is sorted by (ts, id) before folding, so shuffle arrival order
    * can never change results), arrival order ACROSS batches — a
    * cross-batch late event cannot rewind the pointer (the exact-rewind
    * variant needs unbounded per-stage history; the batch operators own
    * that semantics). Update mode: every batch re-emits each touched
    * user's (stage_reached, stage_ts). */
  def funnelStream(events: DataFrame,
                   stages: Seq[String] = Seq("view", "click", "purchase"),
                   userCol: String = "user_id", typeCol: String = "event_type",
                   tsCol: String = "ts_ms", idCol: String = "event_id"): DataFrame = {
    import events.sparkSession.implicits._
    val stageArr = stages.toArray
    // a stage match on a null type is meaningless, so those rows drop too
    val typed = nonNullRows[(Long, String, Long, Long)](events,
      col(userCol).cast("long"), col(typeCol).cast("string"),
      col(tsCol).cast("long"), col(idCol).cast("long"))
    keyedFold(typed.groupByKey(_._1), OutputMode.Update)(
      Ordering.by(r => (r._3, r._4, r._2)), (0, Long.MinValue)) { (u, prev, rows) =>
      var (stage, lastTs) = prev
      rows.foreach { case (_, t, ts, _) =>
        if (stage < stageArr.length && t == stageArr(stage) && ts >= lastTs) {
          stage += 1
          lastTs = ts
        }
      }
      ((stage, lastTs), Iterator.single((u, stage, if (stage == 0) None else Some(lastTs))))
    }.toDF("user_id", "stage_reached", "stage_ts")
  }

  /** Streaming cross-batch quantile monitor — the stream form of the batch
    * `evt_tdigest` operator, sharing its sketch outright: state per group
    * is [[graft.functions.TDigest]]'s own fixed aggregation buffer (O(δ),
    * ~32 KB), each micro-batch folds raw values through the same
    * `fold`/compress path, and every batch emits the refreshed quantile
    * estimates plus the exact observation count. Unlike [[topKStream]]
    * the digest is batching-SENSITIVE (centroid boundaries shift with
    * arrival order), so bit-parity with the batch operator is the wrong
    * contract; the right one — weight (count) conserved exactly, every
    * emitted quantile's rank error within the batch gate's bound against
    * the exact CDF of everything seen so far — is what `TDigestStreamSpec`
    * measures after each batch. Within a batch, values fold in ascending
    * order, so a replayed batch rebuilds the same buffer. Rows with a null
    * type or value are dropped (the batch operator's event_type join drops
    * null types too). Update mode; state never grows with the stream. */
  def tdigestStream(events: DataFrame, typeCol: String = "event_type",
                    valueCol: String = "value",
                    qs: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    import events.sparkSession.implicits._
    import graft.functions.TDigest
    val quantiles = qs.toArray
    val valued = nonNullRows[(String, Double)](events,
      col(typeCol).cast("string"), col(valueCol).cast("double"))
    keyedFold(valued.groupByKey(_._1), OutputMode.Update)(
      Ordering.by(_._2), TDigest.emptyBuffer) { (t, prev, rows) =>
      val buf = rows.foldLeft(prev) { case (b, (_, v)) => TDigest.fold(b, v) }
      val dig = TDigest.snapshot(buf)
      val n = math.round(TDigest.weight(dig))
      (buf, quantiles.iterator.map(q => (t, n, q, TDigest.quantile(dig, q))))
    }.toDF("event_type", "n", "q", "est")
  }

  /** Streaming linear multi-touch attribution — the stream-stream form of
    * the batch `evt_multitouch` operator
    * ([[graft.queries.EventQueries.multitouch]]): every view within
    * `window` BEFORE a purchase of the same user shares that purchase's
    * credit equally. Two chained stateful operators: the
    * watermark-bounded interval join ([[attributionJoin]]) emits every
    * (purchase, view) match as it becomes known; a downstream per-purchase
    * event-time aggregation closes once the watermark passes the
    * purchase's tumbling window, counts the touches, and fans the matches
    * back out with integer-ppm credit (`1000000 DIV n` — the batch
    * operator's bit-exact split). A purchase's touch set is complete when
    * its window closes because qualifying views all precede the purchase.
    *
    * State is watermark-bounded on both levels: the join holds `window` of
    * views per user; the aggregation holds one in-flight row per open
    * purchase. Both shuffle on keys that scale with the stream (user;
    * purchase), never on a global key. */
  def multitouchStream(views: DataFrame, purchases: DataFrame,
                       userCol: String = "user_id",
                       viewId: String = "view_id", purchaseId: String = "purchase_id",
                       viewTs: String = "view_ts", purchaseTs: String = "purchase_ts",
                       window: String = "24 hours",
                       watermark: String = "0 seconds"): DataFrame =
    attributionJoin(views, purchases, userCol, viewTs, purchaseTs, window, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(purchaseTs), window),
        col(purchaseId), col(userCol))
      .agg(sort_array(collect_list(col(viewId))).as("views"),
        count(lit(1)).as("n_touches"))
      .select(col(purchaseId), col(userCol),
        explode(col("views")).as(viewId),
        col("n_touches"),
        expr("1000000L DIV n_touches").as("credit_ppm"))

  /** Streaming CDC (type-1) merge — the cross-batch form of the batch
    * [[graft.queries.EventQueries.cdcMerge]]: keyed state holds each key's
    * current (sequence, state) and every arriving change applies
    * last-writer-wins on the (tsMillis, eventId) sequence. The strict
    * sequence compare makes the operator REPLAY-IDEMPOTENT by
    * construction: a replayed or reordered change with a smaller sequence
    * never overwrites, so at-least-once upstream delivery yields
    * exactly-once state. Tombstones (`isTombstone` on the change type)
    * keep their sequence in state — a late change older than the tombstone
    * must lose — and surface with `deleted = true` so a sink can issue the
    * delete downstream (emission is Update-mode: each key's post-batch
    * state, every batch the key is touched). Changes sharing a
    * (tsMillis, eventId) sequence resolve by (changeType, valueScaled)
    * order, the first one winning, so a replayed batch picks the same one.
    *
    * State per key is ONE compacted row (seq + state), independent of
    * history length — the invariant that lets the stream run forever.
    * Scales horizontally with the state-store shuffle on the key.
    *
    * Input: (key, tsMillis, eventId, changeType, valueScaled). Output:
    * (key, stateType, valueScaled, updatedMs, deleted). */
  def cdcStream(
      changes: org.apache.spark.sql.Dataset[(Long, Long, Long, String, Option[Long])],
      isTombstone: String => Boolean = _ == "error")
      : org.apache.spark.sql.Dataset[(Long, String, Option[Long], Long, Boolean)] = {
    import changes.sparkSession.implicits._
    keyedFold(changes.groupByKey(_._1), OutputMode.Update)(
      Ordering.by(r => (r._2, r._3, r._4, r._5)),
      (Long.MinValue, Long.MinValue, "", None: Option[Long], true)) { (key, prev, rows) =>
      var cur = prev
      rows.foreach { case (_, ts, eid, typ, v) =>
        if (ts > cur._1 || (ts == cur._1 && eid > cur._2))
          cur = (ts, eid, typ, v, isTombstone(typ))
      }
      (cur, Iterator.single((key, cur._3, cur._4, cur._1, cur._5)))
    }
  }

  /** Streaming decontamination — the live-ingest form of
    * [[graft.queries.DocQueries.decontaminateBloom]]: a STATELESS per-row
    * probe against a broadcast Bloom filter over the published benchmark
    * fingerprint set, rebuilt only when the benchmark publication at
    * `benchPath` changes (hot reload rides [[graft.functions.RefreshableDim]]
    * — the same swap-at-batch-boundary semantics as the UA/geo databases:
    * a republished set is picked up at the next micro-batch with no query
    * restart, and in-flight tasks keep the broadcast they started with).
    *
    * Call inside `foreachBatch`: that boundary is where Spark provides
    * atomicity, and the probe itself adds no streaming state — the 100-TB
    * daily-ingest shape is a map-only pass per batch, no shuffle, no
    * watermark. No false negatives; FP rate ≤ `fpp` over the set size at
    * build time (a production pipeline re-checks the tiny flagged subset
    * exactly, [[graft.queries.DocQueries.flagContaminated]]). */
  def decontaminateBatch(batch: DataFrame, benchPath: String,
                         fpCol: String = "fingerprint",
                         fpp: Double = 0.01): DataFrame = {
    val spark = batch.sparkSession
    val bloomBc = graft.functions.RefreshableDim.derived(
      spark, benchPath, s"bloom:$fpCol:$fpp") { dim =>
      dim.stat.bloomFilter(fpCol, math.max(dim.count(), 1L), fpp)
    }
    val probe = udf((s: String) => s != null && bloomBc.value.mightContainString(s))
    batch.withColumn("maybe_contaminated", probe(col(fpCol)))
  }

  /** Streaming WordPiece tokenize-at-ingest — the live form of
    * [[graft.queries.DocQueries.wordpieceTok]]'s encode stage: a trained
    * vocabulary published as parquet (p, cont) — the exact frame
    * [[graft.queries.DocQueries.wordpieceVocab]] writes — is hot-loaded via
    * [[graft.functions.RefreshableDim]], derived once per publication into
    * two broadcast positional piece sets, and applied as ONE NARROW per-row
    * pass per micro-batch (broadcast model + map: no shuffle, no streaming
    * state, no watermark — the 100-TB ingest shape). A republished
    * vocabulary is picked up at the next micro-batch boundary with no query
    * restart; in-flight tasks keep the broadcast they started with.
    *
    * The greedy walk is [[graft.functions.WordPiece.encodeGreedy]] — the
    * same code the oracled batch operator runs, so live and batch
    * tokenization cannot drift. Output: input columns + n_words, n_pieces,
    * and an order-sensitive md5 over the full piece stream. */
  def wordpieceBatch(batch: DataFrame, vocabPath: String,
                     textCol: String = "text",
                     maxPiece: Int = 6): DataFrame = {
    val spark = batch.sparkSession
    val bc = graft.functions.RefreshableDim.derived(
      spark, vocabPath, s"wp-vocab:$maxPiece") { dim =>
      val vocab = dim.select(col("p"), col("cont")).collect()
        .map(r => (r.getString(0), r.getInt(1)))
      (vocab.collect { case (p, 0) => p }.toSet,
       vocab.collect { case (p, 1) => p }.toSet)
    }
    val passThrough = batch.columns.map(col).toIndexedSeq
    batch
      .withColumn("__tk", split(trim(col(textCol)), graft.functions.MinHash.WsRe))
      .withColumn("__e", graft.functions.GraftFunctions.wordpieceEncodeAll(
        col("__tk"), bc, maxPiece))
      .select(passThrough ++ Seq(
        // count NON-EMPTY tokens: split yields [""] for blank text (and ""
        // edges around leading \t/\n), and the encoder skips empty tokens —
        // n_words must agree with the piece stream (0 words → 0 pieces),
        // not report the split artifact.
        size(array_remove(col("__tk"), "")).as("n_words"),
        col("__e.nPieces").as("n_pieces"),
        col("__e.md5").as("wp_md5")): _*)
  }

  /** Streaming BPE encode-at-ingest: the merge table published as parquet
    * (rank, left, right) — [[graft.queries.DocQueries.bpeTrain]]'s frame —
    * hot-loads via [[graft.functions.RefreshableDim]] into a broadcast rank
    * map, then the batch applier [[graft.queries.DocQueries.bpeEncodeOn]]
    * runs unchanged per micro-batch. Same shape and refresh semantics as
    * [[wordpieceBatch]]. */
  def bpeEncodeBatch(batch: DataFrame, mergesPath: String): DataFrame = {
    val spark = batch.sparkSession
    val bc = graft.functions.RefreshableDim.derived(
      spark, mergesPath, "bpe-merges") { dim =>
      dim.select(col("left"), col("right"), col("rank")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    }
    graft.queries.DocQueries.bpeEncodeOn(batch, bc)
  }
}
