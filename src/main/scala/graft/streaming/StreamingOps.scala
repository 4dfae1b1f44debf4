package graft.streaming

import graft.core._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable

/** Streaming variants of the engine's operators on Structured Streaming —
  * the Spark-native equivalent of the reference's unbounded-PCollection path
  * (watermark manager execution.py:374-390; bundle loop ray_fn_runner.py:268-297
  * becomes the micro-batch; timers fire when the watermark passes, matching
  * ray_fn_runner.py:385-459 event-time-only semantics).
  */
object StreamingOps {

  /** Tumbling/sliding windowed aggregation with a watermark: the fast path
    * for WindowInto(Fixed/Sliding)+GBK on a stream (SURVEY.md §4: standard
    * WindowFns rewrite onto native `window()`).
    *
    * @param slide pass `size` (or omit) for tumbling windows
    */
  def windowedCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      size: String, slide: Option[String] = None,
      watermarkDelay: String = "10 seconds"): DataFrame = {
    val win = slide match {
      case Some(s) => window(col(tsCol), size, s)
      case None => window(col(tsCol), size)
    }
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), win.as("window"))
      .agg(count(lit(1)).as("n"))
      .select(col(keyCol), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n"))
  }

  /** Session windows on a stream via native `session_window` — the streaming
    * counterpart of Sessions+GBK (ray_runner_test.py:880-890 semantics).
    * ONE definition of the session topology: every session-window consumer
    * (sessionCounts, the d148 battery row) routes through here so a
    * watermark or gap-semantics fix lands everywhere at once.
    */
  def sessionAggregate(
      events: DataFrame, tsCol: String, keyCol: String, gap: String,
      aggs: Seq[Column], watermarkDelay: String = "10 seconds"): DataFrame = {
    require(aggs.nonEmpty, "sessionAggregate needs at least one aggregate")
    val g = events.withWatermark(tsCol, watermarkDelay)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("session"))
      .agg(aggs.head, aggs.tail: _*)
    val aggOut = g.columns.drop(2).map(col).toSeq // key, session, then aggs
    g.select(col(keyCol) +: col("session.start").as("session_start") +:
      col("session.end").as("session_end") +: aggOut: _*)
  }

  def sessionCounts(
      events: DataFrame, tsCol: String, keyCol: String,
      gap: String, watermarkDelay: String = "10 seconds"): DataFrame =
    sessionAggregate(events, tsCol, keyCol, gap,
      Seq(count(lit(1)).as("n")), watermarkDelay)

  /** Stream-static broadcast join — the streaming analog of a side input
    * (reference windowed/global side inputs, execution.py:469-525): each
    * micro-batch joins against the static (or slowly-refreshed) dimension,
    * broadcast to every executor.
    */
  def withSideInput(
      stream: DataFrame, side: DataFrame, joinCols: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(side), joinCols, "left")

  /** Streaming tagged-output demux (reference TaggingReceiver semantics,
    * translator.py:180-206): one filtered stream per tag predicate. Each
    * writeStream sink attaches to its own filtered branch.
    */
  def demux(stream: DataFrame, tags: Map[String, org.apache.spark.sql.Column])
      : Map[String, DataFrame] =
    tags.map { case (name, pred) => name -> stream.filter(pred) }

  /** Streaming ParDo: the full DoFn lifecycle per micro-batch partition
    * (one micro-batch partition = one bundle — the batch layer's contract,
    * run by the same `graft.core.Runner.bundle`, finalizers and lazy output
    * included; the reference's ParDo machinery is batch/stream-uniform,
    * translator.py:180-206). Side inputs resolve through the same broadcast
    * [[graft.core.SideInputView]]s as batch — build the view from a static
    * (or slowly refreshed) PCollection and read it with `ctx.sideInput`
    * inside the streaming DoFn (stream-static side input semantics,
    * reference execution.py:469-525).
    */
  def parDoStream[I, O](stream: Dataset[I], fn: DoFn[I, O])(
      implicit oe: Encoder[O]): Dataset[O] =
    stream.mapPartitions { it =>
      Runner.bundle(fn, it.map(WindowedValue.of(_)), Runner.NoTags)
        .map(_._2.value.asInstanceOf[O])
    }

  /** Streaming ParDo with WINDOWED side inputs — the streaming twin of the
    * batch window-mapping path ([[graft.api.PCollection]]`.view`; the
    * reference commits side inputs PER WINDOW and blocks the bundle until
    * the side window is ready, execution.py:469-525). Each element's event
    * timestamp assigns its windows via `windowFn` (multi-assign under
    * sliding windows = k logical elements, the batch parDo contract), and
    * `ctx.sideInput(view)` resolves through the view's window mapping —
    * the LATEST-starting side window containing the main window's max
    * timestamp, identical to batch, because the [[graft.core.SideInputView]]
    * broadcast itself is batch/stream-uniform.
    *
    * The side view comes from a bounded (or slowly re-built) PCollection:
    * Spark cannot broadcast a result that is itself still streaming, so
    * "side input is a stream" becomes "rebuild the view per planned refit"
    * — the stream-static discipline every production monitor uses. The
    * main stream stays fully unbounded.
    */
  def parDoStreamWindowed[I, O](
      stream: Dataset[(I, java.sql.Timestamp)], fn: DoFn[I, O],
      windowFn: WindowFn)(implicit oe: Encoder[O]): Dataset[O] =
    stream.mapPartitions { it =>
      val in = it.map { case (e, ts) =>
        val tms = ts.getTime
        WindowedValue(e, tms, windowFn.assign(tms))
      }
      Runner.bundle(fn, in, Runner.NoTags).map(_._2.value.asInstanceOf[O])
    }

  /** Streaming multi-output ParDo: one pass emits `(tag, value)` (main
    * output under tag ""); filter per tag downstream. Mirrors the batch
    * [[graft.api.PCollection.parDoTagged]] on unbounded input — the
    * reference's TaggingReceiver treats both identically
    * (translator.py:180-206).
    *
    * Note on sinks: a stream cannot materialize the demux point the way the
    * batch path checkpoints it, so attaching N sinks to N filtered branches
    * re-executes the DoFn N times; to run it once, attach ONE sink to this
    * dataset (or use `foreachBatch` and split the batch DataFrame).
    */
  def parDoTaggedStream[I, O](stream: Dataset[I], fn: DoFn[I, O]): Dataset[(String, Any)] = {
    implicit val enc: Encoder[(String, Any)] =
      Encoders.tuple(Encoders.STRING, Encoders.kryo(classOf[Any]))
    stream.mapPartitions { it =>
      Runner.bundle(fn, it.map(WindowedValue.of(_)), None)
        .map { case (tag, wv) => (tag, wv.value) }
    }
  }

  /** Streaming exact dedup: first occurrence per key wins across
    * micro-batches (the ingest-side dedup gate of a training-data pipeline).
    * State is watermark-bounded: a key older than the watermark delay is
    * evicted, so state size tracks the dedup window, not the stream history
    * — the only shape that survives an unbounded 100 TB ingest.
    */
  def dedupExactStream(
      stream: DataFrame, keyCols: Seq[String], tsCol: String,
      watermarkDelay: String): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming decontamination gate: drop arriving docs sharing any
    * verbatim word n-gram with the (static, small-by-contract) eval set —
    * the ingest-side twin of `operators.Decontaminate`. Stateless and
    * per-row: the eval grams ride the plan as a literal array probed by the
    * codegen'd `arrays_overlap`, so the gate adds no shuffle, no state, and
    * works in any output mode. For an eval set too big for a plan literal,
    * swap the probe for `NativeExpressions.bloomMightContain` over
    * per-gram hashes (false positives then over-drop — acceptable for a
    * hygiene gate, never for the batch oracle path).
    */
  def decontaminateStream(
      docs: DataFrame, textCol: String, evalGrams: Seq[String], n: Int): DataFrame = {
    require(evalGrams.nonEmpty, "empty eval gram set would pass everything")
    docs.filter(!arrays_overlap(
      graft.functions.TextFunctions.wordShingles(col(textCol), n),
      typedlit(evalGrams)))
  }

  /** Streaming quality gate — the ingest-side twin of the batch
    * Gopher-style rule filter (the d60 battery thresholds by default):
    * stateless, per-row, entirely inside the scan stage's projection, so
    * it composes with any output mode, adds no state and no shuffle. The
    * rules reuse the SAME column functions as the batch gate — one
    * threshold definition, two execution modes.
    */
  def qualityGateStream(
      docs: DataFrame, textCol: String,
      minTokens: Int = graft.functions.TextFunctions.GopherThresholds.MinTokens,
      minMeanWordLen: Double = graft.functions.TextFunctions.GopherThresholds.MinMeanWordLen,
      maxMeanWordLen: Double = graft.functions.TextFunctions.GopherThresholds.MaxMeanWordLen,
      minStopRatio: Double = graft.functions.TextFunctions.GopherThresholds.MinStopRatio,
      minDistinctRatio: Double = graft.functions.TextFunctions.GopherThresholds.MinDistinctRatio)
      : DataFrame =
    docs.filter(graft.functions.TextFunctions.gopherPass(col(textCol),
      minTokens, minMeanWordLen, maxMeanWordLen, minStopRatio,
      minDistinctRatio))

  /** Streaming z-score anomaly gate — the online twin of the batch
    * `d72_anomaly` query: arriving events are scored against per-key
    * baseline statistics (mean `meanCol` / stddev `sdCol`, computed offline
    * on the standing corpus) and only out-of-band events pass. The baseline
    * joins stream-static with an explicit `broadcast()`: every micro-batch
    * probes a hashed relation that ships once per executor — no per-batch
    * shuffle of the event stream, no state. Re-fitting the baseline is a
    * planned (daily-style) batch job, which is how a production monitor
    * separates the slow fit path from the fast score path.
    *
    * Edge policy — a monitor must never silently swallow the loudest
    * signals, so both degenerate cases surface as anomalies (`z` = NULL):
    *  - a key with NO baseline row (novel key since the last fit) passes
    *    when `passUnknownKeys` is set (the default);
    *  - a degenerate baseline (sd <= 0 or NULL) passes any value that
    *    deviates from the mean at all — the key never varied during the
    *    fit, so any deviation is infinitely out-of-band.
    */
  def anomalyGateStream(
      events: DataFrame, keyCol: String, valueCol: String,
      baseline: DataFrame, zThreshold: Double,
      meanCol: String = "m", sdCol: String = "sd",
      passUnknownKeys: Boolean = true): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive: $zThreshold")
    val stats = baseline.select(col(keyCol),
      col(meanCol).cast("double").as("__m"), col(sdCol).cast("double").as("__sd"))
    events.join(broadcast(stats), Seq(keyCol), "left_outer")
      .withColumn("z",
        when(col("__sd") > 0, (col(valueCol) - col("__m")) / col("__sd")))
      .filter(
        (col("__m").isNull && lit(passUnknownKeys)) ||
        (col("__m").isNotNull && (col("__sd").isNull || col("__sd") <= 0) &&
          col(valueCol) =!= col("__m")) ||
        abs(col("z")) > zThreshold)
      .drop("__m", "__sd")
  }

  /** Per-bucket streaming LSH state: the last `maxBucketMembers` (id,
    * signature) pairs seen in one band bucket.
    */
  final case class LshBucketState(members: List[(Long, Array[Long])])

  /** Streaming MinHash-LSH near-duplicate candidates — the ingest-side
    * NEAR-dup gate ([[dedupExactStream]] is the exact one): each arriving
    * doc is signed and banded exactly like the batch
    * `Dedup.minHashLshPairs`, and per band-bucket state holds the recent
    * members; an arrival emits (id1, id2, jaccard_est) against stored
    * members clearing `threshold`.
    *
    * State is doubly bounded — the shape that survives an unbounded ingest:
    * per bucket at most `maxBucketMembers` members (newest win; the cap is
    * also the batch operator's degenerate-bucket defense), and idle buckets
    * expire `stateTtlMs` past the event-time watermark (EventTimeTimeout).
    * A pair may surface once per shared band; sink-side
    * `dropDuplicates(id1, id2)` (cheap on the tiny candidate stream)
    * restores uniqueness.
    */
  def nearDupCandidatesStream(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      watermarkDelay: String,
      shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.5, maxBucketMembers: Int = 256,
      stateTtlMs: Long = 3600L * 1000): DataFrame = {
    require(bands > 0 && numHashes >= bands && numHashes % bands == 0,
      s"numHashes ($numHashes) must be a positive multiple of bands ($bands)")
    val s = docs.sparkSession
    import s.implicits._
    val banded = docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).cast("long").as("__id"),
        graft.plans.NativeExpressions.minHashShingleSignature(
          graft.functions.TextFunctions.tokens(lower(col(textCol))),
          shingleSize, numHashes).as("__sig"),
        col(tsCol).as("__ts"))
      .select(col("__id"), col("__sig"), col("__ts"),
        posexplode(graft.plans.NativeExpressions.bandBuckets(
          col("__sig"), bands, numHashes / bands)))
      .as[(Long, Seq[Long], java.sql.Timestamp, Int, Long)]
    implicit val stateEnc: Encoder[LshBucketState] =
      Encoders.kryo(classOf[LshBucketState])
    def jaccardEst(a: Array[Long], b: Array[Long]): Double = {
      val n = math.min(a.length, b.length)
      if (n == 0) return 0.0
      var eq = 0; var i = 0
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / n
    }
    banded
      .groupByKey { case (_, _, _, band, bucket) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, Long), it: Iterator[(Long, Seq[Long], java.sql.Timestamp, Int, Long)],
            state: GroupState[LshBucketState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
            it.foreach { case (id, sig, _, _, _) =>
              val sa = sig.toArray
              members.foreach { case (mid, msig) =>
                if (mid != id) {
                  val j = jaccardEst(sa, msig)
                  if (j >= threshold)
                    out += ((math.min(id, mid), math.max(id, mid),
                      math.round(j * 1e6) / 1e6))
                }
              }
              if (!members.exists(_._1 == id))
                members = ((id, sa) :: members).take(maxBucketMembers)
            }
            state.update(LshBucketState(members))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, 0L) + stateTtlMs)
            out.iterator
          }
        })
      .toDF("id1", "id2", "jaccard_est")
  }

  /** Micro-batch sink with a post-commit finalization callback — the
    * streaming analog of bundle finalization (reference
    * execution.py:131-139): `commit` writes the batch; `finalize` runs
    * after it returns, at-least-once, exceptions swallowed.
    */
  def foreachBatchFinalized(
      df: DataFrame,
      commit: (DataFrame, Long) => Unit,
      finalize: Long => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      commit(batch, id)
      try finalize(id) catch { case _: Throwable => () }
    }

  /** Streaming stateful ParDo: `flatMapGroupsWithState` with the in-state
    * timer heap pattern (SURVEY.md §7.4 — Spark exposes ONE timeout per key;
    * multiple/dynamic Beam timers become entries in `KeyedState.timers` and
    * the group timeout is set to the min pending fire time).
    *
    * Timers are event-time only, matching the reference
    * (ray_fn_runner.py:98-100). Elements of a micro-batch are processed in
    * timestamp order; timers ≤ the current watermark fire after the batch's
    * elements (and on timeout callbacks between batches).
    */
  def statefulParDo[K, V, O](
      // (key, value, eventTime) — the timestamp column MUST carry a
      // watermark (`.withWatermark` on it, with no object-map in between,
      // or Spark drops the metadata and rejects EventTimeTimeout)
      input: Dataset[(K, V, java.sql.Timestamp)],
      fn: StatefulDoFn[K, V, O])(
      implicit ko: Encoder[K], oo: Encoder[O]): Dataset[O] =
    sweepGroups(input, fn, enforceHold = false)(_._1)((o, _) => o)

  /** [[statefulParDo]] that KEEPS each output's event time — the watermark-
    * hold discipline for timer re-fire chains (reference holds the output
    * watermark at the earliest pending timer, ray_fn_runner.py:446-454, so
    * timer output is never "ahead of the hold"). Here the hold surfaces as
    * the emission's event timestamp: an element emission carries the
    * element's event time, a timer emission carries the TIMER'S FIRE TIME
    * (not the batch watermark the callback happens to run at), and
    * `outputWithTimestamp` may only move FORWARD from that hold (Beam's
    * zero-allowed-skew default — moving backward would fabricate
    * already-late data).
    *
    * Chaining limitation (the part of Beam's hold Spark cannot express):
    * Spark's GLOBAL watermark is not held back by pending timers, so a
    * downstream stateful operator in the SAME query would see timer
    * emissions as late rows — Spark's chained-stateful correctness check
    * rejects the pattern outright. To window timer output, either do the
    * windowing inside the stateful DoFn ([[statefulParDoWindowed]] — the
    * per-(key, window) composite key IS the held window), or hand the
    * timestamped stream off through a sink (`foreachBatch` → table → a
    * follow-up query), where the emission timestamps this variant
    * preserves make the downstream grouping correct.
    */
  def statefulParDoTimestamped[K, V, O](
      input: Dataset[(K, V, java.sql.Timestamp)],
      fn: StatefulDoFn[K, V, O])(
      implicit ko: Encoder[K],
      oo: Encoder[(O, java.sql.Timestamp)]): Dataset[(O, java.sql.Timestamp)] =
    // the timestamp-discarding variants keep their lenient pre-hold
    // behavior — a DoFn that re-stamps buffered elements with their
    // ORIGINAL (pre-timer) times was legal there and stays legal, since the
    // timestamp never leaves the runner
    sweepGroups(input, fn, enforceHold = true)(_._1)(
      (o, ts) => (o, new java.sql.Timestamp(ts)))

  /** Windowed streaming stateful ParDo: state/timers partitioned per
    * (key, fixed window) — the streaming counterpart of the batch
    * per-(key, window) scoping (ray_runner_test.py:505-575). The composite
    * key is (K, windowStart); each window's end-of-window work happens via
    * a timer the DoFn sets at `window.maxTimestamp`.
    */
  def statefulParDoWindowed[K, V, O](
      input: Dataset[(K, V, java.sql.Timestamp)],
      windowSizeMillis: Long,
      fn: StatefulDoFn[(K, Long), V, O])(
      implicit ko: Encoder[(K, Long)], oo: Encoder[O]): Dataset[O] =
    sweepGroups(input, fn, enforceHold = false) { r =>
      val ts = r._3.getTime
      (r._1, ts - java.lang.Math.floorMod(ts, windowSizeMillis))
    }((o, _) => o)

  /** Kryo-persisted state: raw cell values + timer heap. */
  final class StreamState extends Serializable {
    val cells: mutable.Map[String, Any] = mutable.Map.empty
    val timers: mutable.Map[(String, String), Long] = mutable.Map.empty
  }

  /** `flatMapGroupsWithState` over `Runner.sweep`, the batch stateful
    * ParDo's sweep: each call restores the group's cells and timers, sweeps
    * the micro-batch's rows (none on a timeout call) with the group's
    * watermark as both input and firing watermark, then persists what is
    * left. Spark delivers late rows to `flatMapGroupsWithState` regardless;
    * the input watermark drops them (Beam late-data semantics, reference
    * watermark manager execution.py:374-390). An empty group leaves the
    * store; otherwise the single Spark timeout is set to the earliest
    * pending timer.
    */
  private def sweepGroups[K, V, G, O, R](
      input: Dataset[(K, V, java.sql.Timestamp)], fn: StatefulDoFn[G, V, O],
      enforceHold: Boolean)(groupKey: ((K, V, java.sql.Timestamp)) => G)(
      emit: (O, Long) => R)(implicit ge: Encoder[G], re: Encoder[R]): Dataset[R] = {
    implicit val stateEnc: Encoder[StreamState] = Encoders.kryo(classOf[StreamState])
    input
      .groupByKey(groupKey)
      .flatMapGroupsWithState[StreamState, R](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: G, rows: Iterator[(K, V, java.sql.Timestamp)], state: GroupState[StreamState]) =>
          val cells = new StateCells
          state.getOption.foreach { st => cells.cells ++= st.cells; cells.timers ++= st.timers }
          val wm = state.getCurrentWatermarkMs()
          val in = if (state.hasTimedOut) Iterator.empty else rows.map(r => (r._2, r._3.getTime))
          val out = Runner.sweep(fn, key, GlobalWindow, in, cells, wm, wm, enforceHold)
          if (cells.cells.isEmpty && cells.timers.isEmpty) {
            if (state.exists) state.remove()
          } else {
            val st = new StreamState
            st.cells ++= cells.cells
            st.timers ++= cells.timers
            state.update(st)
            // single Spark timeout = min pending Beam timer (must be > watermark)
            if (st.timers.nonEmpty) state.setTimeoutTimestamp(math.max(st.timers.values.min, wm + 1))
          }
          out.map { case (o, ts) => emit(o, ts) }
      }
  }

  /** Order-sensitive streaming EWMA: the streaming twin of
    * [[graft.operators.ScaleOps.ewmaSmoothed]] — per key, a ring buffer of
    * the last `depth − 1` values rides the state store, each arriving row
    * emits the exact power-of-two-weighted average of itself plus the
    * ring (same integer num/den arithmetic as the batch operator, so the
    * emitted doubles are bit-identical to the batch plan's).
    *
    * This is a NEW state shape for the streaming layer: unlike the
    * mergeable-statistic folds (AUC d170, OHLC d183), EWMA state is
    * SEQUENCE-dependent — commutativity does not hold, so correctness
    * needs the ordering contract: rows of one key must arrive in
    * (ts, tie) order ACROSS micro-batches (within a batch the operator
    * sorts the group itself). A bounded backfill gets this by staging
    * files in event-time slices (the battery row does); a production
    * stream gets it from a time-ordered source (e.g. a log partitioned by
    * key with in-partition order, the Kafka-per-key guarantee). State is
    * O(depth) longs per key — no TTL needed at battery scale; a standing
    * deployment wraps this in the usual watermark TTL.
    *
    * Input columns (by name): key, ts, tie, value — all BIGINT.
    * Output: (key, ts, tie, value, ewma).
    */
  /** Order-sensitive streaming last-touch attribution: the streaming twin
    * of [[graft.operators.TemporalJoins.lastTouchAttribution]]. State per
    * key is the latest touch (ts, payload); each conversion row emits
    * with the carried payload when the touch is within `windowMillis`
    * (−1 otherwise — unattributed conversions are part of the answer).
    * Same ordering contract as [[ewmaStream]]: rows of one key must
    * arrive in (ts, tie) order across micro-batches (within a batch the
    * group sorts itself); same-instant ties resolve by the tie column —
    * a touch tied with a conversion attributes only if its tie orders
    * FIRST (strict precedence, matching the batch operator's
    * [unbounded, 1 PRECEDING] frame).
    *
    * Input: (key, ts, tie, kind, payload, value) — kind 1 = touch,
    * 2 = conversion, anything else ignored.
    * Output per conversion: (key, ts, tie, attributedPayload, value).
    */
  def lastTouchStream(input: Dataset[(Long, Long, Long, Int, Long, Double)],
                      windowMillis: Long)
      : Dataset[(Long, Long, Long, Long, Double)] = {
    val session = input.sparkSession
    import session.implicits._
    implicit val stEnc: Encoder[Option[(Long, Long)]] =
      Encoders.kryo(classOf[Option[(Long, Long)]])
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Option[(Long, Long)],
        (Long, Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Int, Long, Double)],
         state: GroupState[Option[(Long, Long)]]) =>
          var touch: Option[(Long, Long)] = state.getOption.flatten
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap {
            case (_, ts, tie, kind, payload, value) =>
              if (kind == 1) { touch = Some((ts, payload)); Nil }
              else if (kind == 2) {
                val attributed = touch match {
                  case Some((tts, p))
                    if windowMillis <= 0 || tts >= ts - windowMillis => p
                  case _ => -1L
                }
                Seq((key, ts, tie, attributed, value))
              } else Nil
          }
          state.update(touch)
          out.iterator
      }
  }

  def ewmaStream(input: Dataset[(Long, Long, Long, Long)],
                 depth: Int): Dataset[(Long, Long, Long, Long, Double)] = {
    require(depth >= 1 && depth <= 32, s"depth out of range: $depth")
    val session = input.sparkSession
    import session.implicits._
    implicit val ringEnc: Encoder[List[Long]] =
      Encoders.kryo(classOf[List[Long]])
    input.groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], (Long, Long, Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[List[Long]]) =>
          var ring = state.getOption.getOrElse(Nil) // most recent first
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).map {
            case (_, ts, tie, x) =>
              val lags = (x :: ring).take(depth)
              val num = lags.zipWithIndex
                .map { case (v, j) => v * (1L << (depth - 1 - j)) }.sum
              val den = lags.indices.map(j => 1L << (depth - 1 - j)).sum
              ring = (x :: ring).take(depth - 1)
              (key, ts, tie, x, num.toDouble / den.toDouble)
          }
          state.update(ring)
          out.iterator
      }
  }

  /** Incrementally-maintained SCD Type-2 change history — the streaming
    * twin of [[graft.operators.ScaleOps.changeHistory]]. State per key is
    * the OPEN run (status, valid_from, n_rows); each arriving row either
    * extends it (same status → n_rows + 1) or closes it (emit with
    * valid_to = the new row's ts, open a fresh run). Closed runs stream
    * out append-only; the still-open run is emitted with valid_to = None
    * only when a `flush` sentinel row (kind = 1) arrives for the key —
    * the AvailableNow battery stages one sentinel per key as the LAST
    * micro-batch, and a production pipeline would flush on retention
    * boundaries the same way. Order contract: rows within a batch are
    * folded in (ts, tie) order; cross-batch order is the caller's file
    * staging (oldest-first), same as [[ewmaStream]].
    *
    * Input: (key, ts, tie, status, kind) — kind 0 = data, 1 = flush.
    * Output: (key, status, valid_from, valid_to: Option, n_rows).
    */
  def scd2Stream(input: Dataset[(Long, Long, Long, String, Int)])
      : Dataset[(Long, String, Long, Option[Long], Long)] = {
    val session = input.sparkSession
    import session.implicits._
    implicit val stEnc: Encoder[Option[(String, Long, Long)]] =
      Encoders.kryo(classOf[Option[(String, Long, Long)]])
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Option[(String, Long, Long)],
        (Long, String, Long, Option[Long], Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, String, Int)],
         state: GroupState[Option[(String, Long, Long)]]) =>
          var cur: Option[(String, Long, Long)] = state.getOption.flatten
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap {
            case (_, _, _, _, kind) if kind == 1 =>
              val closing = cur.map { case (st, vf, n) =>
                (key, st, vf, Option.empty[Long], n)
              }
              cur = None
              closing
            case (_, ts, _, st, _) => cur match {
              case Some((s0, vf, n)) if s0 == st =>
                cur = Some((s0, vf, n + 1)); Nil
              case Some((s0, vf, n)) =>
                cur = Some((st, ts, 1L))
                Seq((key, s0, vf, Some(ts), n))
              case None =>
                cur = Some((st, ts, 1L)); Nil
            }
          }
          // a flushed key must LEAVE the store, not park a kryo'd None
          // there forever — over an unbounded key space with periodic
          // flushes, update(None) grows state with cumulative cardinality
          if (cur.isDefined) state.update(cur) else state.remove()
          out.iterator
      }
  }

  /** Incrementally-maintained interval MERGE — the streaming twin of the
    * batch running-max island plan (battery d209). State per key is the
    * OPEN span (lo, maxHi, n); an arriving interval either overlaps it
    * (lo ≤ maxHi → extend: maxHi = max, n + 1) or clears it (emit the
    * closed span, open fresh). Correctness rests on lo-ordered arrival:
    * within a batch rows fold in (lo, hi, tie) order, across batches the
    * caller's staging must be time-ordered (same contract as
    * [[scd2Stream]]) — then state.maxHi always equals the batch plan's
    * running max over ALL previous ends (any older island's end is < the
    * current island's start by the island-break condition). A flush
    * sentinel (kind = 1) emits the open span and REMOVES the key's
    * state.
    *
    * Input: (key, lo, hi, tie, kind). Output: (key, span_start,
    * span_end, n).
    */
  def intervalMergeStream(input: Dataset[(Long, Long, Long, Long, Int)])
      : Dataset[(Long, Long, Long, Long)] = {
    val session = input.sparkSession
    import session.implicits._
    implicit val stEnc: Encoder[Option[(Long, Long, Long)]] =
      Encoders.kryo(classOf[Option[(Long, Long, Long)]])
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Option[(Long, Long, Long)],
        (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long, Int)],
         state: GroupState[Option[(Long, Long, Long)]]) =>
          var cur: Option[(Long, Long, Long)] = state.getOption.flatten
          val out = rows.toSeq.sortBy(r => (r._2, r._3, r._4)).flatMap {
            case (_, _, _, _, kind) if kind == 1 =>
              val closing = cur.map { case (lo, hi, n) => (key, lo, hi, n) }
              cur = None
              closing
            case (_, lo, hi, _, _) => cur match {
              case Some((slo, shi, n)) if lo <= shi =>
                cur = Some((slo, math.max(shi, hi), n + 1)); Nil
              case Some((slo, shi, n)) =>
                cur = Some((lo, hi, 1L))
                Seq((key, slo, shi, n))
              case None =>
                cur = Some((lo, hi, 1L)); Nil
            }
          }
          if (cur.isDefined) state.update(cur) else state.remove()
          out.iterator
      }
  }

  /** Streaming clamped running balance — the Lindley recursion
    * b_t = max(0, b_{t−1} + δ_t) folded directly over per-key state
    * (one Long). The batch twin (battery d202) computes the SAME values
    * through the reflection identity b_t = S_t − min(0, runmin(S)) in
    * two stacked windows; this is the recursion the identity avoids,
    * and the shared oracle proves them equal row for row. Emits every
    * event with its post-event balance; ordering contract as
    * [[ewmaStream]] (in-batch (ts, tie) sort, caller-ordered batches).
    *
    * Input: (key, ts, tie, delta). Output: (key, ts, tie, delta,
    * balance).
    */
  def balanceStream(input: Dataset[(Long, Long, Long, Long)])
      : Dataset[(Long, Long, Long, Long, Long)] = {
    val session = input.sparkSession
    import session.implicits._
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[Long]) =>
          var bal = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).map {
            case (_, ts, tie, delta) =>
              bal = math.max(0L, bal + delta)
              (key, ts, tie, delta, bal)
          }
          state.update(bal)
          out.iterator
      }
  }

  /** Streaming sequence packing — the SEVENTH order-sensitive state row:
    * an incremental shard packer that assigns arriving docs to
    * token-budget bins exactly as the batch window plan
    * ([[graft.operators.ScaleOps.packSequences]]: bin = exclusive
    * running token sum div budget) would, with ONE Long of state per
    * stream (the cumulative token count). Correctness rests on
    * tie-ordered arrival (in-batch (tie) sort, caller-ordered batches —
    * the [[balanceStream]] contract); then state equals the batch plan's
    * exclusive prefix at every row and shard N is the SAME shard a
    * from-scratch re-pack would build — the mid-training-restart
    * property, maintained incrementally. No flush sentinel: every row's
    * bin is decided on arrival.
    *
    * Input: (stream, tie, ntok). Output: (stream, tie, ntok, bin).
    */
  def packStream(input: Dataset[(String, Long, Long)], budget: Long)
      : Dataset[(String, Long, Long, Long)] = {
    require(budget > 0, s"budget must be positive: $budget")
    val session = input.sparkSession
    import session.implicits._
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Long, Long)],
         state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, tie, ntok) =>
            val bin = cum / budget
            cum += ntok
            (key, tie, ntok, bin)
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Streaming curation funnel — the ingest-side twin of the batch
    * composition capstone (battery d228's first four stages): arriving
    * docs are counted at every funnel boundary in ONE stateful pass.
    * Keyed by the normalized content key; state is a seen flag. Every
    * row tags `input`; the FIRST arrival of a key (rows fold in docId
    * order within a batch — with docId-ordered staging across batches,
    * first == the batch plan's min-docId representative) is the dedup
    * survivor and additionally tags `dedup`, then `quality` if its
    * pre-computed gate flag holds, then `clean` if the decontamination
    * flag holds too — later duplicates contribute `input` only, exactly
    * the batch funnel's accounting. The gate flags ride the stream as
    * stateless COLUMNS (qualityGateStream / decontaminateStream
    * expressions), so this op adds one key shuffle and one Boolean of
    * state per distinct key; production ingests bound that state with a
    * TTL (the dedupExactStream watermark discipline) — unbounded here
    * because the battery replay is finite.
    *
    * Input: (key, docId, source, qOk, cleanOk). Output: (source, stage)
    * tag rows for a downstream census.
    */
  def curationFunnelStream(
      input: Dataset[(String, Long, String, Boolean, Boolean)])
      : Dataset[(String, String)] = {
    val session = input.sparkSession
    import session.implicits._
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Long, String, Boolean, Boolean)],
         state: GroupState[Boolean]) =>
          var seen = state.getOption.getOrElse(false)
          val out = rows.toSeq.sortBy(_._2).flatMap {
            case (_, _, src, qOk, cleanOk) =>
              val tags = collection.mutable.ArrayBuffer(src -> "input")
              if (!seen) {
                seen = true
                tags += (src -> "dedup")
                if (qOk) {
                  tags += (src -> "quality")
                  if (cleanOk) tags += (src -> "clean")
                }
              }
              tags
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming sequential decision (SPRT shape) — the sixth member of
    * the order-sensitive state spectrum, and the first with ABSORBING
    * state: per key the integer walk folds trial by trial until the
    * prefix sum first reaches `hi` (accept) or `lo` (reject); the
    * decision row is emitted AT the crossing and every later trial for
    * that key is ignored (the absorbed flag persists UNTIL THE NEXT
    * FLUSH, so a walk can't double-decide within a flush epoch). A flush
    * sentinel (kind = 1) emits still-open keys as ('open', n, cum) and
    * REMOVES the key's state either way (the scd2Stream rule — flushes
    * bound the store on unbounded key spaces, decided keys included;
    * StreamingBatterySpec pins zero state rows after the flush).
    * Consequence (default mode): trials arriving AFTER a key's flush
    * start a fresh walk that may decide again — a flush is an epoch
    * boundary, not a tombstone.
    *
    * `retainDecided = true` opts into CROSS-EPOCH absorption: a flush
    * still emits open keys and removes their state, but a decided key
    * keeps a zeroed tombstone (decided = true, n = cum = 0), so
    * post-flush trials stay absorbed and the key can NEVER double-decide
    * (spec-pinned in StreamingBatterySpec). The trade is explicit: the
    * store now grows with the decided-key cardinality instead of being
    * emptied by flushes. `tombstoneTtlFlushes` (r7 VERDICT) is the
    * in-library bound on that growth: with TTL = N a decided key's
    * tombstone survives N−1 flushes and is dropped at the N-th, so
    * absorption spans exactly N flush epochs (the decision's own epoch
    * plus N−1 more) and the store stays bounded by the decided keys of
    * the last N epochs. Inside the TTL window no-double-decision still
    * holds; after expiry a fresh walk may decide again — by then the
    * key's absorption contract has aged out by configuration, exactly
    * like the dedupExactStream watermark discipline. TTL = 0 (default)
    * retains forever (the r6 behavior); TTL = 1 degenerates to the
    * epoch-scoped default mode. Both the expiry and the in-window
    * absorption are spec-pinned. Deployments may instead bound upstream
    * (the d236 seen-flag pattern). The battery row keeps the default
    * (epoch-scoped) mode.
    *
    * The batch twin (battery d231) extracts the
    * same first crossing declaratively from windowed prefix sums; the
    * shared oracle proves them equal. Ordering contract as
    * [[balanceStream]]: in-batch (ts, tie) sort, caller-ordered batches.
    *
    * Input: (key, ts, tie, step, kind). Output: (key, decision,
    * n_trials, cum_final).
    */
  def sprtStream(input: Dataset[(Long, Long, Long, Long, Int)],
      hi: Long = 12L, lo: Long = -12L, retainDecided: Boolean = false,
      tombstoneTtlFlushes: Int = 0)
      : Dataset[(Long, String, Long, Long)] = {
    require(lo < 0 && hi > 0, s"bounds must straddle 0: [$lo, $hi]")
    require(tombstoneTtlFlushes >= 0,
      s"tombstoneTtlFlushes must be >= 0: $tombstoneTtlFlushes")
    require(tombstoneTtlFlushes == 0 || retainDecided,
      "tombstoneTtlFlushes only applies to retainDecided mode")
    val session = input.sparkSession
    import session.implicits._
    // (cum, nTrials, decided, tombstoneFlushAge)
    implicit val stEnc: Encoder[(Long, Long, Boolean, Long)] =
      Encoders.kryo(classOf[(Long, Long, Boolean, Long)])
    input.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Boolean, Long),
        (Long, String, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Long, Int)],
         state: GroupState[(Long, Long, Boolean, Long)]) =>
          var (cum, n, decided, age) =
            state.getOption.getOrElse((0L, 0L, false, 0L))
          var removed = false
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap {
            case (_, _, _, _, kind) if kind == 1 =>
              // flush: open keys report their walk; decided keys already
              // emitted at the crossing. Open keys always leave the store
              // (unbounded key spaces + periodic flushes); decided keys
              // leave too unless retainDecided keeps their tombstone —
              // and a TTL'd tombstone ages one epoch per flush, dropped
              // once it has absorbed its configured window.
              val closing =
                if (!decided && n > 0) Seq((key, "open", n, cum)) else Nil
              val keepTombstone = retainDecided && decided &&
                (tombstoneTtlFlushes == 0 || age + 1L < tombstoneTtlFlushes)
              cum = 0L; n = 0L
              if (keepTombstone) { removed = false; age += 1L }
              else { decided = false; age = 0L; removed = true }
              closing
            case _ if decided => Nil // absorbed: trials after decision
            case (_, _, _, step, _) =>
              cum += step; n += 1; removed = false
              if (cum >= hi) { decided = true; Seq((key, "accept", n, cum)) }
              else if (cum <= lo) {
                decided = true; Seq((key, "reject", n, cum))
              } else Nil
          }
          if (removed && n == 0L && !decided) state.remove()
          else state.update((cum, n, decided, age))
          out.iterator
      }
  }
}
