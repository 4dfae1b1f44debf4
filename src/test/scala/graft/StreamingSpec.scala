package graft

import graft.core._
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming variants (SURVEY.md §7.1-5): micro-batch = bundle; watermarks
  * drive event-time timers. MemoryStream + memory sink = the deterministic
  * harness (analog of the reference's in-memory conformance inputs).
  */
object StreamingSpecFixtures {
  val sumSpec: CombiningStateSpec[Double, (Double, Long), (Double, Long)] =
    CombiningStateSpec("sums", new CombineFn[Double, (Double, Long), (Double, Long)] {
      def createAccumulator(): (Double, Long) = (0.0, 0L)
      def addInput(a: (Double, Long), v: Double): (Double, Long) = (a._1 + v, a._2 + 1)
      def mergeAccumulators(a: (Double, Long), b: (Double, Long)): (Double, Long) =
        (a._1 + b._1, a._2 + b._2)
      def extractOutput(a: (Double, Long)): (Double, Long) = a
    })
  val flushSpec: TimerSpec = TimerSpec("flush")
  /** Finalization callbacks fired by the streaming ParDo test (executors
    * share the test JVM in local mode).
    */
  val finalized = new java.util.concurrent.atomic.AtomicLong(0)
}

class StreamingSpec extends SparkTestBase {
  import StreamingSpecFixtures._

  test("streaming windowed counts with watermark (fixed windows)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "k")
    val out = StreamingOps.windowedCounts(df, "ts", "k", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wincounts_" + System.nanoTime())
      .outputMode("append").start()
    val qn = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery].name
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    mem.addData((ts(1), "a"), (ts(2), "a"), (ts(11), "a"))
    q.processAllAvailable()
    // advance watermark far enough to close the first two windows
    mem.addData((ts(100), "a"))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT k, unix_millis(window_start) ws, n FROM $qn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    q.stop()
    assertMultiset(rows, Seq(("a", 0L, 2L), ("a", 10000L, 1L)))
  }

  test("streaming session windows with watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "k")
    val out = StreamingOps.sessionCounts(df, "ts", "k", "10 seconds")
    val q = out.writeStream.format("memory").queryName("sess_" + System.nanoTime())
      .outputMode("append").start()
    val qn = q.name
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    mem.addData((ts(1), "a"), (ts(2), "a"), (ts(30), "a"))
    q.processAllAvailable()
    mem.addData((ts(200), "a"))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT k, unix_millis(session_start) ss, n FROM $qn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    q.stop()
    assertMultiset(rows, Seq(("a", 1000L, 2L), ("a", 30000L, 1L)))
  }

  test("stream-static side input join + tagged demux") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Int, String)]
    val stream = mem.toDF().toDF("nk", "event")
    val dim = Seq((1, "one"), (2, "two")).toDF("nk", "name")
    val joined = StreamingOps.withSideInput(stream, dim, Seq("nk"))
    val branches = StreamingOps.demux(joined, Map(
      "known" -> col("name").isNotNull, "unknown" -> col("name").isNull))
    val qk = branches("known").writeStream.format("memory")
      .queryName("known_" + System.nanoTime()).outputMode("append").start()
    val qu = branches("unknown").writeStream.format("memory")
      .queryName("unknown_" + System.nanoTime()).outputMode("append").start()
    mem.addData((1, "a"), (2, "b"), (9, "c"))
    qk.processAllAvailable(); qu.processAllAvailable()
    val known = s.sql(s"SELECT nk, name FROM ${qk.name}")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val unknown = s.sql(s"SELECT nk FROM ${qu.name}").collect().map(_.getInt(0)).toSeq
    qk.stop(); qu.stop()
    assertMultiset(known, Seq((1, "one"), (2, "two")))
    assertMultiset(unknown, Seq(9))
  }

  test("windowed streaming stateful ParDo partitions state per (key, window)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val input = mem.toDS()
      .select(col("_1"), col("_2"), timestamp_millis(col("_3")).as("et"))
      .withWatermark("et", "0 seconds")
      .as[(String, Double, java.sql.Timestamp)]
    val fn = new StatefulDoFn[(String, Long), Double, (String, Long, Double)] {
      def process(k: (String, Long), v: Double,
          ctx: StatefulContext[(String, Long, Double)]): Unit = {
        ctx.combining(sumSpec).add(v)
        // flush at end of this 10s window
        ctx.timer(flushSpec).set(k._2 + 10000)
      }
      override def onTimer(k: (String, Long), spec: TimerSpec, tag: String, fireTs: Long,
          ctx: StatefulContext[(String, Long, Double)]): Unit = {
        val (sum, _) = ctx.combining(sumSpec).read()
        ctx.output((k._1, k._2, sum))
      }
    }
    val out = StreamingOps.statefulParDoWindowed(input, 10000L, fn)
    val q = out.toDF("k", "win", "sum").writeStream.format("memory")
      .queryName("winstate_" + System.nanoTime()).outputMode("append").start()
    val qn = q.name
    mem.addData(("a", 1.0, 1000L), ("a", 2.0, 2000L), ("a", 5.0, 12000L))
    q.processAllAvailable()
    mem.addData(("z", 1.0, 99000L)) // advance watermark → both windows flush
    q.processAllAvailable()
    mem.addData(("z", 1.0, 500000L))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT k, win, sum FROM $qn WHERE k = 'a'")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    q.stop()
    assertMultiset(rows, Seq(("a", 0L, 3.0), ("a", 10000L, 5.0)))
  }

  test("foreachBatchFinalized: finalize runs after commit, exceptions swallowed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Int]
    val committed = new java.util.concurrent.atomic.AtomicLong(0)
    val finalized = new java.util.concurrent.atomic.AtomicLong(0)
    val q = StreamingOps.foreachBatchFinalized(
        mem.toDF(),
        (batch, _) => committed.addAndGet(batch.count()),
        _ => { finalized.incrementAndGet(); throw new RuntimeException("swallowed") })
      .start()
    mem.addData(1, 2, 3)
    q.processAllAvailable()
    q.stop()
    assert(committed.get() == 3L && finalized.get() >= 1L)
  }

  test("streaming stateful ParDo: state persists across micro-batches, timer fires on watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    // event time column required for EventTimeTimeout; watermark applied to
    // the retained timestamp column (no object-map after it)
    val input = mem.toDS()
      .select(col("_1"), col("_2"), timestamp_millis(col("_3")).as("et"))
      .withWatermark("et", "0 seconds")
      .as[(String, Double, java.sql.Timestamp)]
    val fn = new StatefulDoFn[String, Double, (String, Double, Long)] {
      def process(k: String, v: Double, ctx: StatefulContext[(String, Double, Long)]): Unit = {
        ctx.combining(sumSpec).add(v)
        ctx.timer(flushSpec).set(ctx.timestamp + 5000)
      }
      override def onTimer(k: String, spec: TimerSpec, tag: String, fireTs: Long,
          ctx: StatefulContext[(String, Double, Long)]): Unit = {
        val (sum, n) = ctx.combining(sumSpec).read()
        ctx.output((k, sum, n))
      }
    }
    val out = StreamingOps.statefulParDo(input, fn)
    val q = out.toDF("k", "sum", "n").writeStream.format("memory")
      .queryName("stateful_" + System.nanoTime()).outputMode("append").start()
    val qn = q.name
    mem.addData(("a", 1.0, 1000L), ("a", 2.0, 2000L))
    q.processAllAvailable()
    // second batch advances the watermark past the pending timer (7s) → fires
    mem.addData(("b", 9.0, 60000L))
    q.processAllAvailable()
    mem.addData(("c", 1.0, 120000L))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT k, sum, n FROM $qn")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    q.stop()
    // key a flushed (sum 3.0 over 2 events); key b flushed after batch 3
    assert(rows.contains(("a", 3.0, 2L)), s"missing a-flush in $rows")
    assert(rows.contains(("b", 9.0, 1L)), s"missing b-flush in $rows")
  }

  test("statefulParDoTimestamped: timer re-fire chain emits AT the hold, never ahead of it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val input = mem.toDS()
      .select(col("_1"), col("_2"), timestamp_millis(col("_3")).as("et"))
      .withWatermark("et", "0 seconds")
      .as[(String, Double, java.sql.Timestamp)]
    // self-rescheduling chain: the element schedules t+5000; each firing
    // re-schedules +5000 twice more. All three firings typically resolve in
    // ONE batch (the watermark jumps far past them), so carrying the batch
    // watermark instead of each timer's own fire time would collapse the
    // chain onto one timestamp — exactly the "ahead of the hold" bug.
    val countSpec = ValueStateSpec[Long]("fires")
    val fn = new StatefulDoFn[String, Double, String] {
      def process(k: String, v: Double, ctx: StatefulContext[String]): Unit =
        ctx.timer(flushSpec).set(ctx.timestamp + 5000)
      override def onTimer(k: String, spec: TimerSpec, tag: String, fireTs: Long,
          ctx: StatefulContext[String]): Unit = {
        val n = ctx.value(countSpec).read().getOrElse(0L)
        ctx.output(s"$k-fire$n")
        if (n < 2) {
          ctx.value(countSpec).write(n + 1)
          ctx.timer(flushSpec).set(fireTs + 5000)
        } else ctx.value(countSpec).clear()
      }
    }
    val out = StreamingOps.statefulParDoTimestamped(input, fn)
    val q = out.toDF("v", "et").writeStream.format("memory")
      .queryName("hold_" + System.nanoTime()).outputMode("append").start()
    mem.addData(("a", 1.0, 1000L))
    q.processAllAvailable()
    mem.addData(("z", 1.0, 600000L)) // watermark leaps past the whole chain
    q.processAllAvailable()
    mem.addData(("z", 1.0, 1800000L)) // fire z's own chain to drain state
    q.processAllAvailable()
    val rows = s.sql(s"SELECT v, et FROM ${q.name}")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime)).toMap
    q.stop()
    // each emission carries ITS OWN fire time: 6000, 11000, 16000 — not the
    // 600000 batch watermark the callbacks actually ran under
    assert(rows("a-fire0") == 6000L, s"got $rows")
    assert(rows("a-fire1") == 11000L, s"got $rows")
    assert(rows("a-fire2") == 16000L, s"got $rows")
  }

  test("sink-handoff pattern: held timestamps group correctly in a follow-up windowing") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val input = mem.toDS()
      .select(col("_1"), col("_2"), timestamp_millis(col("_3")).as("et"))
      .withWatermark("et", "0 seconds")
      .as[(String, Double, java.sql.Timestamp)]
    // the documented chaining pattern for timer output (Spark's global
    // watermark can't hold for pending timers, so same-query stateful
    // chaining is out): sink the TIMESTAMPED stream per batch, window in a
    // follow-up computation over the handed-off rows
    val countSpec = ValueStateSpec[Long]("fires3")
    val fn = new StatefulDoFn[String, Double, String] {
      def process(k: String, v: Double, ctx: StatefulContext[String]): Unit =
        ctx.timer(flushSpec).set(ctx.timestamp + 5000)
      override def onTimer(k: String, spec: TimerSpec, tag: String, fireTs: Long,
          ctx: StatefulContext[String]): Unit = {
        val n = ctx.value(countSpec).read().getOrElse(0L)
        ctx.output(k)
        if (n < 2) { ctx.value(countSpec).write(n + 1); ctx.timer(flushSpec).set(fireTs + 5000) }
        else ctx.value(countSpec).clear()
      }
    }
    val handedOff = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = StreamingOps.statefulParDoTimestamped(input, fn)
      .toDF("k", "et")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime))
        handedOff.synchronized { handedOff ++= rows }
        ()
      }.start()
    mem.addData(("a", 1.0, 1000L))
    q.processAllAvailable()
    mem.addData(("z", 1.0, 600000L)) // watermark leap fires a's whole chain
    q.processAllAvailable()
    mem.addData(("z", 1.0, 1800000L)) // drain z
    q.processAllAvailable()
    q.stop()
    // follow-up windowing over the handed-off rows: a's fires at 6s/11s/16s
    // land in [0,10) x1 and [10,20) x2 BECAUSE the emissions kept their
    // holds — batch-watermark timestamps would collapse into one window
    val windows = handedOff.synchronized {
      handedOff.filter(_._1 == "a").groupBy(_._2 / 10000 * 10000)
        .map { case (w, xs) => (w, xs.size.toLong) }
    }
    assert(windows == Map(0L -> 1L, 10000L -> 2L), s"got $windows")
  }

  test("streaming tagged-output ParDo demuxes per tag (MemoryStream)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Int]
    val odd = Tag[Int]("odd")
    val fn = new DoFn[Int, Int] {
      def process(e: Int, ctx: ProcessContext[Int]): Unit =
        if (e % 2 == 0) ctx.output(e) else ctx.outputTagged(odd, e)
    }
    val routed = StreamingOps.parDoTaggedStream(mem.toDS(), fn)
    val evens = routed.filter(_._1 == "").map(_._2.asInstanceOf[Int])
    val odds = routed.filter(_._1 == "odd").map(_._2.asInstanceOf[Int])
    val qe = evens.writeStream.format("memory")
      .queryName("evens_" + System.nanoTime()).outputMode("append").start()
    val qo = odds.writeStream.format("memory")
      .queryName("odds_" + System.nanoTime()).outputMode("append").start()
    mem.addData(1, 2, 3, 4, 5, 6)
    qe.processAllAvailable(); qo.processAllAvailable()
    val evenRows = s.sql(s"SELECT * FROM ${qe.name}").collect().map(_.getInt(0)).toSeq
    val oddRows = s.sql(s"SELECT * FROM ${qo.name}").collect().map(_.getInt(0)).toSeq
    qe.stop(); qo.stop()
    assertMultiset(evenRows, Seq(2, 4, 6))
    assertMultiset(oddRows, Seq(1, 3, 5))
  }

  test("streaming ParDo reads a stream-static side input (broadcast view)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // side input built from a BATCH PCollection — the static side of the
    // stream-static pattern (reference side-input commit execution.py:469-525)
    val p = graft.api.Pipeline(s)
    val rates = p.create(Seq(("usd", 1.0), ("eur", 1.1), ("gbp", 1.3))).asDict
    val mem = MemoryStream[(String, Double)]
    val fn = new DoFn[(String, Double), (String, Double)] {
      def process(e: (String, Double), ctx: ProcessContext[(String, Double)]): Unit = {
        val rate = ctx.sideInput(rates).getOrElse(e._1, 0.0)
        ctx.output((e._1, e._2 * rate))
      }
    }
    val out = StreamingOps.parDoStream(mem.toDS(), fn)
    val q = out.toDF("ccy", "amount_usd").writeStream.format("memory")
      .queryName("side_" + System.nanoTime()).outputMode("append").start()
    mem.addData(("eur", 100.0), ("gbp", 10.0), ("jpy", 5.0))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT ccy, amount_usd FROM ${q.name}")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    q.stop()
    assertMultiset(rows, Seq(("eur", 110.00000000000001), ("gbp", 13.0), ("jpy", 0.0)))
  }

  test("streaming ParDo bundle finalization fires after commit, exceptions swallowed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Int]
    // one finalizer per bundle; the bundle holding element 1 registers one
    // that throws after counting
    val fn = new DoFn[Int, Int] {
      private var registered = false
      override def startBundle(): Unit = registered = false
      def process(e: Int, ctx: ProcessContext[Int]): Unit = {
        if (!registered) {
          registered = true
          val throws = e == 1
          ctx.registerFinalization { () =>
            finalized.incrementAndGet()
            if (throws) throw new RuntimeException("swallowed")
          }
        }
        ctx.output(e)
      }
    }
    finalized.set(0)
    val q = StreamingOps.parDoStream(mem.toDS(), fn).toDF("v").writeStream
      .format("memory").queryName("fin_" + System.nanoTime()).outputMode("append").start()
    mem.addData(1, 2, 3)
    q.processAllAvailable()
    mem.addData(4, 5)
    q.processAllAvailable()
    val rows = s.sql(s"SELECT v FROM ${q.name}").collect().map(_.getInt(0)).toSeq
    val failure = q.exception
    val active = q.isActive
    q.stop()
    assert(failure.isEmpty && active, s"the throwing finalizer failed the query: $failure")
    assertMultiset(rows, Seq(1, 2, 3, 4, 5))
    // two micro-batches, each with at least one non-empty bundle
    assert(finalized.get() >= 2L, s"finalizers fired ${finalized.get()} times")
  }

  test("streaming ParDo with WINDOWED side input: lookups resolve per main window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // per-hour fx rates from a BATCH PCollection, windowed like the batch
    // side-input path: hour 0 → 1.0, hour 1 → 2.0, hour 2 absent
    val p = graft.api.Pipeline(s)
    val rates = p.createTimestamped(Seq((("fx", 1.0), 10L), (("fx", 2.0), 3600010L)))
      .windowInto(FixedWindows(3600000L))
      .asDict[String, Double]
    val mem = MemoryStream[(Double, java.sql.Timestamp)]
    val fn = new DoFn[Double, Double] {
      def process(e: Double, ctx: ProcessContext[Double]): Unit =
        ctx.output(e * ctx.sideInput(rates).getOrElse("fx", 0.0))
    }
    val out = StreamingOps.parDoStreamWindowed(mem.toDS(), fn, FixedWindows(3600000L))
    val q = out.toDF("v").writeStream.format("memory")
      .queryName("wside_" + System.nanoTime()).outputMode("append").start()
    mem.addData((100.0, new java.sql.Timestamp(20L)),
      (100.0, new java.sql.Timestamp(3600020L)),
      (100.0, new java.sql.Timestamp(7200020L)))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT v FROM ${q.name}").collect().map(_.getDouble(0)).toSeq
    q.stop()
    // hour-0 and hour-1 elements read DIFFERENT side values through the
    // same view (the global-broadcast path would collapse them); the
    // hour-2 element maps to no side window → empty dict → 0.0
    assertMultiset(rows, Seq(100.0, 200.0, 0.0))
  }

  test("streaming exact dedup: first occurrence wins, watermark bounds state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDS()
      .select(col("_1").as("k"), timestamp_millis(col("_2")).as("et"))
    val deduped = StreamingOps.dedupExactStream(stream, Seq("k"), "et", "10 seconds")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_" + System.nanoTime()).outputMode("append").start()
    mem.addData(("a", 1000L), ("a", 2000L), ("b", 1000L)) // in-batch dup
    q.processAllAvailable()
    mem.addData(("a", 3000L), ("c", 3000L)) // cross-batch dup within window
    q.processAllAvailable()
    val rows = s.sql(s"SELECT k FROM ${q.name}").collect().map(_.getString(0)).toSeq
    q.stop()
    assertMultiset(rows, Seq("a", "b", "c"))
  }

  test("streaming quality gate: prose passes, short and looping docs drop, no state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = StreamingOps.qualityGateStream(mem.toDF().toDF("id", "text"), "text")
    val q = out.writeStream.format("memory")
      .queryName("qgate_" + System.nanoTime()).outputMode("append").start()
    val prose = "the quick brown fox jumps over the lazy dog and runs " +
      "to the river bank where it rests in the shade of a willow tree today"
    mem.addData(
      (1L, prose),                          // passes every rule
      (2L, "too short"),                    // < minTokens
      (3L, Seq.fill(30)("spam").mkString(" "))) // distinct ratio ~0, no stopwords
    q.processAllAvailable()
    val kept = s.sql(s"SELECT id FROM ${q.name}").collect().map(_.getLong(0)).toSeq
    q.stop()
    assertMultiset(kept, Seq(1L))
  }

  test("streaming decontamination gate drops eval-overlapping docs, stateless") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val evalGrams = Seq("alpha beta gamma delta") // one eval 4-gram
    val mem = MemoryStream[(Long, String)]
    val gated = StreamingOps.decontaminateStream(
      mem.toDS().select(col("_1").as("doc_id"), col("_2").as("text")),
      "text", evalGrams, n = 4)
    val q = gated.writeStream.format("memory")
      .queryName("decon_" + System.nanoTime()).outputMode("append").start()
    mem.addData(
      (1L, "prefix alpha beta gamma delta suffix words"), // contaminated
      (2L, "alpha beta entirely different gamma delta"),  // shared words, no 4-gram
      (3L, "clean document with no overlap at all"))
    q.processAllAvailable()
    val rows = s.sql(s"SELECT doc_id FROM ${q.name}").collect().map(_.getLong(0)).toSeq
    q.stop()
    assertMultiset(rows, Seq(2L, 3L))
  }

  test("streaming anomaly gate passes only out-of-band values against a static baseline") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // baseline: click ~ N(10, 1); error ~ N(100, 5)
    val baseline = Seq(("click", 10.0, 1.0), ("error", 100.0, 5.0))
      .toDF("event_type", "m", "sd")
    val mem = MemoryStream[(Long, String, Double)]
    val gated = StreamingOps.anomalyGateStream(
      mem.toDS().select(col("_1").as("event_id"), col("_2").as("event_type"),
        col("_3").as("value")),
      "event_type", "value", baseline, zThreshold = 3.0)
    val q = gated.writeStream.format("memory")
      .queryName("anom_" + System.nanoTime()).outputMode("append").start()
    mem.addData(
      (1L, "click", 10.5),  // z = 0.5 — normal
      (2L, "click", 14.0),  // z = 4.0 — outlier
      (3L, "error", 96.0),  // z = -0.8 — normal
      (4L, "error", 60.0))  // z = -8.0 — outlier
    q.processAllAvailable()
    val rows = s.sql(s"SELECT event_id FROM ${q.name}").collect().map(_.getLong(0)).toSeq
    q.stop()
    assertMultiset(rows, Seq(2L, 4L))
  }

  test("streaming anomaly gate surfaces novel keys and degenerate baselines instead of swallowing them") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // 'flat' never varied during the fit (sd = 0); 'oom' has no baseline row
    val baseline = Seq(("click", 10.0, 1.0), ("flat", 5.0, 0.0))
      .toDF("event_type", "m", "sd")
    val mem = MemoryStream[(Long, String, Double)]
    val gated = StreamingOps.anomalyGateStream(
      mem.toDS().select(col("_1").as("event_id"), col("_2").as("event_type"),
        col("_3").as("value")),
      "event_type", "value", baseline, zThreshold = 3.0)
    val q = gated.writeStream.format("memory")
      .queryName("anomedge_" + System.nanoTime()).outputMode("append").start()
    mem.addData(
      (1L, "click", 10.1),  // normal — dropped
      (2L, "oom", 1.0),     // novel key since the fit — must surface
      (3L, "flat", 5.0),    // degenerate baseline, AT the mean — normal
      (4L, "flat", 500.0))  // degenerate baseline, off the mean — must surface
    q.processAllAvailable()
    val rows = s.sql(s"SELECT event_id FROM ${q.name}").collect().map(_.getLong(0)).toSeq
    q.stop()
    assertMultiset(rows, Seq(2L, 4L))
  }

  test("streaming near-dup candidates: cross-batch LSH state finds the pair, distinct docs stay clean") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val near1 = "the quick brown fox jumps over the lazy dog again and again every day"
    val near2 = "the quick brown fox jumps over the lazy dog again and again every night"
    val far = "completely unrelated text about spark catalyst optimizer internals and shuffles"
    val stream = mem.toDS()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_millis(col("_3")).as("et"))
    val pairs = StreamingOps.nearDupCandidatesStream(
      stream, "doc_id", "text", "et", "10 seconds",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.3)
    val q = pairs.writeStream.format("memory")
      .queryName("neardup_" + System.nanoTime()).outputMode("append").start()
    mem.addData((1L, near1, 1000L), (10L, far, 1000L))
    q.processAllAvailable()
    mem.addData((2L, near2, 2000L)) // near-dup arrives a BATCH later
    q.processAllAvailable()
    val got = s.sql(s"SELECT DISTINCT id1, id2 FROM ${q.name}")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got.contains((1L, 2L)), s"cross-batch near-dup pair missing: $got")
    assert(!got.exists(p => p._1 == 10L || p._2 == 10L),
      s"unrelated doc paired: $got")
  }

  test("streaming near-dup state expires past the TTL: stale members stop pairing") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val text1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val text2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val stream = mem.toDS()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        timestamp_millis(col("_3")).as("et"))
    val pairs = StreamingOps.nearDupCandidatesStream(
      stream, "doc_id", "text", "et", "0 seconds",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.3,
      stateTtlMs = 1000L)
    val q = pairs.writeStream.format("memory")
      .queryName("neardup_ttl_" + System.nanoTime()).outputMode("append").start()
    mem.addData((1L, text1, 1000L))
    q.processAllAvailable()
    // push the watermark far past doc 1's bucket TTL (1 s), then once more
    // so the timeout callbacks actually fire and remove the state
    mem.addData((50L, "totally different words entirely unrelated content here", 100000L))
    q.processAllAvailable()
    mem.addData((51L, "still nothing in common with anything else at all", 200000L))
    q.processAllAvailable()
    // doc 2 is a near-dup of doc 1 — but doc 1's state is long expired
    mem.addData((2L, text2, 201000L))
    q.processAllAvailable()
    val got = s.sql(s"SELECT DISTINCT id1, id2 FROM ${q.name}")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(!got.contains((1L, 2L)), s"expired member still paired: $got")
  }

  test("streaming stateful ParDo drops late data at/below the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val input = mem.toDS()
      .select(col("_1"), col("_2"), timestamp_millis(col("_3")).as("et"))
      .withWatermark("et", "0 seconds")
      .as[(String, Double, java.sql.Timestamp)]
    val fn = new StatefulDoFn[String, Double, (String, Double, Long)] {
      def process(k: String, v: Double, ctx: StatefulContext[(String, Double, Long)]): Unit = {
        ctx.combining(sumSpec).add(v)
        ctx.timer(flushSpec).set(ctx.timestamp + 5000)
      }
      override def onTimer(k: String, spec: TimerSpec, tag: String, fireTs: Long,
          ctx: StatefulContext[(String, Double, Long)]): Unit = {
        val (sum, n) = ctx.combining(sumSpec).read()
        ctx.output((k, sum, n))
      }
    }
    val out = StreamingOps.statefulParDo(input, fn)
    val q = out.toDF("k", "sum", "n").writeStream.format("memory")
      .queryName("late_" + System.nanoTime()).outputMode("append").start()
    val qn = q.name
    mem.addData(("a", 1.0, 1000L), ("a", 2.0, 2000L))
    q.processAllAvailable()
    mem.addData(("z", 9.0, 60000L)) // advances watermark to 60s, fires a's timer
    q.processAllAvailable()
    mem.addData(("a", 5.0, 3000L)) // LATE: ts 3s <= watermark 60s -> dropped
    q.processAllAvailable()
    mem.addData(("z", 1.0, 120000L)) // would fire any timer the late event set
    q.processAllAvailable()
    val rows = s.sql(s"SELECT k, sum, n FROM $qn")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    q.stop()
    assert(rows.contains(("a", 3.0, 2L)), s"missing on-time a-flush in $rows")
    assert(!rows.exists(r => r._1 == "a" && r._3 == 1L),
      s"late element for key a was processed: $rows")
  }
}
