package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** The streaming battery rows (d120-d124) hash-check against DuckDB only
  * driver-side; these specs pin (a) the two AvailableNow facts the design
  * rests on, measured empirically, and (b) batch == streaming equivalence
  * in-JVM, so a semantics regression surfaces before the driver gate.
  */
class StreamingBatterySpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  /** Multiset equality of two small DataFrames via their sorted row dumps. */
  private def assertSameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    val cols = a.columns.sorted.toSeq
    assert(cols == b.columns.sorted.toSeq, s"${a.columns.toSeq} vs ${b.columns.toSeq}")
    assertMultiset(
      a.select(cols.map(col): _*).collect().map(_.toSeq).toSeq,
      b.select(cols.map(col): _*).collect().map(_.toSeq).toSeq)
  }

  test("AvailableNow runs the trailing no-data batch: end-of-window timers fire one-shot") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("anlaw").toString
    // real data in hour-window 0 plus a far-future sentinel, ONE file:
    // the timers can only fire in a no-data batch after the watermark
    // advances at the data batch's end
    val real = (1 to 40).map(i => (i % 4, 1.0, (i * 1000).toLong))
    val sent = Seq((-1, 0.0, 100L * 3600 * 1000))
    (real ++ sent).toDF("k", "v", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
      .coalesce(1).write.parquet(root + "/in")
    val schema = s.read.parquet(root + "/in").schema
    val src = s.readStream.schema(schema).parquet(root + "/in")
      .withWatermark("ts", "1 second")
      .select(col("k"), col("v"), col("ts"))
      .as[(Int, Double, java.sql.Timestamp)]
      .filter(_._1 >= 0)
    val counted = graft.streaming.StreamingOps
      .statefulParDoWindowed[Int, Double, (Int, Long, Long)](
        src, 3600L * 1000,
        new graft.core.StatefulDoFn[(Int, Long), Double, (Int, Long, Long)] {
          val nSpec = graft.core.CombiningStateSpec[Double, Long, Long]("n",
            new graft.core.CombineFn[Double, Long, Long] {
              def createAccumulator() = 0L
              def addInput(a: Long, v: Double) = a + 1
              def mergeAccumulators(a: Long, b: Long) = a + b
              def extractOutput(a: Long) = a
            })
          val t = graft.core.TimerSpec("flush")
          def process(key: (Int, Long), v: Double,
              ctx: graft.core.StatefulContext[(Int, Long, Long)]): Unit = {
            ctx.combining(nSpec).add(v)
            ctx.timer(t).set(key._2 + 3600L * 1000 - 1)
          }
          override def onTimer(key: (Int, Long), spec: graft.core.TimerSpec,
              tag: String, fireTs: Long,
              ctx: graft.core.StatefulContext[(Int, Long, Long)]): Unit = {
            ctx.output((key._1, key._2, ctx.combining(nSpec).read()))
            ctx.combining(nSpec).clear() // flushed window: release its state
          }
        })
    val q = counted.toDF("k", "win", "n")
      .writeStream.format("parquet")
      .option("path", root + "/out").option("checkpointLocation", root + "/ck")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query still running after 120 s")
    val got = s.read.parquet(root + "/out").as[(Int, Long, Long)].collect().sortBy(_._1)
    assertMultiset(got.toSeq, Seq((0, 0L, 10L), (1, 0L, 10L), (2, 0L, 10L), (3, 0L, 10L)))
  }

  test("sentinel hazard pin: a Column filter deletes the sentinel below the watermark node") {
    // The d124 pattern MUST use a typed filter to drop the sentinel: a
    // Column predicate not referencing the event-time column is pushed
    // below EventTimeWatermark, deleting the sentinel before it advances
    // the watermark — so end-of-window timers never fire. Pinned
    // BEHAVIORALLY (a streaming plan can't be optimized batch-side): the
    // hazardous variant must produce NO timer output. If this ever fails,
    // Catalyst stopped pushing and the typed-filter workaround (and its
    // comment in StreamingBattery) can be simplified.
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("anpush").toString
    val real = (1 to 8).map(i => (1, 1.0, (i * 1000).toLong))
    val sent = Seq((-1, 0.0, 100L * 3600 * 1000))
    (real ++ sent).toDF("k", "v", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
      .coalesce(1).write.parquet(root + "/in")
    val schema = s.read.parquet(root + "/in").schema
    val src = s.readStream.schema(schema).parquet(root + "/in")
      .withWatermark("ts", "1 second")
      .filter(col("k") >= 0) // HAZARD: pushed below the watermark node
      .select(col("k"), col("v"), col("ts"))
      .as[(Int, Double, java.sql.Timestamp)]
    val counted = graft.streaming.StreamingOps
      .statefulParDoWindowed[Int, Double, (Int, Long)](
        src, 3600L * 1000,
        new graft.core.StatefulDoFn[(Int, Long), Double, (Int, Long)] {
          val t = graft.core.TimerSpec("flush")
          val nSpec = graft.core.ValueStateSpec[Long]("n")
          def process(key: (Int, Long), v: Double,
              ctx: graft.core.StatefulContext[(Int, Long)]): Unit = {
            ctx.value(nSpec).write(ctx.value(nSpec).read().getOrElse(0L) + 1)
            ctx.timer(t).set(key._2 + 3600L * 1000 - 1)
          }
          override def onTimer(key: (Int, Long), spec: graft.core.TimerSpec,
              tag: String, fireTs: Long,
              ctx: graft.core.StatefulContext[(Int, Long)]): Unit = {
            ctx.output((key._1, ctx.value(nSpec).read().getOrElse(0L)))
            ctx.value(nSpec).clear() // flushed window: release its state
          }
        })
    val q = counted.toDF("k", "n")
      .writeStream.format("parquet")
      .option("path", root + "/out").option("checkpointLocation", root + "/ck")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "streaming query still running after 120 s")
    val files = new java.io.File(root + "/out").list().count(_.endsWith(".parquet"))
    val n = if (files == 0) 0L else s.read.parquet(root + "/out").count()
    assert(n == 0,
      "Column filter no longer pushed below EventTimeWatermark — " +
        "the typed-filter sentinel workaround can be simplified")
  }

  test("d120 streaming dedup == batch DISTINCT census") {
    val got = graft.streaming.StreamingBattery.d120StreamDedup(spark, sf)
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("ts_ms div 3600000").as("hr"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_keys"),
        expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").as("n_users"))
    assertSameRows(got, want)
  }

  test("d158 streaming constraint fold == one-shot batch report (minus unique)") {
    import graft.operators.Constraints
    import graft.operators.Constraints._
    val got = graft.streaming.StreamingBattery.d158StreamConstraints(spark, sf)
    val want = Constraints.check(
      Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate")),
      Seq(NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 400000.0),
        InSet("o_orderstatus", Seq("F", "O")),
        Satisfies("o_orderdate_pre97",
          "o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"),
        ForeignKey("o_custkey",
          Tables.customer(spark, sf).filter(col("c_acctbal") > 0)
            .select(col("c_custkey")), "active_customer")))
    assertSameRows(got, want)
    // non-vacuity: both report polarities must appear in the fold
    val byPass = got.collect().groupBy(_.getBoolean(4)).view.mapValues(_.length)
    assert(byPass.getOrElse(true, 0) > 0 && byPass.getOrElse(false, 0) > 0,
      s"fold lost a polarity: $byPass")
  }

  test("d146 checkpoint resume == batch DISTINCT census (offsets + state recovered)") {
    // the row's own require()s are the teeth (run 1 emits a strict subset;
    // straddle keys exist); this pins the end result against the batch twin
    val got = graft.streaming.StreamingBattery.d146StreamResume(spark, sf)
    val want = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), expr("ts_ms div 3600000").as("hr"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_keys"),
        expr("CAST(COUNT(DISTINCT user_id) AS BIGINT)").as("n_users"))
    assertSameRows(got, want)
  }

  test("d148 streaming session_window == batch Sessions WindowFn (q18)") {
    // two session implementations, one result: Spark's streaming session
    // state vs the Beam-model merging WindowFn, at sf0.001
    assertSameRows(
      graft.streaming.StreamingBattery.d148StreamSessions(spark, sf),
      Queries.q18SessionWindows(spark, sf))
  }

  test("d151 streaming CDC fold == batch one-shot applyChanges (d138)") {
    assertSameRows(
      graft.streaming.StreamingBattery.d151StreamCdc(spark, sf),
      Queries.d138UpsertMerge(spark, sf))
  }

  test("d121 streaming quality gate == batch d60 gate") {
    assertSameRows(
      graft.streaming.StreamingBattery.d121StreamQuality(spark, sf),
      Queries.d60GopherFilter(spark, sf))
  }

  test("d123 streaming anomaly gate == batch d72 gate") {
    assertSameRows(
      graft.streaming.StreamingBattery.d123StreamAnomaly(spark, sf),
      Queries.d72Anomaly(spark, sf))
  }

  test("d124 streaming stateful windows == batch GROUP BY (incl. the tail window)") {
    val got = graft.streaming.StreamingBattery.d124StreamStateful(spark, sf)
    val want = Tables.events(spark, sf)
      .groupBy(col("user_id"), expr("(ts_ms div 3600000) * 3600000").as("window_start"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
    assertSameRows(got, want)
    // the tail window (the one holding the global max timestamp) is where a
    // regression in the sentinel/watermark interplay shows first
    val maxTs = Tables.events(spark, sf).agg(max("ts_ms")).head.getLong(0)
    val tailWin = (maxTs / 3600000L) * 3600000L
    assert(got.filter(col("window_start") === tailWin).count() > 0,
      "tail window missing — sentinel no longer advances the watermark")
  }

  test("d122 streaming decontaminate: survivors never share an eval gram (batch cross-check)") {
    val s = spark
    val isEval = col("source") === "src0" && col("doc_id") % 7 === 0
    val docs = Tables.documents(s, sf)
    val evalGrams = docs.filter(isEval)
      .select(explode(graft.functions.TextFunctions.wordShingles(col("text"), 8)).as("g"))
      .distinct()
    val expectedSurvivors = docs.filter(!isEval)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.wordShingles(col("text"), 8).as("gs"))
      .select(col("doc_id"), col("source"), explode(col("gs")).as("g"))
      .join(evalGrams, Seq("g"), "left_anti")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("__n"))
      .join(docs.filter(!isEval).select(col("doc_id"),
        size(graft.functions.TextFunctions.wordShingles(col("text"), 8)).as("__all")), "doc_id")
      .filter(col("__n") === col("__all")) // every gram survived the anti-join
      .groupBy(col("source"))
      .agg(expr("CAST(COUNT(*) AS BIGINT)").as("n_survivors"),
        expr("CAST(MIN(doc_id) AS BIGINT)").as("first_id"))
    assertSameRows(
      graft.streaming.StreamingBattery.d122StreamDecontaminate(spark, sf),
      expectedSurvivors)
  }

  test("d139 stream-stream interval join == batch self-join") {
    val ev = Tables.events(spark, sf)
    def typed(tpe: String, pre: String) = ev.filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"), col("event_id").as(s"${pre}_id"),
        col("ts_ms").as(s"${pre}_ms"), col("value").as(s"${pre}_value"))
    val want = typed("click", "c").join(typed("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ms") >= col("c_ms") &&
        col("p_ms") <= col("c_ms") + 14400000L)
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"), col("p_value").as("value"))
    val got = graft.streaming.StreamingBattery.d139StreamIntervalJoin(spark, sf)
    assert(got.count() > 0, "interval join produced no pairs at this sf")
    assertSameRows(got, want)
  }

  test("d150 stream-stream LEFT join == batch left join (eviction emits the unmatched)") {
    val ev = Tables.events(spark, sf)
    def typed(tpe: String, pre: String) = ev.filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"), col("event_id").as(s"${pre}_id"),
        col("ts_ms").as(s"${pre}_ms"), col("value").as(s"${pre}_value"))
    val want = typed("click", "c").join(typed("purchase", "p"),
      col("c_user") === col("p_user") &&
        col("p_ms") >= col("c_ms") &&
        col("p_ms") <= col("c_ms") + 14400000L, "left_outer")
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"), col("p_value").as("value"))
    val got = graft.streaming.StreamingBattery.d150StreamLeftJoin(spark, sf)
    // the row is only evidence if BOTH emission paths fire at this sf:
    // matches (batch-time) and unmatched clicks (watermark eviction)
    assert(got.filter(col("purchase_id").isNull).count() > 0,
      "no unmatched clicks: the eviction-emission path went untested")
    assert(got.filter(col("purchase_id").isNotNull).count() > 0,
      "no matches: the join path went untested")
    assertSameRows(got, want)
  }

  test("d170 streaming AUC fold == batch d164 (mergeable sufficient statistic)") {
    val got = graft.streaming.StreamingBattery.d170StreamAuc(spark, sf)
    val want = Queries.d164Auc(spark, sf)
    assertSameRows(got, want)
    // teeth: both classes present, so the rank-sum is a real comparison
    val r = got.collect().head
    assert(r.getLong(0) > 0 && r.getLong(1) > 0,
      s"degenerate class balance: $r")
  }

  test("d183 streaming OHLC fold == batch d179 (every component mergeable)") {
    val got = graft.streaming.StreamingBattery.d183StreamOhlc(spark, sf)
    val want = Queries.d179OhlcBars(spark, sf)
    assertSameRows(got, want)
    // teeth: some bucket must have open != close (a fold that only ever
    // saw one tick per bucket would trivially pass)
    assert(got.filter(col("open") =!= col("close")).count() > 0,
      "every bucket degenerate: open == close everywhere")
  }

  test("d196 streaming EWMA ring == batch d195 window plan, bit-for-bit") {
    val got = graft.streaming.StreamingBattery.d196StreamEwma(spark, sf)
    val want = Queries.d195Ewma(spark, sf)
    assertSameRows(got, want) // EXACT doubles — no rounding on either side
    // teeth: some row must smooth over a FULL ring (8 observations) —
    // otherwise the depth-truncation path went unexercised
    val full = got.as[(Long, Long, Long, Long, Double)](
      org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long, Double)])
      .collect().groupBy(_._1).values.map(_.length).max
    assert(full >= 8, s"longest per-user series $full < depth 8")
  }

  test("ewmaStream carries ring state across micro-batches (MemoryStream, 2 adds)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val out = graft.streaming.StreamingOps.ewmaStream(mem.toDS(), depth = 4)
    val sink = s"ewma_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: key 1 sees values 100, 200 (in-batch order by ts)
      mem.addData((1L, 2L, 1L, 200L), (1L, 1L, 1L, 100L))
      q.processAllAvailable()
      // batch 2: value 400 must smooth over the REMEMBERED 200, 100
      mem.addData((1L, 3L, 1L, 400L))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(r => r._2 -> r._5).toMap
      assert(got(1L) == 100.0)                    // 8*100/8
      assert(got(2L) == (8 * 200 + 4 * 100) / 12.0)
      // cross-batch: 8*400 + 4*200 + 2*100 over 8+4+2
      assert(got(3L) == (8 * 400 + 4 * 200 + 2 * 100) / 14.0)
    } finally q.stop()
  }

  test("d203 streaming carried-touch == batch d193 campaign census") {
    val got = graft.streaming.StreamingBattery
      .d203StreamAttribution(spark, sf)
    val want = Queries.d193Attribution(spark, sf)
    assertSameRows(got, want)
    // teeth: both attributed and unattributed campaigns must exist
    assert(got.filter(col("campaign") === -1L).count() > 0,
      "no unattributed purchases: the window bound went unexercised")
    assert(got.filter(col("campaign") >= 0L).count() > 0,
      "nothing attributed: the carried-touch path went unexercised")
  }

  test("lastTouchStream carries touch state across micro-batches (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Int, Long, Double)]
    val out = graft.streaming.StreamingOps
      .lastTouchStream(mem.toDS(), windowMillis = 100L)
    val sink = s"attr_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: touch(camp 7) then an in-batch conversion
      mem.addData((1L, 10L, 1L, 1, 7L, 5.0), (1L, 20L, 2L, 2, 0L, 1.0))
      q.processAllAvailable()
      // batch 2: a conversion inside the window must use the REMEMBERED
      // touch; one past the window must fall to -1
      mem.addData((1L, 100L, 3L, 2, 0L, 2.0), (1L, 300L, 4L, 2, 0L, 3.0))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(r => r._2 -> r._4).toMap
      assert(got == Map(20L -> 7L, 100L -> 7L, 300L -> -1L))
    } finally q.stop()
  }

  test("d207 streaming SCD2 == batch d191 gaps-and-islands, run for run") {
    val got = graft.streaming.StreamingBattery.d207StreamScd2(spark, sf)
    val want = Queries.d191ChangeHistory(spark, sf)
    assertSameRows(got, want)
    // teeth: closed runs (valid_to set) AND flushed open runs must both
    // exist, and some run must span more than one source row
    assert(got.filter(col("valid_to").isNotNull).count() > 0)
    assert(got.filter(col("valid_to").isNull).count() > 0)
    assert(got.filter(col("n_rows") > 1L).count() > 0,
      "every run is singleton: the extend-run state path went unexercised")
  }

  test("scd2Stream carries the open run across micro-batches (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Int)]
    val out = graft.streaming.StreamingOps.scd2Stream(mem.toDS())
    val sink = s"scd2_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: A A — opens a 2-row run, nothing emitted yet
      mem.addData((1L, 10L, 1L, "A", 0), (1L, 20L, 2L, "A", 0))
      q.processAllAvailable()
      assert(s.table(sink).count() == 0L)
      // batch 2: a third A must EXTEND the remembered run; then B closes
      // it — the closed run must span all three A rows across batches
      mem.addData((1L, 30L, 3L, "A", 0), (1L, 40L, 4L, "B", 0))
      q.processAllAvailable()
      // batch 3: flush emits the open B run with valid_to = NULL
      mem.addData((1L, Long.MaxValue, 9L, "", 1))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, String, Long, Option[Long], Long)].collect().toSet
      assert(got == Set(
        (1L, "A", 10L, Some(40L), 3L),
        (1L, "B", 40L, None, 1L)))
      // after the flush, state is cleared: new data opens a FRESH run
      mem.addData((1L, 50L, 5L, "B", 0), (1L, Long.MaxValue, 9L, "", 1))
      q.processAllAvailable()
      assert(s.table(sink)
        .as[(Long, String, Long, Option[Long], Long)].collect().toSet
        .contains((1L, "B", 50L, None, 1L)))
      // and the flushed key is REMOVED from the store (state.remove, not
      // a parked None) — over an unbounded key space with periodic
      // flushes, leaked entries grow state with cumulative cardinality
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 0L,
        s"flushed key left $stateRows state-store rows behind")
    } finally q.stop()
  }

  test("d214 streaming Lindley fold == batch d202 reflection identity, row for row") {
    val got = graft.streaming.StreamingBattery.d214StreamBalance(spark, sf)
    val want = Queries.d202ClampedBalance(spark, sf)
    assertSameRows(got, want)
    // teeth: the clamp must actually bind somewhere, or the two
    // formulations agree trivially
    assert(got.filter(col("balance") === 0L && col("delta") < 0L)
      .count() > 0, "no row ever hit the floor: clamp untested")
  }

  test("balanceStream clamps across micro-batches (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    val out = graft.streaming.StreamingOps.balanceStream(mem.toDS())
    val sink = s"bal_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: +100, then -300 clamps to 0 (not -200)
      mem.addData((1L, 10L, 1L, 100L), (1L, 20L, 2L, -300L))
      q.processAllAvailable()
      // batch 2: +50 must start from the REMEMBERED clamped 0, not -200
      mem.addData((1L, 30L, 3L, 50L))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, Long, Long, Long, Long)].collect()
        .map(r => r._2 -> r._5).toMap
      assert(got == Map(10L -> 100L, 20L -> 0L, 30L -> 50L))
    } finally q.stop()
  }

  test("d232 streaming absorbing walk == batch d231, decision for decision") {
    val got = graft.streaming.StreamingBattery.d232StreamSprt(spark, sf)
    val want = Queries.d231SprtDecision(spark, sf)
    assertSameRows(got, want)
    // teeth: all three outcome branches must fire, or a decision path
    // (accept / reject / the open flush) went unexercised
    val kinds = got.select("decision").collect().map(_.getString(0)).toSet
    assert(kinds == Set("accept", "reject", "open"),
      s"decision outcomes $kinds: a branch went unexercised")
  }

  test("sprtStream absorbs after the decision and flushes open keys (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Int)]
    val out = graft.streaming.StreamingOps.sprtStream(mem.toDS(),
      hi = 5L, lo = -5L)
    val sink = s"sprt_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: key 1 crosses (+3, +3 -> 6 >= 5) mid-batch; key 2 stays
      // open at +3; the trailing key-1 trial in the SAME batch is absorbed
      mem.addData((1L, 10L, 1L, 3L, 0), (1L, 20L, 2L, 3L, 0),
        (1L, 30L, 3L, -2L, 0), (2L, 10L, 4L, 3L, 0))
      q.processAllAvailable()
      // batch 2: key 1 is DECIDED — these trials must not re-decide or
      // re-emit; key 2 walks to -4, still open
      mem.addData((1L, 40L, 5L, -2L, 0), (1L, 50L, 6L, -2L, 0),
        (2L, 40L, 7L, -2L, 0), (2L, 50L, 8L, -2L, 0), (2L, 60L, 9L, -3L, 0))
      q.processAllAvailable()
      // batch 3: flush — key 2 reports open, key 1 emits NOTHING more
      mem.addData((1L, Long.MaxValue, 10L, 0L, 1),
        (2L, Long.MaxValue, 11L, 0L, 1))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == Set((1L, "accept", 2L, 6L), (2L, "open", 4L, -4L)),
        s"got $got")
      // flushed keys must LEAVE the store (decided ones included)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 0L,
        s"flush left $stateRows state-store rows behind")
    } finally q.stop()
  }

  test("sprtStream retainDecided: no double-decision across flush epochs (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Int)]
    val out = graft.streaming.StreamingOps.sprtStream(mem.toDS(),
      hi = 5L, lo = -5L, retainDecided = true)
    val sink = s"sprt_ret_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // epoch 1: key 1 accepts at +6; key 2 stays open; then a flush
      mem.addData((1L, 10L, 1L, 3L, 0), (1L, 20L, 2L, 3L, 0),
        (2L, 10L, 3L, 2L, 0))
      q.processAllAvailable()
      mem.addData((1L, 100L, 4L, 0L, 1), (2L, 100L, 5L, 0L, 1))
      q.processAllAvailable()
      // epoch 2: post-flush trials. Default mode would RE-DECIDE key 1
      // (fresh walk to +6); the tombstone must keep it absorbed. Key 2's
      // flush removed its state, so its fresh walk may decide — open
      // keys keep epoch semantics either way.
      mem.addData((1L, 110L, 6L, 3L, 0), (1L, 120L, 7L, 3L, 0),
        (2L, 110L, 8L, -3L, 0), (2L, 120L, 9L, -3L, 0))
      q.processAllAvailable()
      // epoch 2 flush: key 1 must emit NOTHING (absorbed, not "open")
      mem.addData((1L, 200L, 10L, 0L, 1), (2L, 200L, 11L, 0L, 1))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == Set((1L, "accept", 2L, 6L), (2L, "open", 1L, 2L),
        (2L, "reject", 2L, -6L)),
        s"got $got — key 1 must decide exactly once across epochs")
      // the knob's documented trade: decided-key tombstones REMAIN in the
      // store after flushes — key 1 (epoch-1 decision) AND key 2 (rejected
      // in epoch 2), so the store tracks decided-key cardinality
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 2L,
        s"expected both decided keys' tombstones in the store, got $stateRows")
    } finally q.stop()
  }

  test("sprtStream tombstoneTtlFlushes: absorbed inside the window, expires after it (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Int)]
    // TTL = 2: the tombstone survives one flush (absorbing epoch 2) and
    // is dropped at the second — the bounded-store mode of retainDecided
    val out = graft.streaming.StreamingOps.sprtStream(mem.toDS(),
      hi = 5L, lo = -5L, retainDecided = true, tombstoneTtlFlushes = 2)
    val sink = s"sprt_ttl_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    def stateRows(): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // epoch 1: key 1 accepts at +6, then flush 1 — tombstone retained
      mem.addData((1L, 10L, 1L, 3L, 0), (1L, 20L, 2L, 3L, 0))
      q.processAllAvailable()
      mem.addData((1L, 100L, 3L, 0L, 1))
      q.processAllAvailable()
      assert(stateRows() == 1L,
        s"tombstone must survive flush 1 of TTL 2, store has ${stateRows()}")
      // epoch 2: in-window trials stay absorbed (no double decision)
      mem.addData((1L, 110L, 4L, 3L, 0), (1L, 120L, 5L, 3L, 0))
      q.processAllAvailable()
      // flush 2: the tombstone ages out — the store empties (the bound)
      mem.addData((1L, 200L, 6L, 0L, 1))
      q.processAllAvailable()
      assert(stateRows() == 0L,
        s"tombstone must expire at flush 2 of TTL 2, store has ${stateRows()}")
      // epoch 3: post-expiry trials start a FRESH walk that may decide
      mem.addData((1L, 210L, 7L, -3L, 0), (1L, 220L, 8L, -3L, 0))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == Set((1L, "accept", 2L, 6L), (1L, "reject", 2L, -6L)),
        s"got $got — expected exactly the epoch-1 accept (epoch-2 trials " +
          "absorbed in-window) and the post-expiry epoch-3 reject")
    } finally q.stop()
  }

  test("d236 streaming funnel == batch d228's first four stages, source for source") {
    val got = graft.streaming.StreamingBattery.d236StreamCuration(spark, sf)
    val want = Queries.d228CurationPipeline(spark, sf)
      .select("source", "n_input", "n_dedup", "n_quality", "n_clean")
    assertSameRows(got, want)
    // teeth: the dedup boundary must bite (a later duplicate counted as
    // input but not dedup), or first-wins state went unexercised
    assert(got.filter(col("n_input") > col("n_dedup")).count() > 0,
      "no source lost a duplicate: the dedup stage went unexercised")
  }

  test("curationFunnelStream: duplicate later batch tags input only; gates gate (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(String, Long, String, Boolean, Boolean)]
    val out = graft.streaming.StreamingOps.curationFunnelStream(mem.toDS())
    val sink = s"cur_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: kA survivor passes both gates; kB survivor fails quality
      mem.addData(("kA", 1L, "s1", true, true), ("kB", 2L, "s1", false, true))
      q.processAllAvailable()
      // batch 2: kA duplicate (input only, despite passing flags);
      // kC survivor passes quality but is contaminated
      mem.addData(("kA", 3L, "s2", true, true), ("kC", 4L, "s2", true, false))
      q.processAllAvailable()
      val got = s.table(sink).as[(String, String)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(got == Map(
        // kA full funnel; kB is a dedup survivor that FAILS quality
        ("s1", "input") -> 2, ("s1", "dedup") -> 2,
        ("s1", "quality") -> 1, ("s1", "clean") -> 1,
        // kA's duplicate tags input ONLY (flags notwithstanding);
        // kC passes quality but is contaminated — no clean tag
        ("s2", "input") -> 2, ("s2", "dedup") -> 1,
        ("s2", "quality") -> 1), s"got $got")
    } finally q.stop()
  }

  test("d238 streaming packer == batch d59 window plan, bin for bin") {
    val got = graft.streaming.StreamingBattery.d238StreamPacking(spark, sf)
    val want = Queries.d59PackSequences(spark, sf)
      .select(col("source"), expr("CAST(bin_id AS BIGINT)").as("bin_id"),
        col("n_docs"), col("sum_tokens"), col("first_doc"), col("last_doc"))
    assertSameRows(got, want)
    // teeth: some source must fill >1 bin, or the budget never bound
    assert(got.groupBy("source").count().filter(col("count") > 1)
      .count() > 0, "every source fit one bin: budget untested")
  }

  test("packStream carries the running token count across micro-batches (MemoryStream)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val out = graft.streaming.StreamingOps.packStream(mem.toDS(), budget = 100L)
    val sink = s"pack_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: 60 + 30 tokens -> both bin 0, cum 90
      mem.addData(("s", 1L, 60L), ("s", 2L, 30L))
      q.processAllAvailable()
      // batch 2: starts at the REMEMBERED 90 -> bin 0; next at 130 -> bin 1
      // (a lost cum would restart at 0 and re-pack both into bin 0)
      mem.addData(("s", 3L, 40L), ("s", 4L, 50L))
      q.processAllAvailable()
      val got = s.table(sink).as[(String, Long, Long, Long)].collect()
        .map(r => r._2 -> r._4).toMap
      assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L), s"got $got")
    } finally q.stop()
  }

  test("d213 streaming interval merge == batch d209, span for span") {
    val got = graft.streaming.StreamingBattery
      .d213StreamIntervalMerge(spark, sf)
    val want = Queries.d209IntervalMerge(spark, sf)
    assertSameRows(got, want)
    assert(got.filter(col("n_orders") > 1L).count() > 0,
      "no span merged >1 interval: the extend path went unexercised")
  }

  test("intervalMergeStream: extend/contain/clear across batches; flush removes state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Int)]
    val out = graft.streaming.StreamingOps.intervalMergeStream(mem.toDS())
    val sink = s"imerge_mem_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      // batch 1: [10,50) then a CONTAINED [20,30) — span stays [10,50)
      mem.addData((1L, 10L, 50L, 1L, 0), (1L, 20L, 30L, 2L, 0))
      q.processAllAvailable()
      // batch 2: [40,60) overlaps the REMEMBERED span (40 <= 50) and
      // extends it to [10,60); then [70,80) clears it — emit [10,60)x3
      mem.addData((1L, 40L, 60L, 3L, 0), (1L, 70L, 80L, 4L, 0))
      q.processAllAvailable()
      // batch 3: flush emits the open [70,80) and removes state
      mem.addData((1L, Long.MaxValue, Long.MaxValue, 9L, 1))
      q.processAllAvailable()
      val got = s.table(sink)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 10L, 60L, 3L), (1L, 70L, 80L, 1L)))
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 0L,
        s"flushed key left $stateRows state-store rows behind")
    } finally q.stop()
  }

  test("staged-input memo: a re-run replays the FULL stream fresh (no offset resume)") {
    // battery rows memoize their staged input per (application, sf dir,
    // row); the hazard a shared input could introduce is a shared
    // CHECKPOINT — a resumed query would process zero files and return an
    // empty (or stale) sink. Running the same order-sensitive row twice in
    // one session must hit the memo (same staged files) AND still produce
    // the complete, identical result, proving every run gets a fresh
    // checkpoint and replays all slices through the stateful operator.
    val first = graft.streaming.StreamingBattery.d196StreamEwma(spark, sf)
    val second = graft.streaming.StreamingBattery.d196StreamEwma(spark, sf)
    assert(first.count() > 0, "first run empty — vacuous")
    assertSameRows(first, second)
  }
}
