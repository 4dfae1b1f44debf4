package graft

import graft.api.Pipeline
import graft.core._
import graft.operators.ScaleOps
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkTestBase {

  test("writeShards: hive partitions, bounded file sizes, sorted within every file") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    val df = Tables.events(s, "/root/testdata/sf0.01")
      .select(col("event_type"), col("event_id"), col("ts_ms"))
    ScaleOps.writeShards(df, dir, Seq("event_type"), Seq("ts_ms"),
      maxRecordsPerFile = 500)
    // hive layout: one directory per event_type
    val partDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("event_type="))
    assert(partDirs.length == 5, s"expected 5 partitions, got ${partDirs.map(_.getName).toSeq}")
    // every data file respects the record cap AND is internally sorted
    for (pd <- partDirs; f <- pd.listFiles() if f.getName.endsWith(".parquet")) {
      val rows = s.read.parquet(f.getAbsolutePath).select(col("ts_ms"))
        .collect().map(_.getLong(0))
      assert(rows.length <= 500, s"${f.getName}: ${rows.length} rows exceed cap")
      assert(rows.sameElements(rows.sorted), s"${f.getName} not sorted by ts_ms")
    }
    // nothing lost in the reshaping
    assert(s.read.parquet(dir).count() == df.count())
  }

  test("saltedAggregate equals plain aggregate on a skewed key") {
    val s = spark
    import s.implicits._
    // one hot key (90% of rows) + long tail
    val df = ((1 to 900).map(i => ("hot", i.toDouble)) ++
      (1 to 100).map(i => (s"k$i", i.toDouble))).toDF("k", "v")
    val salted = ScaleOps.saltedAggregate(df, Seq("k"), 8,
        partials = Seq(count(lit(1)).as("n"), sum(col("v")).as("s")),
        merges = Seq(sum(col("n")).as("n"), round(sum(col("s")), 6).as("s")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), round(sum(col("v")), 6).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assertMultiset(salted, plain)
  }

  test("deterministicStratifiedSample: reproducible, fraction-accurate, stratum-scoped") {
    val s = spark
    import s.implicits._
    val df = (1L to 20000L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
      .toDF("id", "lang")
    def run() = ScaleOps.deterministicStratifiedSample(df, "lang", "id",
        Map("en" -> 0.5, "de" -> 0.1), defaultFraction = 0.0)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = run(); val b = run()
    assert(a == b, "sampling must be deterministic across runs")
    // zero-fraction stratum fully excluded
    assert(!a.exists(_._2 == "xx"))
    // per-stratum rates within a loose tolerance (hash-gate binomial)
    val en = a.count(_._2 == "en").toDouble / (20000 / 3)
    val de = a.count(_._2 == "de").toDouble / (20000 / 3 + 1)
    assert(math.abs(en - 0.5) < 0.05, s"en rate $en")
    assert(math.abs(de - 0.1) < 0.05, s"de rate $de")
  }

  test("approx_percentile stays within sketch tolerance of the exact answer (d56 vs d40)") {
    val d = "/root/testdata/sf0.001"
    val exact = Queries.d40Percentiles(spark, d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Queries.d56ApproxPercentiles(spark, d).collect().foreach { r =>
      val (p50, p95) = exact(r.getString(0))
      // GK sketch with accuracy 1000 -> rank error <= 1/1000; on this data
      // a generous value-space tolerance of 10% relative
      assert(math.abs(r.getDouble(1) - p50) <= math.abs(p50) * 0.1 + 1e-6,
        s"${r.getString(0)} p50 ${r.getDouble(1)} vs $p50")
      assert(math.abs(r.getDouble(2) - p95) <= math.abs(p95) * 0.1 + 1e-6,
        s"${r.getString(0)} p95 ${r.getDouble(2)} vs $p95")
    }
  }

  test("deterministicWeightedSample: reproducible, monotone in weight, exact at the extremes") {
    val s = spark
    import s.implicits._
    val rows = (1L to 2000L).map(i => (i, (i % 100) + 1)).toDF("id", "w")
    def keep(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      ScaleOps.deterministicWeightedSample(rows, "id", num, den)
        .select("id").collect().map(_.getLong(0)).toSet
    // weight 0 keeps nothing; weight 1 (num == den) keeps everything
    assert(keep(lit(0L), lit(100L)).isEmpty)
    assert(keep(col("w"), col("w")).size == 2000)
    // reproducible: same rows on a re-run (no RNG state)
    val a = keep(col("w"), lit(100L))
    assert(a == keep(col("w"), lit(100L)))
    // monotone: halving every weight can only shrink the kept set, and the
    // smaller set is a SUBSET (same per-id uniform, lower threshold)
    val half = keep(col("w"), lit(200L))
    assert(half.subsetOf(a), "lower weight must keep a subset")
    assert(half.size < a.size)
    // fraction accuracy: E[keep] = mean(w)/100 = 50.5% ± a few points
    assert(math.abs(a.size / 2000.0 - 0.505) < 0.05, s"kept ${a.size}/2000")
  }

  test("bundle finalization runs after task commit, exceptions swallowed (ray_runner_test.py:1021-1081)") {
    val p = Pipeline(spark)
    val fired = p.metrics.counter("fin", "fired-" + System.nanoTime() % 100000)
    val out = p.create(1 to 10).reshuffle(2)
      .parDo(new DoFn[Int, Int] {
        def process(e: Int, ctx: ProcessContext[Int]): Unit = {
          if (e == 1) {
            ctx.registerFinalization(() => fired.add(1L))
            ctx.registerFinalization(() => throw new RuntimeException("swallowed"))
          }
          ctx.output(e)
        }
      }).collect()
    assertMultiset(out, (1 to 10).toSeq)
    // callback ran exactly once (one task registered), and the throwing
    // callback didn't fail the job
    assert(fired.value == 1L)
  }

  test("applyChanges: insert adds, update replaces, delete removes, untouched survive") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq((2L, "B", "U"), (3L, "c", "D"), (4L, "d", "I"))
      .toDF("k", "v", "op")
    assertMultiset(
      ScaleOps.applyChanges(base, changes, Seq("k"), "op")
        .as[(Long, String)].collect().toSeq,
      Seq((1L, "a"), (2L, "B"), (4L, "d")))
  }

  test("applyChanges: seqCol makes a duplicated, out-of-order change log last-wins") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    // key 1: update then delete (delete is latest); key 2: two updates out
    // of order (seq 5 must win); key 3: insert then update (update wins)
    val log = Seq(
      (1L, "A", "U", 1L), (1L, "A", "D", 2L),
      (2L, "B2", "U", 5L), (2L, "B1", "U", 3L),
      (3L, "c0", "I", 1L), (3L, "c1", "U", 2L))
      .toDF("k", "v", "op", "seq")
    val got = ScaleOps.applyChanges(base, log, Seq("k"), "op", seqCol = Some("seq"))
      .as[(Long, String)].collect().toSeq
    assertMultiset(got, Seq((2L, "B2"), (3L, "c1")))
    // idempotent under replay: applying the same log to the result of a
    // prefix replay converges to the same snapshot
    val prefix = ScaleOps.applyChanges(base,
      log.filter(col("seq") <= 2), Seq("k"), "op", seqCol = Some("seq"))
    val replayed = ScaleOps.applyChanges(prefix, log, Seq("k"), "op",
      seqCol = Some("seq")).as[(Long, String)].collect().toSeq
    assertMultiset(replayed, Seq((2L, "B2"), (3L, "c1")))
  }

  test("snapshotDiff: classifies I/U/D, ignores unchanged, and round-trips through applyChanges") {
    val s = spark
    import s.implicits._
    val before = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("k", "v", "x")
    val after = Seq((1L, "a", 10.0), (2L, "B", 20.0), (4L, "d", 44.0), (5L, "e", 50.0))
      .toDF("k", "v", "x")
    val diff = ScaleOps.snapshotDiff(before, after, Seq("k"))
    assertMultiset(
      diff.as[(Long, String, Double, String)].collect().toSeq,
      Seq((2L, "B", 20.0, "U"), (3L, "c", 30.0, "D"),
        (4L, "d", 44.0, "U"), (5L, "e", 50.0, "I")))
    // round-trip law: replaying the diff onto `before` reconstructs `after`
    val replayed = ScaleOps.applyChanges(before, diff, Seq("k"), "op")
    assertMultiset(replayed.as[(Long, String, Double)].collect().toSeq,
      after.as[(Long, String, Double)].collect().toSeq)
    // identical snapshots produce an empty log
    assert(ScaleOps.snapshotDiff(before, before, Seq("k")).isEmpty)
    // null-safe compare: a null<->value flip is a U, null==null is unchanged
    val b2 = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String])).toDF("k", "v")
    val a2 = Seq((1L, null.asInstanceOf[String]), (2L, "now-set")).toDF("k", "v")
    assertMultiset(
      ScaleOps.snapshotDiff(b2, a2, Seq("k")).as[(Long, String, String)].collect().toSeq,
      Seq((2L, "now-set", "U")))
  }

  test("compactFiles: bin-packs small files to the byte target without losing rows") {
    val s = spark
    val in = java.nio.file.Files.createTempDirectory("graft-compact-in").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compact-out").toString
    try {
      val df = Tables.documents(s, "/root/testdata/sf0.01")
        .select(col("doc_id"), col("text"))
      df.repartition(40).write.mode("overwrite").parquet(in) // the littered state
      def parts(d: String) = new java.io.File(d).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(parts(in).length == 40)
      val bytes = parts(in).map(_.length()).sum
      val planned = ScaleOps.compactFiles(s, in, out, targetBytes = bytes / 4)
      // ceil division lands on 4 or 5 depending on footer overhead; the
      // point is the formula, so recompute it here
      assert(planned == ((bytes + bytes / 4 - 1) / (bytes / 4)).toInt)
      assert(parts(out).length == planned,
        s"expected $planned output files, got ${parts(out).length}")
      // content preserved row-for-row
      assert(s.read.parquet(out).count() == df.count())
      assert(s.read.parquet(out).except(df).isEmpty && df.except(s.read.parquet(out)).isEmpty)
      // and the compaction plan is narrow: no shuffle exchange anywhere
      val plan = s.read.parquet(in).coalesce(planned).queryExecution.executedPlan
      assert(!plan.toString.contains("Exchange"), s"compaction must not shuffle:\n$plan")
      // in-place compaction is refused — equality AND containment in both
      // directions (an outPath above the input would overwrite-delete it;
      // one inside it would write output into the source tree)
      intercept[IllegalArgumentException] { ScaleOps.compactFiles(s, in, in) }
      intercept[IllegalArgumentException] {
        ScaleOps.compactFiles(s, s"$in/date=2024", in)
      }
      intercept[IllegalArgumentException] {
        ScaleOps.compactFiles(s, in, s"$in/compacted")
      }
    } finally {
      deleteRecursively(in); deleteRecursively(out)
    }
  }

  test("incrementalAgg: retract-stream maintenance equals full recompute at DECIMAL exactness") {
    val s = spark
    import s.implicits._
    val base = Seq((1L, "3.10"), (1L, "1.00"), (2L, "2.50"), (3L, "7.25"))
      .toDF("k", "amt").withColumn("amt", col("amt").cast("decimal(18,2)"))
    val prevAgg = base.groupBy("k")
      .agg(count(lit(1)).as("cnt"), sum(col("amt")).as("amt"))
    // retract log: delete key 3 entirely, reprice one key-1 row, add key 4
    val log = Seq(
      (3L, "7.25", -1), // full delete
      (1L, "3.10", -1), (1L, "3.99", 1), // update = retract + insert
      (4L, "0.75", 1)) // new key
      .toDF("k", "amt", "w").withColumn("amt", col("amt").cast("decimal(18,2)"))
    val next = ScaleOps.incrementalAgg(prevAgg, log, Seq("k"), "w", Seq("amt"))
      .select(col("k"), col("cnt"), col("amt").cast("string"))
      .as[(Long, Long, String)].collect().toSeq
    // full recompute over the post-change state
    val recomputed = Seq((1L, "3.99"), (1L, "1.00"), (2L, "2.50"), (4L, "0.75"))
      .toDF("k", "amt").withColumn("amt", col("amt").cast("decimal(18,2)"))
      .groupBy("k").agg(count(lit(1)).as("cnt"), sum(col("amt")).as("amt"))
      .select(col("k"), col("cnt"), col("amt").cast("string"))
      .as[(Long, Long, String)].collect().toSeq
    assertMultiset(next, recomputed)
    // key 3 left no residue
    assert(!next.exists(_._1 == 3L))
    // snapshotDiff output feeds incrementalAgg: D -> -1, I -> +1, U -> both
    val after = Seq((1L, "1.00"), (1L, "3.99"), (2L, "2.50"), (4L, "0.75"))
      .toDF("k", "amt").withColumn("amt", col("amt").cast("decimal(18,2)"))
    // rid makes rows unique so the diff is row-level; the group key stays k
    val next2 = ScaleOps.incrementalAgg(prevAgg,
      ScaleOps.snapshotDiff(
          base.withColumn("rid", xxhash64(col("k"), col("amt"))),
          after.withColumn("rid", xxhash64(col("k"), col("amt"))),
          Seq("rid"))
        .select(col("k"), col("amt"),
          when(col("op") === "D", -1).otherwise(1).as("w")),
      Seq("k"), "w", Seq("amt"))
      .select(col("k"), col("cnt"), col("amt").cast("string"))
      .as[(Long, Long, String)].collect().toSeq
    assertMultiset(next2, recomputed)
  }

  test("saltedJoin: salting invisible in results, left rows survive once, salt reaches the exchange") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (3L, "e"))
      .toDF("k", "lv")
    val right = Seq((1L, 10), (2L, 20), (9L, 90)).toDF("k", "rv")
    val inner = ScaleOps.saltedJoin(left, right, Seq("k"), 4)
    assertMultiset(
      inner.select(col("k"), col("lv"), col("rv")).as[(Long, String, Int)].collect().toSeq,
      left.join(right, "k").select(col("k"), col("lv"), col("rv"))
        .as[(Long, String, Int)].collect().toSeq)
    // left join: the unmatched left row (k=3) survives EXACTLY once, not
    // once per salt
    val lj = ScaleOps.saltedJoin(left, right, Seq("k"), 4, "left")
    assert(lj.count() == 5)
    assert(lj.filter(col("k") === 3 && col("rv").isNull).count() == 1)
    // deterministic: the salt is a pure function of the row, so two
    // independent plans produce identical output (retry/speculation safety)
    assertMultiset(
      inner.collect().map(_.toSeq).toSeq,
      ScaleOps.saltedJoin(left, right, Seq("k"), 4).collect().map(_.toSeq).toSeq)
    // the whole point: the join (and so its exchange requirement) keys on
    // (k, __salt) — a hot key's rows spread over saltFactor reducers.
    // sparkPlan shows the join BEFORE EnsureRequirements inserts the
    // exchanges, so pin the join keys, which the exchanges must satisfy.
    withBroadcastThreshold("-1") {
      val plan = ScaleOps.saltedJoin(left, right, Seq("k"), 4)
        .queryExecution.sparkPlan.toString
      assert("Join \\[k#\\d+L?, __salt".r.findFirstIn(plan).nonEmpty,
        s"expected a join keyed on (k, __salt) in:\n$plan")
    }
    // outer flavors that would duplicate unmatched right rows are refused
    intercept[IllegalArgumentException] {
      ScaleOps.saltedJoin(left, right, Seq("k"), 4, "full_outer")
    }
  }

  test("saltedJoin: seeded random sweep == unsalted join, null keys included") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (factor <- Seq(2, 5); joinType <- Seq("inner", "left")) {
      // key space small enough to force overlaps AND misses; ~8% null keys
      // pin SQL null-match semantics (null joins nothing, salted or not)
      def keys(n: Int) = Seq.fill(n)(
        if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(12).toLong))
      val left = keys(200).zipWithIndex.map { case (k, i) => (k, s"l$i") }
        .toDF("k", "lv")
      val right = keys(30).zipWithIndex.map { case (k, i) => (k, i) }
        .toDF("k", "rv")
      val got = ScaleOps.saltedJoin(left, right, Seq("k"), factor, joinType)
        .select(col("k"), col("lv"), col("rv"))
      val want = left.join(right, Seq("k"), joinType)
        .select(col("k"), col("lv"), col("rv"))
      assertMultiset(
        got.collect().map(_.toSeq).toSeq, want.collect().map(_.toSeq).toSeq)
    }
  }

  test("fillForward: fills from the latest non-null, leading nulls stay, one Window for all columns") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", 1L, Option.empty[Int], Option.empty[Double]),
      ("a", 2L, Some(10), Some(1.5)),
      ("a", 3L, None, None),
      ("a", 4L, Some(20), None),
      ("a", 5L, None, Some(2.5)),
      ("b", 1L, None, None))
      .toDF("k", "o", "x", "y")
    val got = ScaleOps.fillForward(df, Seq("k"), Seq("o"), Seq("x", "y"))
      .orderBy("k", "o")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(got == Seq(
      ("a", 1L, None, None),            // leading nulls: nothing to fill from
      ("a", 2L, Some(10), Some(1.5)),
      ("a", 3L, Some(10), Some(1.5)),   // both filled from o=2
      ("a", 4L, Some(20), Some(1.5)),   // x advances, y still from o=2
      ("a", 5L, Some(20), Some(2.5)),
      ("b", 1L, None, None)))           // partitions isolated
    // both fill columns must share ONE window (one sort, one shuffle)
    val plan = ScaleOps.fillForward(df, Seq("k"), Seq("o"), Seq("x", "y"))
      .queryExecution.sparkPlan.toString
    assert("(?m)^\\s*\\+?-? ?Window ".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node:\n$plan")
  }

  test("fillInterpolated: linear between neighbors, edges stay null, tied x degenerates to prev") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", 0L, Option.empty[Double]), // leading null: stays
      ("a", 10L, Some(1.0)),
      ("a", 15L, None), // halfway 1.0→3.0 over [10,20] → 2.0
      ("a", 20L, Some(3.0)),
      ("a", 24L, None), // 40% of 3.0→8.0 over [20,30] → 5.0
      ("a", 30L, Some(8.0)),
      ("a", 40L, None), // trailing null: stays
      ("b", 5L, None)) // whole-partition null: stays
      .toDF("k", "x", "v")
    val got = ScaleOps.fillInterpolated(df, Seq("k"), "x", Seq("v"))
      .orderBy("k", "x")
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toSeq
    assert(got == Seq(
      ("a", 0L, None), ("a", 10L, Some(1.0)), ("a", 15L, Some(2.0)),
      ("a", 20L, Some(3.0)), ("a", 24L, Some(5.0)), ("a", 30L, Some(8.0)),
      ("a", 40L, None), ("b", 5L, None)))
    // duplicate x on both neighbors: Δx = 0 must yield prev, not NaN
    val tied = Seq(("a", 1L, 1L, Some(2.0)), ("a", 1L, 2L, None),
      ("a", 1L, 3L, Some(4.0))).toDF("k", "x", "o", "v")
    val t = ScaleOps.fillInterpolated(tied, Seq("k"), "x", Seq("v"),
      orderCols = Seq("o")).orderBy("o").collect()
    assert(t.map(r => r.getAs[Double]("v")).toSeq == Seq(2.0, 2.0, 4.0))
    // non-null values pass through bit-identical
    assert(t.head.getAs[Double]("v") == 2.0)
    // ONE Window node for all four neighbor lookups = one shuffle+sort
    // (sparkPlan is pre-EnsureRequirements, so pin the Window, not the
    // exchange it will demand)
    val plan = ScaleOps.fillInterpolated(df, Seq("k"), "x", Seq("v"))
      .queryExecution.sparkPlan.toString
    assert("(?m)^\\s*\\+?-? ?Window ".r.findAllIn(plan).size == 1,
      s"expected exactly one Window node:\n$plan")
  }

  test("bloomSemiJoin == exact semi join, even at adversarial fpp") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val big = (1 to 2000).map(_ => rnd.nextInt(500).toLong)
      .zipWithIndex.map { case (k, i) => (k, s"p$i") }.toDF("k", "payload")
    val small = (1 to 60).map(_ => rnd.nextInt(500).toLong).toDF("k")
    for (fpp <- Seq(0.01, 0.5)) { // 0.5: the filter passes junk; join must drop it
      val got = ScaleOps.bloomSemiJoin(big, small, Seq("k"),
        expectedItems = 64, fpp = fpp)
      val want = big.join(small.distinct(), Seq("k"), "left_semi")
      assertMultiset(got.collect().map(_.toSeq).toSeq,
        want.collect().map(_.toSeq).toSeq)
    }
    // undersized filter degrades fpp, never correctness
    val tiny = ScaleOps.bloomSemiJoin(big, small, Seq("k"),
      expectedItems = 2, fpp = 0.01)
    assertMultiset(tiny.collect().map(_.toSeq).toSeq,
      big.join(small.distinct(), Seq("k"), "left_semi")
        .collect().map(_.toSeq).toSeq)
  }

  test("deterministicSplit: disjoint+exhaustive, group-coherent, model-exact, map-only") {
    val s = spark
    import s.implicits._
    val df = (1L to 3000L).map(id => (id % 300, id)).toDF("grp", "id")
    val out = ScaleOps.deterministicSplit(df, "grp",
      Seq(("train", 8), ("val", 1), ("test", 1)))
    val rows = out.collect().map(r => (r.getLong(0), r.getString(2)))
    // exhaustive: every row labeled
    assert(rows.length == 3000 && rows.forall(_._2 != null))
    // group-coherent: a group maps to exactly one split
    val perGroup = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size)
    assert(perGroup.values.forall(_ == 1), "a group straddles splits")
    // model-exact: replicate the integer-bucketed md5 assignment in-JVM
    def modelSplit(g: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.toString.getBytes("UTF-8"))
      val hex = md.take(3).map(b => f"$b%02x").mkString // 6 hex chars
      val h = java.lang.Long.parseLong(hex, 16)
      if (h < 8L * 16777216 / 10) "train"
      else if (h < 9L * 16777216 / 10) "val" else "test"
    }
    rows.foreach { case (g, sp) =>
      assert(sp == modelSplit(g), s"grp=$g got $sp want ${modelSplit(g)}")
    }
    // ratios land near 8/1/1 (binomial over 300 groups)
    val counts = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(counts("train") > 2000 && counts("val") < 700 && counts("test") < 700,
      s"$counts")
    // map-only: no exchange anywhere in the labeling plan
    val plan = ScaleOps.deterministicSplit(df, "grp",
      Seq(("a", 1), ("b", 1))).queryExecution.sparkPlan.toString
    assert(!plan.contains("Exchange"), s"split must be map-only:\n$plan")
    // guards: duplicate names, colliding out column
    intercept[IllegalArgumentException] {
      ScaleOps.deterministicSplit(df, "grp", Seq(("x", 1), ("x", 1)))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.deterministicSplit(df, "grp", Seq(("a", 1), ("b", 1)), "id")
    }
    // null keys route to the LAST split (a SQL CASE's ELSE), never NULL —
    // the exhaustive contract holds for every row
    val withNull = Seq((Some(1L), 1L), (None, 2L), (None, 3L))
      .toDF("grp", "id")
    val nl = ScaleOps.deterministicSplit(withNull, "grp",
      Seq(("train", 8), ("val", 1), ("test", 1))).collect()
    assert(nl.forall(_.getString(2) != null))
    assert(nl.filter(_.isNullAt(0)).forall(_.getString(2) == "test"))
  }

  test("temperatureMixtureSample: a null stratum is a stratum (kept, not dropped)") {
    val s = spark
    import s.implicits._
    val df = ((1 to 400).map(i => (Some("en"), i.toLong)) ++
      (401 to 800).map(i => (Option.empty[String], i.toLong)))
      .toDF("lang", "id")
    val out = ScaleOps.temperatureMixtureSample(df, "lang", "id", 400L, 0.5)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    // equal strata → equal targets (200 each); md5 gate keeps ≈ target
    assert(byLang.contains(None), s"null stratum dropped: $byLang")
    assert(math.abs(byLang(None) - 200L) < 60, s"$byLang")
    assert(math.abs(byLang(Some("en")) - 200L) < 60, s"$byLang")
  }

  test("joinFanoutCensus: exact prediction, hot-key ranking, no-sort plan") {
    val s = spark
    import s.implicits._
    val left = (Seq.fill(50)(1L) ++ Seq.fill(10)(2L) ++ Seq(3L, 4L))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "lv")
    val right = (Seq.fill(4)(1L) ++ Seq.fill(2)(2L) ++ Seq(3L, 9L))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "rv")
    val census = ScaleOps.joinFanoutCensus(left, right, Seq("k"), topK = 2)
      .collect()
    // prediction must equal the ACTUAL join output size
    val actual = left.join(right, "k").count()
    assert(census.head.getAs[Long]("total_rows") == actual)
    assert(actual == 50L * 4 + 10L * 2 + 1L) // 221
    // hot keys ranked by contribution: k=1 (200), k=2 (20)
    assert(census.map(_.getAs[Long]("k")).toSeq == Seq(1L, 2L))
    assert(census.map(_.getAs[Long]("out_rows")).toSeq == Seq(200L, 20L))
    assert(census.head.getAs[Double]("share") == math.rint(200.0 / 221 * 1e6) / 1e6)
    // disjoint keys: empty census, zero total — never a crash
    val none = ScaleOps.joinFanoutCensus(
      Seq(1L).toDF("k"), Seq(2L).toDF("k"), Seq("k"))
    assert(none.count() == 0)
    // the top-K must plan as TakeOrdered (limit pushdown), not a global sort
    val plan = ScaleOps.joinFanoutCensus(left, right, Seq("k"), 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K census must not global-sort:\n$plan")
  }

  test("temperatureMixtureSample: flattening, budget, corners, determinism") {
    val s = spark
    import s.implicits._
    // skewed strata: a=400, b=100, c=25
    val df = ((1 to 400).map(i => (i.toLong, "a")) ++
      (401 to 500).map(i => (i.toLong, "b")) ++
      (501 to 525).map(i => (i.toLong, "c"))).toDF("id", "k")
    def keptBy(alpha: Double, target: Long = 250L): Map[String, Long] =
      ScaleOps.temperatureMixtureSample(df, "k", "id", target, alpha)
        .groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val half = keptBy(0.5)
    // md5-gate keeps ≈ rate·n per stratum; targets are a:167,b:83,c:42
    // (sqrt weights 20:10:5, capped nowhere). Gate is hash-random, so
    // allow binomial slack but pin the FLATTENING: keep-rate must be
    // monotone DECREASING in stratum size
    val rate = Map("a" -> half("a") / 400.0, "b" -> half("b") / 100.0,
      "c" -> half("c") / 25.0)
    assert(rate("a") < rate("b") && rate("b") < rate("c"),
      s"alpha=0.5 must flatten toward the tail: $rate")
    // alpha=1 is proportional: every stratum keeps ~the same rate
    val prop = keptBy(1.0)
    val pr = Seq(prop("a") / 400.0, prop("b") / 100.0, prop("c") / 25.0)
    assert(pr.max - pr.min < 0.25, s"alpha=1 rates should be ~equal: $pr")
    // a huge budget keeps everything (targets cap at n)
    assert(keptBy(0.5, 10000L).values.sum == 525L)
    // deterministic: two plans, identical kept sets
    val a = ScaleOps.temperatureMixtureSample(df, "k", "id", 250L, 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = ScaleOps.temperatureMixtureSample(df, "k", "id", 250L, 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // kept rows are a subset of the input with original columns intact,
    // in the input's own order (the null-safe join is pass-through)
    val cols = ScaleOps.temperatureMixtureSample(df, "k", "id", 250L, 0.5).columns
    assert(cols.toSeq == df.columns.toSeq)
  }

  test("bloomSemiJoin refuses mismatched key types (xxhash64 is type-sensitive)") {
    val s = spark
    import s.implicits._
    val big = Seq((1, "x")).toDF("k", "v") // k: INT
    val small = Seq(1L).toDF("k") // k: BIGINT — hashes differently
    val e = intercept[IllegalArgumentException] {
      ScaleOps.bloomSemiJoin(big, small, Seq("k"))
    }
    assert(e.getMessage.contains("type mismatch"))
  }

  test("bloomSemiJoin: bloom probe prunes the big side BELOW its exchange") {
    val s = spark
    import s.implicits._
    // a FILE source: over a LocalRelation the optimizer folds the filter
    // into the relation at planning time and the pin would be vacuous
    val big = Tables.lineitem(s, "/root/testdata/sf0.001")
      .select(col("l_orderkey").as("k"), col("l_extendedprice"))
    val small = Tables.orders(s, "/root/testdata/sf0.001")
      .filter(col("o_totalprice") > 450000).select(col("o_orderkey").as("k"))
    withBroadcastThreshold("-1") {
      val df = ScaleOps.bloomSemiJoin(big, small, Seq("k"), expectedItems = 8)
      df.queryExecution.toRdd.foreach(_ => ()) // run so AQE finalizes
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toSeq
      val firstExchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
      assert(firstExchange >= 0, s"expected a shuffled semi join:\n${lines.mkString("\n")}")
      // tree print is parent-first: the bloom-probe Filter must sit BELOW
      // (= print after) the big side's exchange, i.e. it prunes pre-shuffle
      val probeLine = lines.indexWhere(l =>
        l.contains("Filter") && l.toLowerCase.contains("bloommightcontain"))
      assert(probeLine > firstExchange,
        s"bloom probe not below the exchange:\n${lines.mkString("\n")}")
    }
  }

  test("profileColumns: null census, NATIVE-type min/max, one scan; approx mode drops Expand") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (2L, Some(10), "b"), (100L, None, "a"), (9L, Some(10), null),
      (100L, Some(3), "c"), (9L, None, null))
      .toDF("big", "opt", "str")
    val prof = ScaleOps.profileColumns(df, Seq("big", "opt", "str"))
    val byCol = prof.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    // min/max on the NATIVE type: numeric order gives 2..100, where a
    // lexicographic (string) min/max would have given "100".."9"
    assert(byCol("big") == ((5L, 0L, 3L, "2", "100")))
    assert(byCol("opt") == ((5L, 2L, 2L, "3", "10")))
    assert(byCol("str") == ((5L, 2L, 3L, "a", "c")))
    // exact mode is a deliberate TWO-branch plan (see operator doc): the
    // distinct branch must stay hash-aggregated (codegen) while only the
    // min/max branch may fall to SortAggregate on string columns — the
    // fused single-scan shape drags the whole Expand into SortAggregate.
    // Assert on sparkPlan: the post-run AdaptiveSparkPlan string prints
    // BOTH final and initial plans, double-counting every node.
    def planOf(p: org.apache.spark.sql.DataFrame): String =
      p.queryExecution.sparkPlan.toString
    def scanCount(p: org.apache.spark.sql.DataFrame): Int =
      "LocalTableScan".r.findAllIn(planOf(p)).size
    assert(scanCount(prof) == 2, "exact profile is two aggregation branches")
    assert(!planOf(prof).contains("SortAggregate(key=[gid"),
      "the distinct branch must not sort-aggregate over the Expand")
    // approx mode: HLL sketches, ONE scan, no Expand, distincts exact on
    // this tiny input (HLL is exact far below the rsd regime)
    val approx = ScaleOps.profileColumns(df, Seq("big", "opt", "str"),
      approxDistinct = true)
    assert(!planOf(approx).contains("Expand"),
      "approx profile must not Expand the scan")
    assert(scanCount(approx) == 1, "approx profile reads the input once")
    val aByCol = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(aByCol == Map("big" -> 3L, "opt" -> 2L, "str" -> 3L))
    // unknown and duplicate columns fail loudly, not with a late
    // AnalysisException from colliding __nd_ aliases
    intercept[IllegalArgumentException] {
      ScaleOps.profileColumns(df, Seq("big", "nope"))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.profileColumns(df, Seq("big", "big"))
    }
  }

  test("globalPrefixSum: exclusive running sums match the scanLeft model, both directions, multi-column") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 500).map(k => (k.toDouble / 7.0, rnd.nextInt(10).toLong,
      rnd.nextInt(5).toLong))
    val df = rows.toDF("k", "x", "y")
    for (asc <- Seq(true, false); p <- Seq(1, 5, 32)) {
      val ordered = if (asc) rows.sortBy(_._1) else rows.sortBy(-_._1)
      val expX = ordered.map(_._2).scanLeft(0L)(_ + _).init
      val expY = ordered.map(_._3).scanLeft(0L)(_ + _).init
      val model = ordered.map(_._1).lazyZip(expX).lazyZip(expY)
        .map((k, a, b) => k -> (a, b)).toMap
      val got = ScaleOps.globalPrefixSum(df, "k",
        Seq("x" -> "px", "y" -> "py"), ascending = asc, numPartitions = p)
        .select(col("k"), col("px"), col("py"))
        .as[(Double, Long, Long)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      assert(got == model, s"asc=$asc p=$p")
    }
  }

  test("globalPrefixSum: double value columns prefix-sum to within ulps of the model") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map(k => (k.toLong, rnd.nextDouble() - 0.3,
      rnd.nextInt(10).toLong))
    val df = rows.toDF("k", "x", "c")
    for (p <- Seq(1, 5, 32)) {
      // mixed long + double columns ride the same scan
      val got = ScaleOps.globalPrefixSum(df, "k",
        Seq("x" -> "px", "c" -> "pc"), numPartitions = p)
        .select(col("k"), col("px"), col("pc"))
        .as[(Long, Double, Long)].collect().sortBy(_._1)
      val expX = rows.map(_._2).scanLeft(0.0)(_ + _).init
      val expC = rows.map(_._3).scanLeft(0L)(_ + _).init
      got.zip(expX.zip(expC)).foreach { case ((k, px, pc), (ex, ec)) =>
        assert(pc == ec, s"long column exact: k=$k p=$p")
        assert(math.abs(px - ex) < 1e-9,
          s"double column within summation-order ulps: k=$k p=$p $px vs $ex")
      }
    }
  }

  test("globalPrefixSumWithTotals: grand totals equal direct sums, long exact, double within ulps") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (1 to 400).map(k => (k.toLong, rnd.nextInt(9).toLong,
      rnd.nextDouble() - 0.4))
    val df = rows.toDF("k", "x", "d")
    for (p <- Seq(1, 4, 32)) {
      val (out, totals) = ScaleOps.globalPrefixSumWithTotals(df, "k",
        Seq("x" -> "px", "d" -> "pd"), numPartitions = p)
      // the frame is the one globalPrefixSum returns
      assert(out.count() == 400)
      // integral totals are exact; double totals within summation-order ulps
      assert(totals(0).asInstanceOf[Long] == rows.map(_._2).sum, s"p=$p")
      assert(math.abs(totals(1).asInstanceOf[Double] - rows.map(_._3).sum) < 1e-9,
        s"p=$p")
    }
    // empty input: zeros of the right type, not nulls/crashes
    val (_, zt) = ScaleOps.globalPrefixSumWithTotals(
      df.filter(col("k") < 0), "k", Seq("x" -> "px", "d" -> "pd"))
    assert(zt == Seq(0L, 0.0))
  }

  test("saltedJoin plans a shuffle join even when the exploded side is broadcastable") {
    val s = spark
    import s.implicits._
    // small right side: WITHOUT the strategy pin Catalyst broadcasts the
    // exploded right relation and the salt never reaches an exchange —
    // the join must stay sort-merge under the default broadcast threshold
    val left = (1L to 200L).map(k => (k % 7, s"l$k")).toDF("k", "lv")
    val right = (1L to 50L).map(k => (k % 7, k)).toDF("k", "rv")
    val plan = ScaleOps.saltedJoin(left, right, Seq("k"), 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"expected a sort-merge join under the default broadcast threshold in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"broadcast join would make the salting a no-op:\n$plan")
  }

  test("percentileRank == SQL PERCENT_RANK semantics (ties share, nulls excluded)") {
    val s = spark; import s.implicits._
    val vals: Seq[java.lang.Long] =
      Seq[java.lang.Long](10L, 20L, 20L, 20L, 30L, 40L, 40L, null, 50L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val got = ScaleOps.percentileRank(df, "v")
      .select(col("id"), col("pct_rank"))
      .as[(Long, Double)].collect().toMap
    val nonNull = vals.filter(_ != null).map(_.toLong)
    val n = nonNull.size
    for ((v, i) <- vals.zipWithIndex if v != null) {
      val below = nonNull.count(_ < v.toLong)
      assert(got(i.toLong) == below.toDouble / (n - 1), s"id $i")
    }
    assert(!got.contains(7L), "null value must not be ranked")
    // empty / all-null input degrades to an empty frame, not an NPE
    val empty = Seq.empty[(Long, java.lang.Long)].toDF("id", "v")
    assert(ScaleOps.percentileRank(empty, "v").count() == 0L)
    val allNull = Seq((1L, null.asInstanceOf[java.lang.Long])).toDF("id", "v")
    assert(ScaleOps.percentileRank(allNull, "v").count() == 0L)
  }

  /** Brute-force dominance filter — the definition skyline2D must match. */
  private def bruteSkyline(pts: Seq[(Double, Double)]): Map[(Double, Double), Long] = {
    val counts = pts.groupBy(identity).view.mapValues(_.size.toLong).toMap
    counts.filter { case ((x, y), _) =>
      !counts.keys.exists { case (qx, qy) =>
        qx <= x && qy >= y && (qx < x || qy > y)
      }
    }
  }

  test("skyline2D matches the brute-force dominance filter (ties + dups)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    // quantized coords force ties on both axes; extra dups carry multiplicity
    val pts = Seq.fill(400)((rnd.nextInt(40).toDouble,
      rnd.nextInt(40).toDouble)) ++ Seq((0.0, 39.0), (0.0, 39.0))
    val got = ScaleOps.skyline2D(pts.toDF("x", "y"), "x", "y")
      .as[(Double, Double, Long)].collect()
      .map { case (x, y, n) => (x, y) -> n }.toMap
    assert(got == bruteSkyline(pts))
  }

  test("skyline2D: anti-chain keeps everything, one dominator keeps one row") {
    val s = spark; import s.implicits._
    val anti = (1 to 20).map(i => (i.toDouble, i.toDouble)) // x and y both rise
    val gotAnti = ScaleOps.skyline2D(anti.toDF("x", "y"), "x", "y").count()
    assert(gotAnti == 20L)
    val dominated = (1 to 20).map(i => (i.toDouble, -i.toDouble)) :+ (0.0, 100.0)
    val one = ScaleOps.skyline2D(dominated.toDF("x", "y"), "x", "y")
      .as[(Double, Double, Long)].collect()
    assert(one.toSeq == Seq((0.0, 100.0, 1L)))
  }

  test("budgetedMixtureSample: md5-prefix order, overshoot-by-one, per-stratum") {
    val s = spark; import s.implicits._
    val rows = (1L to 60L).map(i => (i, if (i % 2 == 0) "a" else "b", 7L))
    val df = rows.toDF("id", "g", "cost")
    val got = ScaleOps.budgetedMixtureSample(df, "g", "id", "cost", budget = 20L)
      .select(col("id"), col("g"), col("cum_start"))
      .as[(Long, String, Long)].collect()
    // model: per stratum, (md5(id), id) order, keep while exclusive cum < 20
    def md5hex(x: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val want = rows.groupBy(_._2).toSeq.flatMap { case (g, rs) =>
      rs.sortBy(r => (md5hex(r._1), r._1)).zipWithIndex
        .map { case ((id, _, c), k) => (id, g, k * 7L) }
        .filter(_._3 < 20L)
    }
    assertMultiset(got.toSeq, want)
    // cost 7, budget 20 -> kept 3 per stratum, last one OVERSHOOTS to 21
    // (contiguous-prefix contract: the last kept doc is never split)
    assert(got.count(_._2 == "a") == 3 && got.count(_._2 == "b") == 3)
    // determinism: a second run keeps the identical set
    val again = ScaleOps.budgetedMixtureSample(df.repartition(7), "g", "id",
      "cost", budget = 20L)
      .select(col("id"), col("g"), col("cum_start"))
      .as[(Long, String, Long)].collect()
    assertMultiset(again.toSeq, got.toSeq)
  }

  test("resampleOhlc: model bars, duplicate-ts ties deterministic, nulls out") {
    val s = spark; import s.implicits._
    // bucket = 100ms; bucket 0 has a ts tie at open (value breaks it) and
    // at close; bucket 1 is a single tick; a null value must vanish
    val ticks = Seq(
      ("a", 10L, Some(5.0)), ("a", 10L, Some(3.0)), // tie: open = 3.0
      ("a", 50L, Some(9.5)), ("a", 99L, Some(1.5)),
      ("a", 99L, Some(7.0)),                        // tie: close = 7.0
      ("a", 150L, Some(4.25)), ("a", 120L, None),
      ("b", 20L, Some(2.0)), ("b", 30L, Some(6.0))
    ).toDF("k", "ts", "v")
    val got = ScaleOps.resampleOhlc(ticks, Seq("k"), "ts", "v", bucketMs = 100L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)),
        r.getLong(6), r.getDouble(7))).toSet
    assert(got == Set(
      ("a", 0L, (3.0, 9.5, 1.5, 7.0), 5L, 26.0),
      ("a", 100L, (4.25, 4.25, 4.25, 4.25), 1L, 4.25),
      ("b", 0L, (2.0, 6.0, 2.0, 6.0), 2L, 8.0)), s"got $got")
  }

  test("changeHistory: runs collapse, half-open ranges chain, NULL is a tracked epoch") {
    val s = spark
    import s.implicits._
    val rows = Seq[(String, Long, Long, java.lang.Long)](
      // key k1: A A B A -> three runs (the same value RETURNING opens a
      // NEW run — SCD2, not a distinct census)
      ("k1", 10L, 1L, 1L), ("k1", 20L, 2L, 1L),
      ("k1", 30L, 3L, 2L), ("k1", 40L, 4L, 1L),
      // key k2: value -> NULL -> value; the NULL epoch is its own run
      ("k2", 10L, 5L, 7L), ("k2", 20L, 6L, null), ("k2", 30L, 7L, 7L))
      .toDF("k", "ts", "id", "v")
    val got = ScaleOps.changeHistory(rows, Seq("k"), Seq("ts", "id"), "v")
      .select("k", "v", "valid_from", "valid_to", "n_rows")
      .collect().map(r => (r.getString(0), Option(r.get(1)),
        r.getLong(2), Option(r.get(3)), r.getLong(4))).toSeq
    assertMultiset(got, Seq(
      ("k1", Some(1L), 10L, Some(30L), 2L),
      ("k1", Some(2L), 30L, Some(40L), 1L),
      ("k1", Some(1L), 40L, None, 1L),
      ("k2", Some(7L), 10L, Some(20L), 1L),
      ("k2", None, 20L, Some(30L), 1L),
      ("k2", Some(7L), 30L, None, 1L)))
  }

  test("changeHistory: tie-break column decides simultaneous rows deterministically") {
    val s = spark
    import s.implicits._
    // two rows at the SAME ts: id order makes B the later value, so the
    // history is A[run of 1] then B — regardless of input row order
    val rows = Seq(("k", 10L, 2L, "B"), ("k", 10L, 1L, "A"))
      .toDF("k", "ts", "id", "v")
    val got = ScaleOps.changeHistory(rows, Seq("k"), Seq("ts", "id"), "v")
      .select("v", "valid_to").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assertMultiset(got, Seq(("A", Some(10L)), ("B", None)))
  }

  test("ewmaSmoothed matches the integer weight model; short history renormalizes") {
    val s = spark
    import s.implicits._
    val xs = Seq(100L, 200L, 400L, 800L, 50L, 60L, 70L, 80L, 90L, 30L)
    val df = xs.zipWithIndex
      .map { case (v, i) => ("u", i.toLong, v) }.toDF("k", "ts", "v")
    val got = ScaleOps.ewmaSmoothed(df, Seq("k"), Seq("ts"), "v", depth = 8)
      .select("ts", "ewma").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // in-memory model: weights 2^(depth-1-j) over the last up-to-8 values
    def model(t: Int): Double = {
      val lags = (0 to math.min(7, t)).map(j => xs(t - j))
      val num = lags.zipWithIndex.map { case (x, j) => x * (1L << (7 - j)) }.sum
      val den = lags.indices.map(j => 1L << (7 - j)).sum
      num.toDouble / den.toDouble
    }
    xs.indices.foreach { t =>
      assert(got(t.toLong) == model(t), s"t=$t") // exact, not approx
    }
    // first row: no history, ewma == the value itself
    assert(got(0L) == 100.0)
  }

  test("ewmaSmoothed: null values contribute nothing; no-history null row yields NULL") {
    val s = spark
    import s.implicits._
    val df = Seq[(String, Long, java.lang.Long)](
      ("u", 0L, null), ("u", 1L, 100L), ("u", 2L, null))
      .toDF("k", "ts", "v")
    val got = ScaleOps.ewmaSmoothed(df, Seq("k"), Seq("ts"), "v", depth = 4)
      .select("ts", "ewma").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(0L).isEmpty)        // den = 0 -> NULL, never Infinity/NaN
    assert(got(1L) == Some(100.0)) // null history rows drop out of both sums
    assert(got(2L) == Some(100.0)) // null current row smooths over history
  }

  test("changeHistory matches an in-memory reference on seeded random sequences") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    // 10 keys x 30 rows, values from a SMALL alphabet (forces runs), a
    // few nulls, duplicate timestamps broken by id
    val rows = for (k <- 0 until 10; i <- 0 until 30) yield {
      val v: java.lang.Long =
        if (rnd.nextInt(10) == 0) null else rnd.nextInt(3).toLong
      (s"k$k", rnd.nextInt(10).toLong, (k * 100 + i).toLong, v)
    }
    val got = ScaleOps.changeHistory(rows.toDF("k", "ts", "id", "v"),
        Seq("k"), Seq("ts", "id"), "v")
      .select("k", "v", "valid_from", "valid_to", "n_rows")
      .collect().map(r => (r.getString(0), Option(r.get(1)),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getLong(4))).toSeq
    // reference: sort, fold into runs, chain valid_to
    val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3))
      val runs = scala.collection.mutable.ListBuffer
        .empty[(Option[Long], Long, Long)] // (value, from, n)
      for ((_, ts, _, v) <- ordered) {
        val ov = Option(v).map(_.longValue)
        if (runs.nonEmpty && runs.last._1 == ov)
          runs.update(runs.size - 1,
            (ov, runs.last._2, runs.last._3 + 1))
        else runs += ((ov, ts, 1L))
      }
      runs.toSeq.zipWithIndex.map { case ((v, from, n), i) =>
        val to = if (i + 1 < runs.size) Some(runs(i + 1)._2) else None
        (k, v, from, to, n)
      }
    }
    assertMultiset(got, want)
  }

  test("ewmaSmoothed matches the model on seeded multi-key sequences with nulls") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for (k <- 0 until 5; i <- 0 until 40) yield {
      val v: java.lang.Long =
        if (rnd.nextInt(8) == 0) null else rnd.nextInt(100000).toLong
      (s"k$k", i.toLong, v)
    }
    val got = ScaleOps.ewmaSmoothed(rows.toDF("k", "ts", "v"),
        Seq("k"), Seq("ts"), "v", depth = 8)
      .select("k", "ts", "ewma").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    for ((k, rsRaw) <- rows.groupBy(_._1)) {
      val rs = rsRaw.sortBy(_._2)
      for (idx <- rs.indices) {
        // model mirrors the LAG semantics: positional lags (null values
        // occupy their lag slot and contribute to neither sum)
        val lags = (0 to math.min(7, idx))
          .map(j => Option(rs(idx - j)._3).map(_.longValue))
        val num = lags.zipWithIndex.collect {
          case (Some(x), j) => x * (1L << (7 - j)) }.sum
        val den = lags.zipWithIndex.collect {
          case (Some(_), j) => 1L << (7 - j) }.sum
        val want = if (den > 0) Some(num.toDouble / den.toDouble) else None
        assert(got((k, idx.toLong)) == want, s"$k idx=$idx") // exact
      }
    }
  }
}
