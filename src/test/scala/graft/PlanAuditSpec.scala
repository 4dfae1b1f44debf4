package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, length, lit, lpad, sum, when}

/** Plan-shape audit: the properties that make these queries 100 TB-safe,
  * pinned as assertions so a regression in plan quality fails CI, not a
  * cluster bill. (Complements per-operator result specs — these check HOW
  * the engine computes, not what.)
  */
class PlanAuditSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.01"

  private def planOf(df: DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ()) // run so AQE finalizes
    df.queryExecution.executedPlan.toString
  }

  /** Column count of a `ReadSchema: struct<...>` plan line. */
  private def readSchemaCols(line: String): Int = {
    val body = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(line)
      .map(_.group(1)).getOrElse(fail(s"no ReadSchema in: $line"))
    if (body.isEmpty) 0 else body.count(_ == ',') + 1
  }

  test("q02: predicate pushdown and column pruning reach the parquet scan") {
    val plan = planOf(Queries.q02FilterPushdown(spark, d))
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(!plan.contains("PushedFilters: []"), "filters not pushed:\n" + plan.take(2000))
    // scan must not read all 16 lineitem columns for this aggregate
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchemaCols(readSchema) <= 4, s"scan reads too many columns: $readSchema")
  }

  test("q03: small dimension tables are broadcast, never shuffled") {
    val plan = planOf(Queries.q03JoinRevenue(spark, d))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q05: top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = planOf(Queries.q05TopkOrders(spark, d))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q01: aggregation is one partial/final HashAggregate pair over one exchange") {
    val plan = planOf(Queries.q01PricingSummary(spark, d))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // AQE toString repeats the plan under "== Initial Plan =="; count final only
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"unexpected extra shuffles ($exchanges):\n" + plan.take(3000))
    // `*(n)` operator prefix = inside a WholeStageCodegen stage
    assert(plan.contains("*("), "aggregation fell out of codegen:\n" + plan.take(2000))
  }

  /** The row_number-filter top-k idiom prunes before it shuffles: Spark's
    * `InsertWindowGroupLimit` puts a partial `WindowGroupLimit` below the
    * window's hash exchange (tree lines print parents first, so "below"
    * is a later line).
    */
  private def assertPartialGroupLimitBelowExchange(df: DataFrame): Unit = {
    val lines = planOf(df).split("== Initial Plan ==").head.linesIterator.toIndexedSeq
    val partial = lines.lastIndexWhere(l => l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(partial >= 0 && exchange >= 0 && exchange < partial,
      "no partial WindowGroupLimit below the hash exchange:\n" + lines.mkString("\n").take(3000))
  }

  test("q09/d39: per-customer top-3 pre-prunes via a partial WindowGroupLimit") {
    assertPartialGroupLimitBelowExchange(Queries.q09WindowRank(spark, d))
    assertPartialGroupLimitBelowExchange(Queries.d39TopkPerKey(spark, d))
  }

  test("d22: exact dedup (rank=1 policy) pre-prunes before its shuffle too") {
    assertPartialGroupLimitBelowExchange(Queries.d22DedupSurvivors(spark, d))
  }

  test("d26: brute-force ANN broadcasts the query side (no corpus shuffle)") {
    val plan = planOf(Queries.d26EmbedTopk(spark, d))
    assert(plan.contains("Broadcast"), plan.take(3000))
  }

  test("d49: dataflow set-op bridge prunes the scan to the single used column") {
    val df = Queries.d49Intersect(spark, d)
    val scans = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty)
    scans.foreach { line =>
      assert(line.contains("custkey") && readSchemaCols(line) == 1,
        s"set-op scan reads more than the key column: $line")
    }
  }

  test("d21: exact dedup is a single hash shuffle") {
    val plan = planOf(Queries.d21DedupExact(spark, d))
    val exchanges = plan.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"exact dedup shuffled $exchanges times:\n" + plan.take(3000))
  }

  test("d57: decontamination joins eval grams by broadcast; corpus text never shuffles") {
    val plan = planOf(Queries.d57Decontaminate(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), plan.take(3000))
    // the only hash exchange allowed is the per-doc count aggregate — the
    // train-side gram stream itself must reach the join map-side
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"gram join shuffled ($exchanges exchanges):\n" + finalPlan.take(3000))
  }

  test("d58: incremental dedup never hash-shuffles the corpus (broadcast joins only)") {
    val plan = planOf(Queries.d58IncrementalDedup(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!finalPlan.contains("SortMergeJoin"),
      "corpus fell into a sort-merge join:\n" + finalPlan.take(3000))
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // distinct on the (small) positive-keys / hits sides only
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n" + finalPlan.take(3000))
  }

  test("d63: chunk explode is map-only — no exchange anywhere in the plan") {
    val plan = planOf(Queries.d63ChunkDocs(spark, d))
    assert(!plan.contains("Exchange"), "chunking should not shuffle:\n" + plan.take(3000))
  }

  test("d69: repetition gate is map-only — no exchange anywhere in the plan") {
    val plan = planOf(Queries.d69Repetition(spark, d))
    assert(!plan.contains("Exchange"),
      "per-doc repetition counters should not shuffle:\n" + plan.take(3000))
  }

  test("d72: per-type stats rebroadcast to events — the event stream is never hash-shuffled twice") {
    val plan = planOf(Queries.d72Anomaly(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!finalPlan.contains("SortMergeJoin"),
      "stats join fell into a sort-merge join:\n" + finalPlan.take(3000))
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"only the stats aggregate may shuffle, got $exchanges:\n" + finalPlan.take(3000))
  }

  test("d73: inverted-index census shuffles gram keys and doc keys, nothing else") {
    val plan = planOf(Queries.d73DupNgrams(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") && !finalPlan.contains("BroadcastNestedLoopJoin"),
      "census must never go quadratic:\n" + finalPlan.take(3000))
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 4, s"unexpected shuffles ($exchanges):\n" + finalPlan.take(3000))
  }

  test("d74/d75: event-time windows partition by user — never a global sort") {
    for (q <- Seq(Queries.d74MovingWindow _, Queries.d75Sessionize _)) {
      val plan = planOf(q(spark, d))
      val finalPlan = plan.split("== Initial Plan ==").head
      assert(!finalPlan.contains("Exchange rangepartitioning"),
        "windowed query fell into a global sort:\n" + finalPlan.take(3000))
      val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 2, s"unexpected shuffles ($exchanges):\n" + finalPlan.take(3000))
    }
  }

  test("d76: pivot with an explicit value list plans the two-phase aggregate, no value-discovery job") {
    val df = Queries.d76Pivot(spark, d)
    val finalPlan = planOf(df).split("== Initial Plan ==").head
    // Spark's pivot is deliberately two-phase: a partial/final count on the
    // compound (user, type) key collapses the stream BEFORE pivotfirst
    // re-keys by user — both exchanges move already-aggregated rows, which
    // is the scale-safe shape. What must NOT appear is a third job that
    // scans for distinct pivot values (the explicit value list preempts it).
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"pivot should plan two aggregate exchanges, got $exchanges:\n" +
      finalPlan.take(3000))
    assert(finalPlan.contains("pivotfirst"), "pivot operator missing:\n" + finalPlan.take(3000))
  }

  test("runtime bloom filter: a selective dim predicate prunes the fact scan of a shuffle join") {
    // On a cluster the fact side dwarfs the broadcast threshold and the
    // bloom-filter rewrite fires on its default thresholds; at test scale
    // we force the same regime (no broadcast, zero size gates) and pin
    // that the engine injects the runtime filter on the fact side.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = Tables.lineitem(spark, d)
      val ord = Tables.orders(spark, d).filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val plan = planOf(joined)
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        "no runtime bloom filter injected on the fact side:\n" + plan.take(4000))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("d91/d96: per-stratum windows partition by their keys — never a global sort") {
    for (q <- Seq(Queries.d91SourceCap _, Queries.d96LengthPercentile _)) {
      val plan = planOf(q(spark, d))
      val finalPlan = plan.split("== Initial Plan ==").head
      assert(!finalPlan.contains("Exchange rangepartitioning"),
        "stratified window fell into a global sort:\n" + finalPlan.take(3000))
    }
  }

  test("d92/d94: vocab and eval-gram joins are broadcast — the corpus token stream never hash-shuffles into the join") {
    for (q <- Seq(Queries.d92VocabOov _, Queries.d94ContaminationFrac _)) {
      val plan = planOf(q(spark, d))
      val finalPlan = plan.split("== Initial Plan ==").head
      assert(finalPlan.contains("BroadcastHashJoin"), plan.take(3000))
      assert(!finalPlan.contains("SortMergeJoin"),
        "tiny build side fell into a sort-merge join:\n" + finalPlan.take(3000))
    }
  }

  test("d93: the mixture gate itself is shuffle-free — only the two tiny stratum counts aggregate") {
    val plan = planOf(Queries.d93MixtureRebalance(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!finalPlan.contains("SortMergeJoin"),
      "rate join fell into a sort-merge join:\n" + finalPlan.take(3000))
    // allowed exchanges: lang-count aggregate + final per-lang report;
    // the corpus row stream reaches the md5 gate without repartitioning
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 3, s"unexpected shuffles ($exchanges):\n" + finalPlan.take(3000))
  }

  test("d95: baskets build in ONE shuffle; pair expansion is in-group, never a self-join") {
    val plan = planOf(Queries.d95EventPairs(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join"),
      "pair expansion must not plan a join:\n" + finalPlan.take(3000))
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // basket collect_set + final pair count
    assert(exchanges <= 2, s"unexpected shuffles ($exchanges):\n" + finalPlan.take(3000))
  }

  test("AQE skew join: a hot key splits into subpartitions at runtime instead of one straggler task") {
    // On a cluster a hot join key turns one reducer into the whole job's
    // critical path; AQE's skew-join rewrite splits that partition at
    // runtime. At test scale we shrink the skew thresholds so the same
    // machinery fires, and pin that the executed join actually ran in
    // skew-handling mode.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 90% of the fact rows share one key — the canonical hot-key join
      val fact = spark.range(0, 60000)
        .select(when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          lpad(col("id").cast("string"), 64, "x").as("pad"))
      val dim = spark.range(0, 60000).select(col("id").as("k"),
        lpad(col("id").cast("string"), 64, "y").as("dpad"))
      // global aggregate downstream (AllTuples): a per-key aggregate would
      // need hashpartitioning(k) and AQE refuses a skew split that adds a
      // shuffle to satisfy it — which is itself correct behavior. The
      // aggregate must CONSUME the pad columns: count(1) would let column
      // pruning strip them from the shuffle and deflate the skew below
      // the detection threshold.
      val joined = fact.join(dim, "k")
        .agg(sum(length(col("pad")) + length(col("dpad"))).as("n"))
      val plan = planOf(joined)
      assert(plan.contains("skew=true"),
        "hot key did not trigger the AQE skew-join split:\n" + plan.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("hive-partitioned layout: a partition-column predicate prunes directories, not just row groups") {
    // writeShards' partitionBy layout exists FOR this: a filter on the
    // partition column must resolve at planning time (PartitionFilters on
    // the scan, directory-level pruning) — distinct from parquet row-group
    // pushdown (PushedFilters), which still opens every file.
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_prune_" + System.getProperty("user.name", "anon")).getAbsolutePath
    graft.operators.ScaleOps.writeShards(
      Tables.documents(spark, d), out, Seq("lang"), Seq("doc_id"), 10000L)
    val back = spark.read.parquet(out).filter(col("lang") === "zh")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val plan = planOf(back)
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail("no PartitionFilters on the scan:\n" + plan.take(3000)))
    assert(scanLine.contains("lang"),
      s"partition predicate did not reach directory pruning: $scanLine")
    // the pruned value must not survive into the data filters — pruning
    // happened at the listing level, not per-row
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(scanLine)
      .map(_.group(1)).getOrElse("")
    assert(!pushed.contains("lang"),
      s"lang predicate fell through to row-group filters: $scanLine")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at RUNTIME") {
    // Static pruning (previous test) needs the predicate on the partition
    // column itself; a star join filters the DIM and expects the fact
    // side's partitions pruned from the dim's surviving keys — Spark's
    // dynamicpruningexpression, the mechanism a 100 TB fact scan lives on.
    val out = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_dpp_" + System.getProperty("user.name", "anon")).getAbsolutePath
    graft.operators.ScaleOps.writeShards(
      Tables.events(spark, d).withColumn("day", org.apache.spark.sql.functions.expr(
        "ts_ms div 86400000")),
      out, Seq("day"), Seq("event_id"), 100000L)
    val fact = spark.read.parquet(out)
    val dim = spark.range(0, 100)
      .select((col("id") + 19723L).as("day"),
        (col("id") % 7).as("dow"))
    val joined = fact.join(dim, "day").filter(col("dow") === 2L)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val plan = planOf(joined)
    assert(plan.contains("dynamicpruning"),
      "no runtime partition pruning on the fact scan:\n" +
        plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n") +
        "\n" + plan.take(3000))
  }

  test("d114: N-ary tagged cogroup shuffles ONCE for three inputs") {
    // the whole point of coGroupByKeyTagged vs chained binary cogroups:
    // union is a partition concat, the single GBK is the only exchange —
    // a second hashpartitioning here means the composite regressed
    val plan = planOf(Queries.d114ThreeWayCogroup(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"3-input cogroup should shuffle exactly once, got $exchanges:\n" + finalPlan.take(3000))
  }

  test("d116: cadence window and aggregate share ONE shuffle on user_id") {
    // the LAG window partitions by user_id and the groupBy keys on user_id:
    // Catalyst must reuse the window's partitioning for the aggregate —
    // a second exchange means the gap stage and the stats stage each paid
    // a full shuffle of the event stream
    val plan = planOf(Queries.d116EventCadence(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"cadence should shuffle once on user_id, got $exchanges:\n" + finalPlan.take(3000))
    assert(!finalPlan.contains("Exchange rangepartitioning"),
      "no global sort in cadence:\n" + finalPlan.take(2000))
  }

  test("d117: lift joins stay broadcast; the event stream is never self-joined") {
    val plan = planOf(Queries.d117EventLift(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    // singles/total are type-vocabulary-sized: the join-back must broadcast,
    // and no sort-merge join of corpus-sized sides may appear
    assert(finalPlan.contains("BroadcastHashJoin") ||
      finalPlan.contains("BroadcastNestedLoopJoin"), finalPlan.take(3000))
    assert(!finalPlan.contains("SortMergeJoin"),
      "corpus-sized join crept into the lift plan:\n" + finalPlan.take(3000))
  }

  test("d118: trailing-window distinct count plans NO nested-loop range join") {
    // the whole point of the sequence-expansion formulation: a BETWEEN
    // range join of the day grid against user-days would be a
    // BroadcastNestedLoopJoin — O(days × activity) predicate evaluations
    val plan = planOf(Queries.d118Stickiness(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("BroadcastNestedLoopJoin") &&
      !finalPlan.contains("CartesianProduct"),
      "stickiness fell back to a nested-loop range join:\n" + finalPlan.take(3000))
  }

  test("d62: centroid aggregation is partial/final over ONE exchange of group buffers") {
    val plan = planOf(Queries.d62EmbedCentroids(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"vector aggregation should shuffle once, got $exchanges:\n" + finalPlan.take(3000))
    // plans print root-first: the Generate (posexplode) must sit ABOVE the
    // aggregation — i.e. consume its output, never explode the raw input
    val gen = finalPlan.indexOf("Generate")
    val agg = finalPlan.indexOf("HashAggregate")
    assert(gen >= 0 && agg >= 0 && gen < agg,
      s"posexplode must consume the aggregated result (gen=$gen agg=$agg):\n" +
        finalPlan.take(3000))
  }

  test("d140: snapshot diff is ONE full-outer hash-shuffled join — no nested loop") {
    val plan = planOf(Queries.d140SnapshotDiff(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("FullOuter"), finalPlan.take(3000))
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      "diff must never plan a nested loop:\n" + finalPlan.take(3000))
    val joins = finalPlan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(joins == 1, s"diff is ONE join, got $joins:\n" + finalPlan.take(3000))
  }

  test("d142: incremental maintenance joins hash-shuffled, never nested-loop; delta aggregates partial/final") {
    val plan = planOf(Queries.d142IncrementalAgg(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      "maintenance must never plan a nested loop:\n" + finalPlan.take(3000))
    // the retract log folds map-side before its shuffle (partial aggregate)
    assert(finalPlan.contains("HashAggregate"), finalPlan.take(3000))
  }

  test("d144: BM25 stats and document frequencies broadcast; postings filter dies before the tf shuffle") {
    val plan = planOf(Queries.d144Bm25(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      "df join must broadcast:\n" + finalPlan.take(3000))
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(3000))
    // the only nested-loop is the singleton corpus-stats crossJoin
    val bnl = finalPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s"unexpected nested loops ($bnl):\n" + finalPlan.take(3000))
    // plans print root-first: the term filter must sit BELOW the first
    // aggregate (i.e. run map-side against the exploded stream, pre-shuffle)
    val filt = finalPlan.lastIndexOf("Filter")
    val agg = finalPlan.lastIndexOf("HashAggregate")
    assert(filt > agg,
      s"term filter must run before the tf aggregation (filter=$filt agg=$agg):\n" +
        finalPlan.take(3000))
  }

  test("d164: the AUC prefix scan plans NO un-partitioned window") {
    val plan = planOf(Queries.d164Auc(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    val windows = finalPlan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, "expected the partition-local prefix window")
    assert(windows.forall(_.contains("pid")),
      "every window must partition by pid (a global window would serialize " +
        "the distinct-score table into one task):\n" + windows.mkString("\n"))
  }

  test("d167: the skyline sweep plans no global sort and no range exchange") {
    val plan = planOf(Queries.d167Skyline(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("rangepartitioning"),
      "local sweeps must sort within partitions only:\n" + finalPlan.take(3000))
    assert(!finalPlan.contains("CartesianProduct") &&
      !finalPlan.contains("BroadcastNestedLoopJoin"),
      "the sweep must not degenerate to a dominance self-join:\n" +
        finalPlan.take(3000))
  }

  test("d168: the wedge join is an equi-join, never a nested loop") {
    val plan = planOf(Queries.d168Triangles(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), finalPlan.take(3000))
    // the only nested loops are the two singleton crossJoins stitching the
    // three 1-row census aggregates together
    val bnl = finalPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 2, s"unexpected nested loops ($bnl):\n" + finalPlan.take(3000))
    // the wedge build and the closing-edge probe are genuine equi-joins
    val equi = finalPlan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(equi >= 2, s"expected wedge + closing equi-joins ($equi):\n" +
      finalPlan.take(3000))
  }

  test("d169: each PageRank iteration reads the previous checkpoint, not replayed lineage") {
    val pr = Queries.d169PageRank(spark, d)
    val plan = planOf(pr)
    val finalPlan = plan.split("== Initial Plan ==").head
    // the final frame is a projection over the iteration-3 checkpoint —
    // if lineage were not truncated, three joins would stack up here
    assert(finalPlan.contains("Scan ExistingRDD"),
      "expected the localCheckpoint scan:\n" + finalPlan.take(2000))
    assert(!finalPlan.contains("Join"),
      "the final plan must not replay iteration joins:\n" + finalPlan.take(2000))
  }

  test("d176: level censuses are pinned once; any visible window is quasi-partitioned") {
    // each level's census is localCheckpoint'ed (kept + remainder + later
    // levels all read it — unpinned it would recompute per consumer), so
    // the final plan unions checkpoint scans, d169-style
    val plan = planOf(Queries.d176KAnonymize(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("Scan ExistingRDD"),
      "expected the per-level census checkpoints:\n" + finalPlan.take(2000))
    val windows = finalPlan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.forall(_.contains("__q_")),
      "any census window must partition by the quasi tags (a global " +
        "window would serialize the release into one task):\n" +
        windows.mkString("\n"))
  }

  test("d179: OHLC bars are ONE hash aggregation — no window, no second shuffle") {
    val plan = planOf(Queries.d179OhlcBars(spark, d))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Window "),
      "open/close must ride struct min/max inside the aggregate, not a " +
        "window:\n" + finalPlan.take(3000))
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"expected exactly one shuffle (the groupBy), got $exchanges:\n" +
        finalPlan.take(3000))
  }

  test("d181: prefix-scan windows all partition by pid; none global") {
    // d182's windows sit behind woeIv's census localCheckpoint and can't
    // be seen from the final plan; its scan shape is covered by the
    // shared globalPrefixSum pin (d164) + the FeaturesSpec rank model
    val finalPlan = planOf(Queries.d181KaplanMeier(spark, d))
      .split("== Initial Plan ==").head
    val windows = finalPlan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, "expected the partition-local prefix window")
    assert(windows.forall(_.contains("pid")),
      "every window must partition by pid — an unpartitioned window " +
        "would serialize the frame:\n" + windows.mkString("\n"))
  }

  test("d197: per-item top-3 pre-prunes via a partial WindowGroupLimit") {
    assertPartialGroupLimitBelowExchange(Queries.d197ItemSimilarity(spark, d))
  }

  test("d198: global top-50 plans TakeOrdered, never a global sort exchange") {
    val plan = planOf(Queries.d198LinkPrediction(spark, d))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Exchange rangepartitioning"),
      "global sort crept in:\n" + plan.take(3000))
  }

  test("d191/d195: SCD2 history and EWMA each ride ONE key-hash shuffle") {
    for ((q, name) <- Seq(
        (Queries.d191ChangeHistory(spark, d), "d191"),
        (Queries.d195Ewma(spark, d), "d195"))) {
      val finalPlan = planOf(q).split("== Initial Plan ==").head
      val exchanges = finalPlan.linesIterator
        .count(_.contains("Exchange hashpartitioning"))
      assert(exchanges == 1,
        s"$name: expected exactly 1 hash exchange, got $exchanges:\n" +
          finalPlan.take(3000))
    }
  }

  test("d205: both FIFO queues shuffle once on l_partkey; the overlap join reuses that partitioning") {
    val finalPlan = planOf(Queries.d205FifoMatch(spark, d))
      .split("== Initial Plan ==").head
    // one hash exchange per queue side, and NOTHING more: the window's
    // partitionBy(l_partkey) output feeds the equi-join unshuffled
    val exchanges = finalPlan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2,
      s"expected 2 hash exchanges (one per queue), got $exchanges:\n" +
        finalPlan.take(3000))
    assert(!finalPlan.contains("NestedLoop"),
      "overlap predicate must ride the equi-join as a residual filter")
  }

  test("d208/d209: burst and interval-merge windows all carry a partition key; week totals broadcast") {
    val p8 = planOf(Queries.d208BurstTerms(spark, d))
      .split("== Initial Plan ==").head
    assert(!p8.contains("Exchange SinglePartition"),
      s"d208 funnels data through one partition:\n${p8.take(3000)}")
    assert(p8.contains("BroadcastExchange"),
      "week totals (≤ a few hundred rows) should broadcast to the census")
    val p9 = planOf(Queries.d209IntervalMerge(spark, d))
      .split("== Initial Plan ==").head
    val exchanges = p9.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"d209: expected ONE customer-hash shuffle, got $exchanges:\n" +
        p9.take(3000))
  }

  test("d231: one physical user shuffle; the decision join-back broadcasts") {
    val p = planOf(Queries.d231SprtDecision(spark, d))
      .split("== Initial Plan ==").head
    // the prefix-sum window shuffles once on user_id; the crossing
    // extraction re-reads that SAME exchange (ReusedExchange) and the
    // per-user decision rows join back as a broadcast — a second
    // data-sized shuffle here would double the walk's cost at corpus SF
    val fresh = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(fresh == 1,
      s"d231: expected ONE physical user-hash shuffle, got $fresh:\n" +
        p.take(3000))
    assert(p.contains("BroadcastExchange"),
      "per-user decision rows (1 per key) should broadcast to the join-back")
  }

  test("d234: two argmin windows with rank-limit pushdown; block joins never cartesian") {
    val p = planOf(Queries.d234MutualNn(spark, d))
      .split("== Initial Plan ==").head
    val fresh = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(fresh == 2,
      s"d234: expected one shuffle per argmin side, got $fresh:\n" +
        p.take(3000))
    // row_number()=1 must run as WindowGroupLimit (partial top-1 BEFORE
    // the shuffle) — losing the pushdown means full per-block sorts of
    // the candidate pairs at corpus scale
    assert(p.contains("WindowGroupLimit"),
      s"argmin lost the rank-limit pushdown:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "block-local candidate join degenerated to a cross product")
  }

  test("d235/globalPrefixSum: rank never funnels one partition; window join stays equi") {
    // d235's OWN final plan truncates at its localCheckpoint (a
    // LogicalRDD scan), so the no-SinglePartition guarantee must be
    // pinned on globalPrefixSum's OUTPUT plan — its internal checkpoint
    // sits BEFORE the rank window, so a regression to an un-partitioned
    // window would show here
    val base = spark.range(0, 10000)
      .selectExpr("lpad(CAST(id AS STRING), 8, '0') AS __ord", "1L AS __one")
    val ranked = graft.operators.ScaleOps.globalPrefixSum(
      base, "__ord", Seq("__one" -> "__before"))
    val pr = planOf(ranked).split("== Initial Plan ==").head
    assert(pr.contains("Window "),
      s"expected the intra-partition rank window in the plan:\n${pr.take(3000)}")
    assert(!pr.contains("Exchange SinglePartition"),
      s"global rank funnels one partition:\n${pr.take(3000)}")
    // and the w-window pair join must ride the exploded-offset EQUI-join,
    // never a rank-BETWEEN nested loop
    val p = planOf(Queries.d235SortedNeighborhood(spark, d))
      .split("== Initial Plan ==").head
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      s"d235 window join degenerated to a range join:\n${p.take(3000)}")
  }

  test("d210/d211: drift and normalization plan no un-partitioned window; rank probes broadcast") {
    for ((df, name) <- Seq(
        (Queries.d210KsDrift(spark, d), "d210"),
        (Queries.d211QuantileNormalize(spark, d), "d211"))) {
      val plan = planOf(df).split("== Initial Plan ==").head
      // every Window operator must carry a partition key (source/lang);
      // scalar 1-row aggregates legitimately exchange SinglePartition,
      // so pin the WINDOW spec, not the exchange
      val windows = plan.linesIterator
        .filter(_.contains("Window ")).toSeq
      assert(windows.nonEmpty, s"$name: expected windowed CDF/rank stages")
      windows.foreach { l =>
        // source/lang for the CDF and rank windows; __pid for the
        // globalPrefixSum value-rank table inside d211
        assert(l.contains("windowspecdefinition(source") ||
          l.contains("windowspecdefinition(lang") ||
          l.contains("windowspecdefinition(__pid"),
          s"$name window lost its partition key: $l")
      }
      assert(plan.contains("BroadcastExchange") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name: the bounded side tables should broadcast")
    }
  }

  test("d206: apportionment plans no un-partitioned window and broadcasts its scalars") {
    val finalPlan = planOf(Queries.d206Apportionment(spark, d))
      .split("== Initial Plan ==").head
    // (contains, not trim.startsWith — plan lines carry +-/:- prefixes,
    // which made the first version of this check vacuously pass)
    val globalWindows = finalPlan.linesIterator.count(l =>
      l.contains("Window ") && !l.contains("__pid"))
    assert(globalWindows == 0,
      s"remainder ranking leaked a global window:\n${finalPlan.take(3000)}")
    assert(finalPlan.contains("BroadcastNestedLoopJoin") ||
      finalPlan.contains("BroadcastExchange"),
      "the 1-row total/leftover scalars should broadcast")
  }

  test("d215: marginals re-aggregate from the pinned census — no corpus re-scan, no window") {
    val plan = planOf(Queries.d215PmiCollocations(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      "census checkpoint bypassed — the corpus parquet is re-scanned in " +
        "the final plan:\n" + plan.take(3000))
    assert(!plan.contains("Window "), "PMI needs no window:\n" + plan.take(2000))
  }

  test("d216: candidate lists are top-k-bounded — TakeOrdered, never a range exchange") {
    val plan = planOf(Queries.d216RrfFusion(spark, d))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Exchange rangepartitioning"),
      "global sort crept into the fusion:\n" + finalPlan.take(3000))
  }

  test("d218: merkle comparison is digest-only equi-joins; the narrowing filter broadcasts") {
    val plan = planOf(Queries.d218MerkleDiff(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      "cartesian in the digest compare:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "non-equi join in the digest compare:\n" + plan.take(3000))
    assert(plan.contains("BroadcastExchange"),
      "dirty-coarse semi filter must broadcast:\n" + plan.take(3000))
  }

  test("d219: the fitted lookup is the documented pool-bounded broadcast range join") {
    val plan = planOf(Queries.d219Isotonic(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "pool blocks should broadcast into the range lookup:\n" + plan.take(2000))
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      "census checkpoint bypassed — events re-scanned in the final plan:\n" +
        plan.take(3000))
  }

  test("d223: baskets build in ONE shuffle off a broadcast dimension; pairs expand in-group") {
    val plan = planOf(Queries.d223AssociationRules(spark, d))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      "the part dimension must broadcast into the basket build:\n" +
        plan.take(3000))
    assert(!plan.contains("CartesianProduct"),
      "pair expansion must stay in-group:\n" + plan.take(3000))
  }

  test("d205: FIFO match joins on (l_partkey, band) — candidates interval-local, not per-part quadratic") {
    val plan = planOf(Queries.d205FifoMatch(spark, d))
      .split("== Initial Plan ==").head
    // the equi-join keys must include the cumulative-quantity band: a bare
    // l_partkey join enumerates the full demand x supply cross product per
    // part before the overlap filter (quadratic on hot parts)
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("l_partkey"))
      .getOrElse(fail("no equi-join on l_partkey found:\n" + plan.take(3000)))
    assert(joinLine.contains("band"),
      "join keys must include the band column:\n" + joinLine)
    // exactly-once banding: the overlap-start dedup filter must survive
    assert(plan.contains("greatest"),
      "overlap-start band dedup filter missing:\n" + plan.take(3000))
    // the banded join must still reuse the window shuffles: partitioning
    // by l_partkey alone satisfies ClusteredDistribution(l_partkey, band),
    // so adding the band key must NOT introduce new exchanges
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"banding added exchanges beyond the two window shuffles: $exchanges\n" +
        plan.take(3000))
  }

  test("d221: rendezvous assignment is map-side — no join, no window, one aggregate") {
    val plan = planOf(Queries.d221RendezvousRebalance(spark, d))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join") && !plan.contains("Window "),
      "assignment must be pure per-row arithmetic:\n" + plan.take(3000))
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1,
      s"expected at most the final census shuffle, got $exchanges")
  }
}
