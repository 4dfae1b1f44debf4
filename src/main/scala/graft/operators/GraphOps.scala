package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Graph analytics over relational co-occurrence graphs — link structure is
  * a standard quality signal in large-scale corpus curation (domain graphs,
  * citation graphs), and both operators here are shapes the reference's
  * GroupByKey/CoGroupByKey layer can express only as unbounded shuffle
  * chains; the versions below pick the algorithms that bound the shuffle.
  *
  * Scale notes:
  *  - [[triangleCount]] orients every edge by the total order
  *    (degree, node) before building wedges, so per-node join fan-out is
  *    bounded by O(√m) regardless of hub degree (the classic arboricity
  *    bound) — an unoriented wedge join on a hub node is quadratic in its
  *    degree; the oriented one never is.
  *  - [[pageRank]] truncates lineage with a localCheckpoint per iteration
  *    (an iterative plan otherwise doubles in depth each round) and keeps
  *    the adjacency frame partitioned once, reused by every iteration.
  */
object GraphOps {

  /** localCheckpoint with the convergence probe FUSED into the
    * materialization job (r10, guide §1.2/§2.4 — attack the per-job
    * scheduling floor): every iterative loop here used to pay TWO actions
    * per round — the eager checkpoint, then a separate probe query
    * (count / label-sum / existence) over the just-written blocks. A
    * `Dataset.observe` aggregate rides the checkpoint's own
    * materialization pass instead, so the probe costs zero extra jobs.
    * Exactly-once: CollectMetricsExec metrics are collected per
    * SUCCESSFUL task by the SQL execution machinery (unlike raw
    * accumulator updates in transformations, which can double-count under
    * recomputation), and the value is read once, immediately after the
    * eager checkpoint returns — later block evictions never re-fire it.
    * Returns the checkpointed frame (plan = LogicalRDD, probe node gone)
    * plus the observed metric row values in declaration order.
    */
  private[graft] def checkpointWithProbe(df: DataFrame, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val ck = df.observe(obs, metrics.head, metrics.tail: _*).localCheckpoint()
    // obs.get blocks until the checkpoint action's metric row lands (the
    // eager checkpoint has already returned, so this is only the listener
    // bus hop); keys are the metric aliases the caller declared
    (ck, obs.get)
  }

  /** Free the blocks behind a materialized `localCheckpoint`. Iterative
    * loops checkpoint every round, and without a release each round's
    * blocks live until session end. `Dataset.unpersist` cannot do it: it
    * only uncaches CacheManager entries, and checkpoint blocks are persisted
    * on the checkpoint RDD itself. The release takes only the checkpointed
    * RDDs behind the plan's `LogicalRDD` leaves (`df` may project over
    * them), never a lineage walk to whatever is persisted upstream, so a
    * caller-owned persist is never dropped. A frame with no materialized
    * checkpoint behind it throws.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    val checkpoints = plan.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD if l.rdd.isCheckpointed => l.rdd
    }
    require(checkpoints.nonEmpty,
      s"releaseCheckpoint expects a checkpointed frame, got ${plan.nodeName}")
    checkpoints.foreach(_.unpersist(blocking = false))
  }

  /** Distinct undirected co-occurrence edges (a < b) from a (group, item)
    * relation: items sharing a group are connected; edges seen in fewer
    * than `minCount` groups are dropped. Fan-out per group is bounded by
    * the group's item count (orders hold ≤ a handful of parts), so the
    * pair-join is linear in the input, not quadratic in any global count.
    */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        minCount: Long = 1L): DataFrame =
    coOccurrenceCounts(df, groupCol, itemCol, minCount)
      .select(col("a"), col("b"))

  /** One shuffle builds each group's distinct, sorted item set — the
    * basket every co-occurrence derivation expands from.
    */
  private def basketSets(df: DataFrame, groupCol: String,
                         itemCol: String): DataFrame =
    df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .groupBy(col("g"))
      .agg(sort_array(collect_set(col("i"))).as("__is"))

  /** In-group pair expansion of a [[basketSets]] frame → per-pair group
    * counts, every pair already ordered a < b.
    */
  private def basketPairCounts(baskets: DataFrame,
                               minCount: Long): DataFrame =
    baskets
      .select(explode(expr(
        """flatten(transform(__is, (x, i) ->
          |  transform(slice(__is, i + 2, size(__is)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("__p"))
      .groupBy(col("__p.a").as("a"), col("__p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** [[coOccurrenceEdges]] keeping the per-pair group count — the edge
    * weight collaborative-filtering similarity needs.
    *
    * Basket idiom (one shuffle builds each group's distinct item set;
    * pairs expand IN-GROUP via HOFs) instead of a self-join, which would
    * shuffle the input twice; collect_set dedups (group, item) repeats,
    * sort_array makes every pair emerge already ordered a < b.
    */
  def coOccurrenceCounts(df: DataFrame, groupCol: String, itemCol: String,
                         minCount: Long = 1L): DataFrame =
    basketPairCounts(basketSets(df, groupCol, itemCol), minCount)

  /** Exact triangle count by degree orientation.
    *
    * Every edge {u, v} is directed u→v iff (deg(u), u) < (deg(v), v) — a
    * total order, so each triangle {x ≺ y ≺ z} is generated exactly once:
    * as the wedge (x→y, x→z) closed by the oriented edge y→z. Out-degrees
    * under this orientation are O(√m), which bounds the wedge join — the
    * step a hub-degree-quadratic naive enumeration cannot survive.
    *
    * Input: distinct undirected edges as (a, b) with a < b.
    * Output: one row — n_nodes, n_edges, n_triangles (BIGINT).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    // the edge frame feeds the degree census (twice, via the union) and the
    // orientation join — materialize whatever derivation produced it once.
    // r10: n_edges rides this checkpoint via observe (each oriented row is
    // exactly one input edge — the orientation joins are inner on the
    // census's unique keys, so counting here equals counting `oriented`)
    val (e, mE) = checkpointWithProbe(
      edges.select(col("a"), col("b")), count(lit(1)).as("n"))
    val nEdges = mE("n").asInstanceOf[Long]
    // r10 (guide §2.4): deg feeds BOTH orientation joins below (twice in
    // one plan) plus the final n_nodes count — materialize the census once
    // instead of running the degree aggregation three times; n_nodes rides
    // the materialization via observe
    val (deg, mD) = checkpointWithProbe(
      e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg")),
      count(lit(1)).as("n"))
    val nNodes = mD("n").asInstanceOf[Long]
    // deg is node-sized — shuffle-join it, never broadcast by assumption
    // ONE definition of the total order — all three projections must agree
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("src"),
        when(fwd, col("b")).otherwise(col("a")).as("dst"),
        when(fwd, col("db")).otherwise(col("da")).as("degd"))
      .localCheckpoint() // three consumers below; compute the orientation once
    // wedge (u→v, u→w) with v ≺ w in the SAME (deg, node) total order
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.degd") < col("e2.degd") ||
            (col("e1.degd") === col("e2.degd") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("src"), col("e2.dst").as("dst"))
    // each wedge matches at most one oriented edge (edges are distinct), so
    // the inner-join cardinality IS the triangle count
    val nTri = wedges.join(oriented.select(col("src"), col("dst")),
      Seq("src", "dst"), "inner")
    // node and edge totals were observed during their checkpoints above —
    // the old shape re-scanned both frames and crossJoined three 1-row
    // aggregates; only the triangle count still needs a pass
    nTri.agg(count(lit(1)).cast("long").as("n_triangles"))
      .select(lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
        col("n_triangles"))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop every node
    * whose degree in the REMAINING graph is below k, until a fixpoint (or
    * maxRounds). What survives is the k-core — the standard dense-region
    * extractor for community pruning and spam-subgraph detection.
    *
    * Each round is one degree census + two semi-joins over the current
    * edge frame, localCheckpoint'ed so round r's plan never replays rounds
    * 1..r−1; convergence tests the checkpointed frame's count (a driver
    * scalar per round, never data). Peeling is monotone — each round's
    * edge set is a subset of the last — so a no-change round IS the
    * fixpoint and early exit is exact: running fewer than maxRounds
    * changes nothing once converged.
    *
    * Input: distinct undirected edges (a, b), a < b.
    * Output: (node, core_deg) for every surviving node — empty when the
    * graph has no k-core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    // r10 (guide §1.2 job floor): the per-round edge count rides the
    // checkpoint materialization via observe ([[checkpointWithProbe]])
    // instead of a second count() job over the just-written blocks —
    // one action per peel round instead of two, same counts.
    def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
      val (ck, m) = checkpointWithProbe(df, count(lit(1)).as("n"))
      (ck, m("n").asInstanceOf[Long])
    }
    var (e, lastCount) = checkpointCounted(edges.select(col("a"), col("b")))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("n"))
      val (e2, nextCount) = checkpointCounted(e
        .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      converged = nextCount == lastCount
      lastCount = nextCount
      e = e2
      round += 1
    }
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Weakly connected components by min-label propagation accelerated with
    * pointer jumping, run to a data-dependent fixpoint.
    *
    * Each round does two steps:
    *   1. neighbor-min:  lbl'(v) = min(lbl(v), min over neighbors lbl(u))
    *   2. pointer jump:  lbl''(v) = lbl'(lbl'(v))
    * Labels are always node ids (minima over node-id sets), so the jump is
    * a self-join of the label frame on lbl = node. The jump halves the
    * longest label-chain each round, so convergence is O(log diameter)
    * rounds instead of O(diameter) for plain propagation — the difference
    * between ~8 and ~thousands of shuffles on a 100 TB path graph.
    *
    * Convergence is detected from sum(lbl): labels only ever decrease
    * (both steps are min operations), so an unchanged sum IS the fixpoint —
    * one driver scalar per round, no change-count join. The sum runs in
    * DECIMAL(38,0) so billions of 64-bit ids cannot overflow the probe.
    *
    * Iterative-plan hygiene as in [[pageRank]]: adjacency materialized
    * once, the label frame localCheckpoint'ed each round.
    *
    * Input: distinct undirected edges (a, b), a < b.
    * Output: one row per component — (component, n_nodes), component = the
    * minimum node id in it.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 20): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("v")) // the side every round's label join keys on
      .localCheckpoint()
    // r10 (guide §1.2 job floor): the convergence probe — sum(lbl) in
    // DECIMAL(38,0), unchanged semantics — rides each round's checkpoint
    // materialization via observe ([[checkpointWithProbe]]) instead of a
    // separate aggregation job over the just-written label blocks: one
    // action per round instead of two. SUM over zero rows is NULL (empty
    // edge set), hence the Option.
    def checkpointSummed(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val (ck, m) = checkpointWithProbe(df,
        sum(col("lbl").cast("decimal(38,0)")).as("s"))
      (ck, Option(m("s").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO))
    }
    var (lbl, lastSum) = checkpointSummed(
      adj.select(col("u").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // r9 optimization (guide §2.4): the neighbor-min and the node's own
      // label fold in ONE aggregation — union the self-label rows into the
      // neighbor-label stream and take min(candidate) per node. The former
      // shape (groupBy neighbor-min, then join back onto lbl for least())
      // paid an extra hash shuffle + join per round; min over the union is
      // the same value (min(own, min(neighbors)) = least), and every node
      // appears in its own self row, so no node drops.
      // NOTE (r10, measured-REVERTED): checkpointing l1 here — so both
      // jump-join sides read materialized blocks instead of the shared
      // aggregation — read WORSE (d177 jobs 38 → 59, taskSec 8.0 → 10.4,
      // wall 3.28 vs 3.18 standalone): AQE's exchange reuse already
      // computes the neighbor-min aggregation once for both consumers,
      // so the extra checkpoint is pure added materialization.
      val l1 = adj
        .join(lbl.select(col("node").as("v"), col("lbl").as("nl")), Seq("v"))
        .select(col("u").as("node"), col("nl").as("cand"))
        .unionByName(lbl.select(col("node"), col("lbl").as("cand")))
        .groupBy(col("node")).agg(min(col("cand")).as("lbl"))
      val (l2, s) = checkpointSummed(l1
        .join(l1.select(col("node").as("lbl"), col("lbl").as("jl")), Seq("lbl"))
        .select(col("node"), col("jl").as("lbl")))
      converged = s.compareTo(lastSum) == 0
      lastSum = s
      lbl = l2
      round += 1
    }
    // a truncated labeling is WRONG (partially merged components), not
    // conservative — fail loudly rather than return it
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds — " +
        "raise maxRounds (pointer jumping needs ~log2(diameter) rounds)")
    lbl.groupBy(col("lbl").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Damped PageRank on an undirected graph, a fixed number of synchronous
    * iterations from the uniform start:
    *   pr'(v) = (1 − d)/N + d · Σ_{u ~ v} pr(u) / deg(u).
    * Undirected edges mean no dangling mass (every node has deg ≥ 1).
    *
    * Iterative-plan hygiene: the adjacency list (with out-degree attached)
    * is materialized once; each iteration is one join + one aggregate, and
    * the new rank vector is localCheckpoint'ed so the logical plan stays
    * one-iteration deep — without the cut, iteration k replays all k−1
    * predecessors and the DAG grows without bound.
    *
    * Doubles: per-edge contributions are engine-identical; only the
    * per-node summation order differs (~1 ulp/term), so ranks are ROUNDed
    * to 9 digits on output only.
    *
    * Input: distinct undirected edges (a, b), a < b.
    * Output: (node, pr ROUND 9) for every node.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
               damping: Double = 0.85): DataFrame = {
    // both union branches and the degree census re-read the edge frame —
    // materialize its derivation once
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val adjRaw = e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
    // r10 (guide §2.4 — don't recompute what one pass already built): the
    // degree census used to be an unmaterialized plan consumed THREE times
    // (inside adj's checkpoint, by the n = deg.count() probe, and again by
    // the initial rank vector's checkpoint) — three full hash aggregations
    // over the 2|E|-row adjacency. Checkpointing deg once (with the node
    // count riding the materialization, [[checkpointWithProbe]]) makes it
    // one aggregation; adj and pr0 read the materialized blocks. Same
    // action count (deg_ck replaces deg.count), two aggregations saved at
    // every scale.
    val (deg, mDeg) = checkpointWithProbe(
      adjRaw.groupBy(col("src")).agg(count(lit(1)).as("deg")),
      count(lit(1)).as("n"))
    val adj = adjRaw.join(deg, "src")
      .repartition(col("src")) // the partitioning every iteration's join reuses
      .localCheckpoint()
    val n = mDeg("n").asInstanceOf[Long]
    val teleport = (1.0 - damping) / n
    var pr = deg.select(col("src").as("node"), lit(1.0 / n).as("pr"))
      .localCheckpoint()
    for (_ <- 1 to iterations) {
      pr = adj.join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("deg")).as("__in"))
        .select(col("dst").as("node"),
          (lit(teleport) + lit(damping) * col("__in")).as("pr"))
        .localCheckpoint()
    }
    pr.select(col("node"), round(col("pr"), 9).as("pr"))
  }

  /** Multi-source BFS hop distances, bounded at `maxHops`: the minimum
    * number of edges from any seed to each reachable node — ego-network
    * extraction, influence radius, and "related items within k clicks"
    * all reduce to this.
    *
    * Level-synchronous frontier expansion: each round joins the CURRENT
    * frontier (nodes first reached last round — never the whole visited
    * set) against the adjacency frame, then anti-joins the visited set to
    * keep only first arrivals. Per-round shuffle cost is
    * O(frontier × avg-degree), the minimum any distributed BFS pays; the
    * adjacency frame is partitioned once on the join key and reused every
    * round. An empty frontier is the exact fixpoint (every reachable node
    * within maxHops already has its minimal hop — hop levels are found in
    * order), so early exit changes nothing.
    *
    * Iterative-plan hygiene as in [[pageRank]]: each round's frontier is
    * localCheckpoint'ed so round r never replays 1..r−1; the visited set
    * is the union of those checkpointed frontiers, compacted into one
    * checkpoint every few hops so the anti-join's plan depth stays
    * bounded regardless of maxHops.
    *
    * Input: distinct undirected edges (a, b) a < b, and seed node ids.
    * Output: (node, hop) with hop in [0, maxHops] — seeds at hop 0.
    */
  def bfsDistances(edges: DataFrame, seeds: Seq[Long],
                   maxHops: Int): DataFrame = {
    require(seeds.nonEmpty, "bfsDistances needs at least one seed")
    require(maxHops >= 0, s"maxHops must be non-negative: $maxHops")
    val session = edges.sparkSession
    // edges feed ONLY the adjacency frame, and THAT is the checkpoint —
    // a second edge-level checkpoint would materialize the same rows
    // twice (callers with an expensive edge derivation should pass it
    // materialized; the union below reads it in both directions)
    val e = edges.select(col("a"), col("b"))
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .repartition(col("u")) // the side every round's frontier join keys on
      .localCheckpoint()
    import session.implicits._
    // r9 optimization (guide §2): `visited` is a lazy UNION of the
    // per-hop checkpointed frontiers instead of being re-checkpointed
    // every round — the former shape re-materialized ALL visited rows
    // each hop (O(V × hops) block writes); the union reads each hop's
    // already-checkpointed blocks.
    //
    // r10 refinements:
    //  - the frontier-emptiness probe (was a per-round isEmpty job) rides
    //    the checkpoint materialization via observe
    //    ([[checkpointWithProbe]]) — one action per hop instead of two;
    //  - the visited union is COMPACTED into one checkpoint every
    //    `compactEvery` hops (r9 ADVICE): an unbounded union grows the
    //    anti-join's plan (and its analysis cost) linearly per hop —
    //    O(maxHops²) total driver-side planning for large maxHops.
    //    Compaction bounds plan depth at `compactEvery` branches while
    //    keeping re-materialization at O(V × hops / compactEvery); at
    //    battery hop counts it never fires.
    var frontier = seeds.distinct.toDF("node").localCheckpoint()
    var frontierCount = seeds.distinct.size.toLong
    var levels = List(frontier.withColumn("hop", lit(0)))
    val compactEvery = 8
    var visitedCompact: Option[DataFrame] = None
    var visitedRecent: List[DataFrame] = List(frontier)
    def visitedNodes = (visitedCompact.toList ++ visitedRecent)
      .reduce(_ union _)
    var hop = 0
    while (hop < maxHops && frontierCount > 0) {
      hop += 1
      val (next, m) = checkpointWithProbe(
        adj.join(frontier.withColumnRenamed("node", "u"),
            Seq("u"), "left_semi")
          .select(col("v").as("node")).distinct()
          .join(visitedNodes, Seq("node"), "left_anti"),
        count(lit(1)).as("n"))
      frontierCount = m("n").asInstanceOf[Long]
      levels ::= next.withColumn("hop", lit(hop))
      visitedRecent ::= next
      if (visitedRecent.size >= compactEvery) {
        visitedCompact = Some(visitedNodes.localCheckpoint())
        visitedRecent = Nil
      }
      frontier = next
    }
    levels.reduce(_ union _)
      .select(col("node"), col("hop").cast("int").as("hop"))
  }

  /** Item-item cosine similarity with per-item top-k — the classic
    * co-occurrence collaborative-filtering recommender:
    *   sim(a, b) = c_ab / sqrt(c_a · c_b)
    * with c_ab the number of groups containing both items and c_i the
    * number containing item i. Every input to the formula is an exact
    * integer; sqrt and the division are single correctly-rounded IEEE
    * ops, so the scores are bit-identical cross-engine and rank
    * deterministically (ties broken by partner id).
    *
    * Distribution: the pair census is the [[coOccurrenceCounts]] basket
    * idiom (one group shuffle, in-group expansion); item counts are an
    * item-hash aggregate joined back by item (item-sized, shuffled not
    * broadcast by assumption); the top-k window partitions by item —
    * and because it is the row_number-filter idiom, Spark's
    * `WindowGroupLimit` pre-prunes each partition to k before the
    * window's shuffle.
    *
    * Output: (item, partner, pair_cnt, item_cnt, partner_cnt, sim, rank)
    * for rank ≤ k, both directions of every pair.
    */
  def itemSimilarityTopK(df: DataFrame, groupCol: String, itemCol: String,
                         minCount: Long = 1L, k: Int = 3): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    // ONE input shuffle: both the pair census and the item counts derive
    // from the same materialized basket sets (re-scanning the raw input
    // for a distinct+count would pay two more full-input shuffles)
    val baskets = basketSets(df, groupCol, itemCol).localCheckpoint()
    val pairs = basketPairCounts(baskets, minCount)
      .localCheckpoint() // feeds both direction expansions
    // r10 (guide §2.4): materialize the item census once — joined twice
    // below, Catalyst planned the explode+aggregate subtree TWICE (no
    // exchange reuse across the item/partner aliases, plan-verified) —
    // and attach BOTH counts before the symmetric union, so the joins run
    // over the pair set, not the doubled directed set. Same exact
    // integers into the same sim arithmetic.
    val itemCnt = baskets
      .select(explode(col("__is")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val withCnts = pairs
      .join(itemCnt.select(col("i").as("a"), col("c").as("ca")), Seq("a"))
      .join(itemCnt.select(col("i").as("b"), col("c").as("cb")), Seq("b"))
    val scored = withCnts
      .select(col("a").as("item"), col("b").as("partner"), col("cnt"),
        col("ca").as("item_cnt"), col("cb").as("partner_cnt"))
      .union(withCnts
        .select(col("b").as("item"), col("a").as("partner"), col("cnt"),
          col("cb").as("item_cnt"), col("ca").as("partner_cnt")))
      .withColumn("sim", col("cnt").cast("double") /
        sqrt((col("item_cnt") * col("partner_cnt")).cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item"))
      .orderBy(col("sim").desc, col("partner").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("item"), col("partner"), col("cnt").as("pair_cnt"),
        col("item_cnt"), col("partner_cnt"), col("sim"),
        col("rank").cast("int").as("rank"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair with at
    * least one shared neighbor, the count of shared neighbors and the
    * neighborhood-Jaccard score
    *   J(u, w) = common / (deg(u) + deg(w) − common)
    * — exact integers into one correctly-rounded division, so scores and
    * their ordering are engine-portable.
    *
    * The wedge join through each middle node costs deg(middle)² — the
    * one genuinely quadratic term — so middles above `maxMiddleDegree`
    * are excluded (documented cap, same contract as the dedup pair caps:
    * a 100 TB graph's super-hubs contribute near-zero Jaccard evidence
    * per pair anyway, their common-neighbor mass spreads over deg² pairs).
    * Degrees in the output are TRUE degrees (the census runs before the
    * cap; the cap only bounds which middles generate wedges).
    *
    * Input: distinct undirected edges (a, b), a < b.
    * Output: (u, w, common, deg_u, deg_w, score), u < w, non-adjacent.
    */
  def commonNeighborScores(edges: DataFrame,
                           maxMiddleDegree: Long = 10000L): DataFrame = {
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint() // read by the cap filter AND two score joins
    // NOTE (r10, measured-REVERTED): localCheckpoint'ing `capped` — the
    // wedge self-join plans this subtree four times (two sides × the
    // union's two legs) — read WORSE on d198 (taskSec 7.7 → 10.6, tasks
    // 93 → 113, wall flat-to-up): the four replans are cheap broadcast
    // semi-joins fused into the e-checkpoint scans, while the extra
    // materialization writes the full 2|E| adjacency to block storage.
    // Re-try on a corpus where the adjacency dwarfs the checkpoint write.
    val capped = adj
      .join(deg.filter(col("deg") <= maxMiddleDegree).select(col("u")),
        Seq("u"), "left_semi")
      .select(col("u").as("m"), col("v").as("x"))
    val common = capped.as("l").join(capped.as("r"),
        col("l.m") === col("r.m") && col("l.x") < col("r.x"))
      .groupBy(col("l.x").as("u"), col("r.x").as("w"))
      .agg(count(lit(1)).as("common"))
      // predicted links only: drop pairs already connected
      .join(e.select(col("a").as("u"), col("b").as("w")),
        Seq("u", "w"), "left_anti")
    common
      .join(deg.select(col("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("u").as("w"), col("deg").as("deg_w")), Seq("w"))
      .select(col("u"), col("w"), col("common"), col("deg_u"), col("deg_w"),
        (col("common").cast("double") /
          (col("deg_u") + col("deg_w") - col("common")).cast("double"))
          .as("score"))
  }

  /** Exact depth of every node in a rooted forest.
    *
    * Input: one row per node — (node, parent), parent NULL for roots.
    * Parent pointers must be acyclic (every chain reaches a root): a
    * cycle fails loudly with the maxRounds error, and a dangling parent
    * (pointing at a key with no node row) fails loudly too instead of
    * masquerading as a root. Output: (node, depth) with depth 0 for
    * roots — the hierarchy-flattening primitive (org charts, BOM levels,
    * category trees).
    *
    * Hybrid, like [[Dedup.connectedComponents]] (see [[pointerJumpFold]]):
    * a forest of at most `spark.sql.autoBroadcastJoinThreshold` / 24 rows
    * (three longs a row) is walked on the driver after one bounded
    * collect; a larger one runs the path-doubling loop, where each round
    * composes the ancestor map with itself: anc ← anc(anc),
    * dist ← dist + dist(anc). The known-ancestor distance DOUBLES per
    * round, so a depth-D forest converges in ceil(log2(D)) rounds plus
    * one fixpoint confirmation of one keyed self-join each — never the D
    * sequential one-level joins of the naive parent walk (at 100 TB a
    * depth-1000 hierarchy is ~11 shuffles, not 1000). Both paths give the
    * same depths and bound depth at 2^(maxRounds−1). Setting the
    * threshold to -1 forces the loop.
    *
    * Reference analogue: the reference's transform graph is flattened
    * one level at a time on the driver (translator.py); the driver path
    * is that walk, the loop its distributed, logarithmic-round
    * restatement.
    */
  def treeDepths(parents: DataFrame, maxRounds: Int = 40): DataFrame =
    pointerJumpFold(parents.select(col("node"), col("parent")), lit(1L),
      Depth, maxRounds)

  /** What [[pointerJumpFold]] folds along each path to a root: the
    * Column combine of the doubling loop and the exact Long combine of
    * the driver walk, defined together so the two paths cannot drift.
    * `identity` is a root's value and what a hop past a root adds.
    */
  private final case class PathFold(name: String, outCol: String,
      identity: Long, combine: (Column, Column) => Column,
      exact: (Long, Long) => Long) {
    def notConverged(maxRounds: Int): String =
      s"$name did not converge within $maxRounds rounds — the input " +
        "has a cycle or depth > 2^" + (maxRounds - 1)
    def dangling: String =
      s"$name input has a dangling parent: some chain ends at a key " +
        "with no (node, parent) row — results would be silently wrong"
  }

  private val Depth =
    PathFold("treeDepths", "depth", 0L, _ + _, Math.addExact(_, _))
  private val Product =
    PathFold("treePathProducts", "eff_qty", 1L, _ * _, Math.multiplyExact(_, _))

  /** ONE pointer-jumping fold for [[treeDepths]] (+) and
    * [[treePathProducts]] (×), on one of two paths chosen by input size.
    *
    * One bounded `limit(cap + 1).collect()` of (node, parent, edge value)
    * decides the path and feeds the driver walk, as in
    * [[Dedup.connectedComponents]]. cap = `autoBroadcastJoinThreshold` /
    * 24 rows, Spark's own "small enough to ship whole" rule at three
    * longs a row, so no parameter is added. At or under cap, a memoised
    * walk visits each node once and returns a local frame. A threshold
    * ≤ 0 and a node or parent key that is not integral take the loop
    * without a collect; a NULL or repeated node key and a NULL edge value
    * below a root take it after the collect, so such input keeps the
    * loop's answer.
    *
    * The loop: each round anc ← anc(anc) and acc ← combine(acc,
    * acc(anc)), so a depth-D forest settles in ceil(log2(D)) rounds plus
    * one fixpoint confirmation, one eager checkpoint a round. Round k−1's
    * checkpoint is released once round k lands; the returned frame sits
    * on the input's checkpoint and the last round's, which the caller may
    * free with [[releaseCheckpoint]].
    *
    * Both paths fail alike: depth beyond 2^(maxRounds−1) hops and cycles
    * raise the "did not converge" IllegalArgumentException (the walk
    * counts each node's hops and finds a cycle in O(n)), a dangling
    * parent raises the "dangling parent" one, and Long overflow raises an
    * ArithmeticException (ANSI's SparkArithmeticException on the loop,
    * Math.addExact/multiplyExact on the walk) — never a wrapped value.
    * Two differences under ×: a cycle with a weight ≥ 2 squares its
    * product every round, so the loop overflows (around round 6) where
    * the walk names the cycle; and the loop multiplies path segments,
    * the walk suffixes ending at the root, so with a zero weight on a
    * path the loop can overflow on a segment the walk never forms.
    */
  private def pointerJumpFold(parents: DataFrame, edge: Column,
      fold: PathFold, maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be positive: $maxRounds")
    foldOnDriver(parents, edge, fold, maxRounds)
      .getOrElse(foldByDoubling(parents, edge, fold, maxRounds))
  }

  /** The driver path of [[pointerJumpFold]], or None when the input must
    * take the loop.
    */
  private def foldOnDriver(parents: DataFrame, edge: Column,
      fold: PathFold, maxRounds: Int): Option[DataFrame] = {
    val threshold =
      parents.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    if (threshold <= 0 ||
        !Seq("node", "parent").forall(c => integral(parents.schema(c).dataType)))
      return None
    val cap = math.min(threshold / 24, Int.MaxValue - 1L).toInt
    val rows = parents.select(col("node"), col("parent"),
        when(col("parent").isNotNull, edge)).limit(cap + 1).collect()
    val n = rows.length
    if (n > cap) return None
    def key(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue
    val at = new mutable.LongMap[Int](n)
    rows.indices.foreach(i => if (!rows(i).isNullAt(0)) at(key(rows(i), 0)) = i)
    // a NULL edge value below a root: the loop drops whichever doubled
    // segment a hop lands on, an answer only the loop gives
    if (at.size != n ||
        rows.exists(r => !r.isNullAt(1) && r.isNullAt(2))) return None
    // the parent's row; -1 for a root, -2 for a key with no node row
    val up = rows.map(r =>
      if (r.isNullAt(1)) -1 else at.getOrElse(key(r, 1), -2))
    // hops(i) is -1 until row i is reached and -2 while it is on the
    // current walk; then the hop count to its root or dangling key.
    // carry(i) folds the edge values from i up to the root.
    val hops = Array.fill(n)(-1L)
    val carry = new Array[Long](n)
    val walk = new Array[Int](n)
    rows.indices.foreach { start =>
      var len = 0
      var v = start
      while (v >= 0 && hops(v) == -1L) {
        hops(v) = -2L; walk(len) = v; len += 1; v = up(v)
      }
      require(v < 0 || hops(v) >= 0, fold.notConverged(maxRounds)) // a cycle
      while (len > 0) {
        len -= 1
        val u = walk(len)
        up(u) match {
          case -1 => hops(u) = 0L; carry(u) = fold.identity
          case -2 => hops(u) = 1L; carry(u) = rows(u).getLong(2)
          case p =>
            hops(u) = hops(p) + 1
            carry(u) = fold.exact(rows(u).getLong(2), carry(p))
        }
      }
    }
    // R rounds of the loop settle ≤ 2^(R−1) hops
    val deepest = hops.foldLeft(0L)(math.max)
    require(maxRounds > 62 || deepest <= (1L << (maxRounds - 1)),
      fold.notConverged(maxRounds))
    require(!up.contains(-2), fold.dangling)
    val out = rows.indices.map(i => Row(rows(i).get(0), carry(i)))
    Some(parents.sparkSession.createDataFrame(out.asJava, StructType(Seq(
      parents.schema("node"), StructField(fold.outCol, LongType)))))
  }

  /** The distributed path of [[pointerJumpFold]]. */
  private def foldByDoubling(parents: DataFrame, edge: Column,
      fold: PathFold, maxRounds: Int): DataFrame = {
    val p = parents.localCheckpoint()
    val roots = p.filter(col("parent").isNull)
      .select(col("node"), lit(fold.identity).as(fold.outCol))
    // r10 (guide §1.2 job floor): both `active` probes ride their frame's
    // checkpoint materialization via observe ([[checkpointWithProbe]])
    // instead of a separate limit(1) job per round — one action per
    // doubling round instead of two. `active` keeps its existence
    // semantics: >0 while some row still has a non-root ancestor (for the
    // initial frame: while any non-root row exists at all); 0 means every
    // anc column is a root and acc is the settled path fold.
    val (f0, m0) = checkpointWithProbe(
      p.filter(col("parent").isNotNull)
        .select(col("node"), col("parent").as("anc"), edge.as("acc")),
      count(lit(1)).as("active"))
    var f = f0
    var active = m0("active").asInstanceOf[Long]
    var round = 0
    while (active > 0 && round < maxRounds) {
      val hop = f.select(col("node").as("anc"), col("anc").as("anc2"),
        col("acc").as("a2"))
      val (next, m) = checkpointWithProbe(
        f.join(hop, Seq("anc"), "left")
          .select(col("node"),
            coalesce(col("anc2"), col("anc")).as("anc"),
            fold.combine(col("acc"), coalesce(col("a2"), lit(fold.identity)))
              .as("acc"),
            col("anc2").isNotNull.as("__moved")),
        sum(when(col("__moved"), 1L).otherwise(0L)).as("active"))
      active = Option(m("active").asInstanceOf[java.lang.Long])
        .fold(0L)(_.longValue) // SUM over zero rows is NULL
      releaseCheckpoint(f) // round k−1's blocks are dead once round k lands
      f = next.drop("__moved")
      round += 1
    }
    // R rounds settle depth ≤ 2^(R−1): the last round is the fixpoint
    // confirmation in which nothing moves (depth 9 needs 4 + 1 rounds)
    require(active == 0, fold.notConverged(maxRounds))
    // dangling-parent audit: every settled ancestor must be a real root
    // row, else the chain silently terminated at a key with no node. A
    // plain count, not limit(1): on valid input there is no row to stop
    // at, and Spark names each planned LIMIT's generated counter field
    // from a JVM-global sequence, so a limit would compile fresh classes
    // on every call instead of reusing cached ones
    val dangling = f.join(
      roots.select(col("node").as("anc")), Seq("anc"), "left_anti")
      .count()
    require(dangling == 0, fold.dangling)
    roots.unionByName(f.select(col("node"), col("acc").as(fold.outCol)))
  }

  /** Weighted path PRODUCTS over a forest — the BOM-explosion primitive
    * (effective quantity of a component = Π of per-edge quantities up to
    * the root), by the same hybrid as [[treeDepths]] with + replaced by
    * ×: on the loop, each round `prod(v) ·= prod(anc(v))` and
    * `anc(v) ← anc(anc(v))`, so a depth-1000 chain multiplies out in 10
    * shuffles; a forest of at most `autoBroadcastJoinThreshold` / 24
    * rows is multiplied out on the driver after one bounded collect
    * (threshold -1 forces the loop). Input: (node, parent, qty) with qty
    * the edge weight node→parent (roots: parent NULL, qty ignored).
    * Output: (node, eff_qty) — roots at 1.
    *
    * Exactness: products stay in Long and FAIL LOUDLY on overflow with an
    * ArithmeticException rather than wrapping — callers with qty ≤ q and
    * depth D need q^D < 2^63 (q=6 → D ≤ 24; deeper BOMs lift to
    * DECIMAL(38,0)). Dangling parents are rejected as in [[treeDepths]];
    * cycles die loudly too — on the loop usually as the overflow rather
    * than the maxRounds require, since the doubling squares a cycle's
    * product every round whenever any cycle edge has qty ≥ 2 (see
    * [[pointerJumpFold]]).
    */
  def treePathProducts(parents: DataFrame, maxRounds: Int = 40): DataFrame =
    pointerJumpFold(parents.select(col("node"), col("parent"), col("qty")),
      col("qty").cast("long"), Product, maxRounds)
}
