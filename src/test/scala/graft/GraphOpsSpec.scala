package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** GraphOps: degree-oriented triangle counting vs brute-force triple
  * enumeration, PageRank vs an in-memory replica of the same recurrence,
  * co-occurrence edge derivation.
  */
class GraphOpsSpec extends SparkTestBase {
  import SparkTestBase.spark.implicits._

  test("coOccurrenceEdges: pairs, dedup, and the minCount gate") {
    val rows = Seq( // group -> items; (2,3) co-occur twice, rest once
      (1L, 2L), (1L, 3L), (1L, 5L),
      (2L, 2L), (2L, 3L),
      (2L, 2L), // duplicate (group, item) row must not inflate counts
      (3L, 7L))
    val all = GraphOps.coOccurrenceEdges(rows.toDF("g", "i"), "g", "i")
      .as[(Long, Long)].collect().toSet
    assert(all == Set((2L, 3L), (2L, 5L), (3L, 5L)))
    val repeated = GraphOps.coOccurrenceEdges(rows.toDF("g", "i"), "g", "i",
      minCount = 2L).as[(Long, Long)].collect().toSet
    assert(repeated == Set((2L, 3L)))
  }

  private def bruteTriangles(edges: Set[(Long, Long)]): Long = {
    val adj = edges.toSeq
    (for {
      (a, b) <- adj
      (c, d) <- adj if c == a && d > b
      if edges.contains((b, d))
    } yield 1L).sum
  }

  test("triangleCount matches brute-force enumeration on a seeded graph") {
    val rnd = new scala.util.Random(13)
    val edges = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L
      if rnd.nextDouble() < 0.2
    } yield (a, b)).toSet
    val r = GraphOps.triangleCount(edges.toSeq.toDF("a", "b")).collect().head
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).size
    assert(r.getLong(0) == nodes)
    assert(r.getLong(1) == edges.size)
    assert(r.getLong(2) == bruteTriangles(edges),
      "oriented wedge count must equal the canonical enumeration")
  }

  test("triangleCount: bipartite graph has zero, hub star stresses orientation") {
    // complete bipartite K3,3 — many wedges, no triangle
    val bip = for (a <- 1L to 3L; b <- 11L to 13L) yield (a, b)
    assert(GraphOps.triangleCount(bip.toDF("a", "b")).collect().head.getLong(2) == 0L)
    // hub star with one rim edge: exactly one triangle regardless of hub degree
    val star = (2L to 40L).map(i => (1L, i)) :+ (2L, 3L)
    val r = GraphOps.triangleCount(star.toDF("a", "b")).collect().head
    assert(r.getLong(2) == 1L)
  }

  /** The same synchronous recurrence, in memory. */
  private def modelPageRank(edges: Seq[(Long, Long)], iters: Int,
                            d: Double): Map[Long, Double] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = adj.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nodes = deg.keySet
    val n = nodes.size
    var pr = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = adj.groupBy(_._2).view.mapValues(
        _.map { case (u, _) => pr(u) / deg(u) }.sum).toMap
      pr = nodes.map(v => v -> ((1.0 - d) / n + d * in(v))).toMap
    }
    pr
  }

  test("pageRank matches the in-memory recurrence and conserves mass") {
    val rnd = new scala.util.Random(29)
    val edges = (for {
      a <- 1L to 25L; b <- (a + 1) to 25L
      if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val got = GraphOps.pageRank(edges.toDF("a", "b"), iterations = 3)
      .as[(Long, Double)].collect().toMap
    val want = modelPageRank(edges, 3, 0.85)
    assert(got.keySet == want.keySet)
    for ((node, pr) <- want)
      assert(math.abs(got(node) - pr) < 2e-9, s"node $node") // ROUND 9 + ulps
    // undirected graph has no dangling mass: ranks sum to 1
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  /** Reference peeling, iterate-to-fixpoint. */
  private def modelKCore(edges: Set[(Long, Long)], k: Int): Map[Long, Int] = {
    var es = edges
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next != es
      es = next
    }
    es.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size).toMap
  }

  test("kCore matches iterative-peeling model; cascade peeling actually cascades") {
    // a 4-clique (3-core) with a pendant chain hanging off it: the chain
    // peels one link per round — multi-round convergence, not one shot
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (clique ++ chain).toSet
    val got = GraphOps.kCore(edges.toSeq.toDF("a", "b"), k = 2)
      .as[(Long, Long)].collect().toMap
    val want = modelKCore(edges, 2).map { case (n, d) => n -> d.toLong }
    assert(got == want)
    assert(got.keySet == (1L to 4L).toSet, "the chain must peel away fully")
    // seeded random graph against the model, two k values
    val rnd = new scala.util.Random(47)
    val rand = (for {
      a <- 1L to 40L; b <- (a + 1) to 40L
      if rnd.nextDouble() < 0.12
    } yield (a, b)).toSet
    for (k <- Seq(2, 3)) {
      val g = GraphOps.kCore(rand.toSeq.toDF("a", "b"), k)
        .as[(Long, Long)].collect().toMap
      assert(g == modelKCore(rand, k).map { case (n, d) => n -> d.toLong },
        s"k=$k")
    }
  }

  test("kCore: graph below the threshold empties; clique survives whole") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(GraphOps.kCore(tri.toDF("a", "b"), k = 3).count() == 0L)
    assert(GraphOps.kCore(tri.toDF("a", "b"), k = 2).count() == 3L)
  }

  private def modelComponents(edges: Set[(Long, Long)]): Map[Long, Long] = {
    // union-find reference, independent of the propagation algebra
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.groupBy(find).map { case (r, ns) => r -> ns.size.toLong }
  }

  test("connectedComponents matches union-find on a seeded random graph") {
    // four disjoint vertex blocks, random edges inside each: >= 4
    // components guaranteed, with random sub-fragmentation per block
    val rnd = new scala.util.Random(31)
    val rand = (for {
      block <- 0L until 4L
      a <- 1L to 15L; b <- (a + 1) to 15L
      if rnd.nextDouble() < 0.12
    } yield (block * 100 + a, block * 100 + b)).toSet
    val got = GraphOps.connectedComponents(rand.toSeq.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    val want = modelComponents(rand)
    assert(got == want, s"components diverge: $got vs $want")
    assert(want.size > 3, "seed must produce a multi-component graph")
  }

  test("connectedComponents: long path needs pointer jumping, islands stay apart") {
    // a 64-node path has diameter 63: plain min-propagation needs ~63
    // rounds, the jump-accelerated loop must finish inside maxRounds = 10
    val path = (1L until 64L).map(i => (i, i + 1))
    val islands = Seq((100L, 101L), (200L, 201L), (200L, 202L))
    val out = GraphOps.connectedComponents(
      (path ++ islands).toDF("a", "b"), maxRounds = 10)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 64L, 100L -> 2L, 200L -> 3L), s"got $out")
  }

  test("connectedComponents: empty edges yield an empty result") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphOps.connectedComponents(empty).count() == 0L)
  }

  test("connectedComponents agrees with Dedup's cluster labeling (both paths)") {
    // two INDEPENDENT implementations (pointer-jump propagation vs
    // driver union-find / min-label loop) must induce the same partition
    val rnd = new scala.util.Random(97)
    val rand = (for {
      a <- 1L to 80L; b <- (a + 1) to 80L
      if rnd.nextDouble() < 0.03
    } yield (a, b)).toSet.toSeq
    val pairFrame = rand.toDF("id1", "id2")
    val fromGraph = GraphOps.connectedComponents(rand.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap // component -> size
    for (maxDriverEdges <- Seq(1L << 22, 1L)) { // union-find AND loop paths
      val fromDedup = graft.operators.Dedup
        .connectedComponents(pairFrame, maxDriverEdges = maxDriverEdges)
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._2).map { case (c, ms) => c -> ms.size.toLong }
      assert(fromDedup == fromGraph,
        s"cluster census diverges (maxDriverEdges=$maxDriverEdges): " +
          s"$fromDedup vs $fromGraph")
    }
  }

  test("pageRank: path-graph ends rank below the middle; zero iterations is uniform") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val pr = GraphOps.pageRank(path.toDF("a", "b"), iterations = 5)
      .as[(Long, Double)].collect().toMap
    assert(pr(1L) < pr(2L) && pr(5L) < pr(4L))
    val uniform = GraphOps.pageRank(path.toDF("a", "b"), iterations = 0)
      .as[(Long, Double)].collect().toMap
    assert(uniform.values.toSet == Set(0.2))
  }

  test("bfsDistances: minimal hops, maxHops bound, unreachable excluded") {
    // path 1-2-3-4-5 plus shortcut 1-4 (min distance must win: 4 is at
    // hop 1, 5 at hop 2) and an island 8-9 (never reached)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (8L, 9L)).toDF("a", "b")
    val got = GraphOps.bfsDistances(edges, Seq(1L), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    // the bound truncates: maxHops = 1 keeps only the seed's neighbors
    val near = GraphOps.bfsDistances(edges, Seq(1L), maxHops = 1)
      .as[(Long, Int)].collect().toMap
    assert(near == Map(1L -> 0, 2L -> 1, 4L -> 1))
    // maxHops = 0 is the seed set itself
    assert(GraphOps.bfsDistances(edges, Seq(1L), maxHops = 0)
      .as[(Long, Int)].collect().toMap == Map(1L -> 0))
  }

  test("bfsDistances: multi-source takes the minimum over seeds; early exit is exact") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    // seeds at both ends of the path: node 3 is hop 2 from either
    val got = GraphOps.bfsDistances(edges, Seq(1L, 5L), maxHops = 10)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
    // maxHops far beyond the diameter changes nothing (empty-frontier
    // exit) — same answer as the exact-diameter run
    val exact = GraphOps.bfsDistances(edges, Seq(1L, 5L), maxHops = 2)
      .as[(Long, Int)].collect().toMap
    assert(got == exact)
    // a seed duplicated in the input stays one row at hop 0
    val dup = GraphOps.bfsDistances(edges, Seq(1L, 1L), maxHops = 1)
      .as[(Long, Int)].collect().toSeq
    assert(dup.count(_._1 == 1L) == 1)
  }

  test("itemSimilarityTopK: hand-computed cosines, both directions, k cut") {
    // baskets: g1={1,2}, g2={1,2}, g3={1,3}, g4={1,3}, g5={2,3}
    // c_1=4 c_2=3 c_3=3; c_12=2 c_13=2 c_23=1
    val rows = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L),
      (3L, 3L), (4L, 1L), (4L, 3L), (5L, 2L), (5L, 3L))
    val got = GraphOps.itemSimilarityTopK(
        SparkTestBase.spark.createDataFrame(rows).toDF("g", "i"),
        "g", "i", minCount = 1L, k = 2)
      .select("item", "partner", "sim", "rank").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getInt(3))))
      .toMap
    val s12 = 2.0 / math.sqrt((4 * 3).toDouble)
    val s13 = 2.0 / math.sqrt((4 * 3).toDouble)
    val s23 = 1.0 / math.sqrt((3 * 3).toDouble)
    // item 1: partners 2 and 3 tie on sim — partner id breaks the tie
    assert(got((1L, 2L)) == ((s12, 1)))
    assert(got((1L, 3L)) == ((s13, 2)))
    // both directions exist, each with its own rank
    assert(got((2L, 1L)) == ((s12, 1)))
    assert(got((2L, 3L)) == ((s23, 2)))
    assert(got((3L, 1L)) == ((s13, 1)))
    assert(got((3L, 2L)) == ((s23, 2)))
    // k = 1 cuts the tie loser deterministically
    val top1 = GraphOps.itemSimilarityTopK(
        SparkTestBase.spark.createDataFrame(rows).toDF("g", "i"),
        "g", "i", minCount = 1L, k = 1)
      .select("item", "partner").as[(Long, Long)].collect().toSet
    assert(top1 == Set((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("commonNeighborScores: counts shared neighbors, excludes edges, caps middles") {
    // square 1-2-3-4-1: (1,3) and (2,4) are the non-adjacent diagonals,
    // each with 2 common neighbors and degree 2 -> J = 2/(2+2-2) = 1.0
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val got = GraphOps.commonNeighborScores(square)
      .select("u", "w", "common", "score")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 3L, 2L, 1.0), (2L, 4L, 2L, 1.0)))
    // adjacent pairs with common neighbors are NOT predictions: triangle
    // plus a pendant — only the pendant pair (2,4) via middle 1 appears
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val triGot = GraphOps.commonNeighborScores(tri)
      .select("u", "w", "common", "deg_u", "deg_w", "score")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(triGot == Set((2L, 4L, 1L, 2L, 1L, 0.5), (3L, 4L, 1L, 2L, 1L, 0.5)))
    // capping out the hub middle (node 1, deg 3) removes its wedges but
    // keeps TRUE degrees in whatever survives
    val capped = GraphOps.commonNeighborScores(tri, maxMiddleDegree = 2L)
      .select("u", "w").as[(Long, Long)].collect().toSet
    assert(capped.isEmpty) // every 2-path in tri runs through node 1
  }

  /** Registers `body` twice, once per path of the tree folds: as named
    * under the default broadcast threshold (the driver walk), and with
    * the threshold at -1 (the doubling loop). Same inputs, same
    * expectations, so both paths give equal maps and fail alike.
    */
  private def treeTest(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [doubling loop]")(withBroadcastThreshold("-1")(body))
  }

  treeTest("treeDepths: chain + forest depths exact; doubling beats the walk") {
    // chain 0<-1<-2<-...<-9 (depth 9, needs ceil(log2(9)) = 4 doubling
    // rounds) plus a second root 100 with two direct children
    val parents = (Seq((0L, Option.empty[Long]), (100L, None)) ++
      (1L to 9L).map(i => (i, Some(i - 1))) ++
      Seq((101L, Some(100L)), (102L, Some(100L))))
      .toDF("node", "parent")
    val got = GraphOps.treeDepths(parents)
      .as[(Long, Long)].collect().toMap
    val want = (0L to 9L).map(i => i -> i).toMap ++
      Map(100L -> 0L, 101L -> 1L, 102L -> 1L)
    assert(got == want)
    // maxRounds exactly at the bound (4 doubling rounds + 1 fixpoint
    // confirmation) still converges; one round short (depth 9 > 2^3) or
    // well below it must fail loudly (a truncated depth map is WRONG)
    assert(GraphOps.treeDepths(parents, maxRounds = 5).count() == 13L)
    Seq(4, 2).foreach { r =>
      intercept[IllegalArgumentException] {
        GraphOps.treeDepths(parents, maxRounds = r).count()
      }
    }
  }

  treeTest("treeDepths: cycle and dangling parent both fail loudly") {
    val cyc = Seq((0L, Option.empty[Long]), (1L, Some(2L)), (2L, Some(1L)))
      .toDF("node", "parent")
    intercept[IllegalArgumentException] {
      GraphOps.treeDepths(cyc, maxRounds = 6).count()
    }
    // 2's parent 7 has no node row: converges structurally but must be
    // rejected by the dangling audit, not returned with a wrong depth
    val dangling = Seq((0L, Option.empty[Long]), (1L, Some(0L)),
      (2L, Some(7L))).toDF("node", "parent")
    intercept[IllegalArgumentException] {
      GraphOps.treeDepths(dangling).count()
    }
  }

  treeTest("treePathProducts: chain and forest closed forms") {
    // chain 1 <- 2 <- 3 <- 4 with qty(v) = v: eff(4) = 4*3*2 = 24
    val chain = Seq((1L, None, 0L), (2L, Some(1L), 2L), (3L, Some(2L), 3L),
      (4L, Some(3L), 4L)).toDF("node", "parent", "qty")
    val got = GraphOps.treePathProducts(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 6L, 4L -> 24L))
    // forest: two roots, one child each
    val forest = Seq((1L, None, 0L), (2L, None, 0L), (3L, Some(1L), 5L),
      (4L, Some(2L), 7L)).toDF("node", "parent", "qty")
    val got2 = GraphOps.treePathProducts(forest)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 3L -> 5L, 4L -> 7L))
  }

  treeTest("treePathProducts: deep chain converges in O(log depth) rounds") {
    // depth 64 with qty 1 everywhere (products stay 1, depth stresses
    // the doubling): maxRounds 8 suffices where naive needs 64
    val rows = (1L to 64L).map(v =>
      (v, if (v == 1L) None else Some(v - 1L), 1L))
    val got = GraphOps.treePathProducts(
      rows.toDF("node", "parent", "qty"), maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 64 && got.values.forall(_ == 1L))
  }

  treeTest("treePathProducts: cycle and dangling parent fail loudly") {
    val cyc = Seq((1L, Some(2L), 2L), (2L, Some(1L), 2L))
      .toDF("node", "parent", "qty")
    intercept[Exception] { GraphOps.treePathProducts(cyc, maxRounds = 5).collect() }
    val dangling = Seq((1L, None, 0L), (2L, Some(99L), 3L))
      .toDF("node", "parent", "qty")
    intercept[Exception] { GraphOps.treePathProducts(dangling).collect() }
    // the loop names a weight-2 cycle as a Long overflow, the walk as a
    // cycle; with weight 1 the product stays bounded and both must name it
    // as non-convergence, and the dangling parent the same way on both
    val cyc1 = Seq((1L, Some(2L), 1L), (2L, Some(1L), 1L))
      .toDF("node", "parent", "qty")
    intercept[IllegalArgumentException] {
      GraphOps.treePathProducts(cyc1, maxRounds = 5).collect()
    }
    intercept[IllegalArgumentException] {
      GraphOps.treePathProducts(dangling).collect()
    }
  }

  treeTest("treePathProducts: a product past 2^63 fails, never wraps") {
    // qty 2 down a 64-node chain: node 64's product is 2^63, one past
    // Long.MaxValue (node 63's, 2^62, still fits)
    val rows = (1L to 64L).map(v =>
      (v, if (v == 1L) None else Some(v - 1L), 2L))
    val e = intercept[ArithmeticException] {
      GraphOps.treePathProducts(rows.toDF("node", "parent", "qty")).collect()
    }
    assert(e != null)
    val fits = GraphOps.treePathProducts(
      rows.take(63).toDF("node", "parent", "qty"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fits(63L) == 1L << 62)
  }

  test("tree folds: the driver walk and the doubling loop agree on a random forest") {
    // parent(v) < v, so acyclic; three roots; INT node keys beside BIGINT
    // parents
    val rnd = new scala.util.Random(29)
    val rows = (0 until 400).map { v =>
      (v, if (v < 3) None else Some(rnd.nextInt(v).toLong), (v % 3 + 1).toLong)
    }
    val df = rows.toDF("node", "parent", "qty")
    def onBoth[T](f: => T): (T, T) = (f, withBroadcastThreshold("-1")(f))
    val (walkDepths, loopDepths) = onBoth(GraphOps.treeDepths(df)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val (walkProds, loopProds) = onBoth(GraphOps.treePathProducts(df)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    assert(walkDepths == loopDepths && walkProds == loopProds)
    // and both equal the sequential parent walk
    val byNode = rows.map(r => r._1 -> r).toMap
    def chain(v: Int): List[Int] =
      byNode(v)._2.fold(List(v))(p => v :: chain(p.toInt))
    rows.foreach { case (v, _, _) =>
      val up = chain(v)
      assert(walkDepths(v) == up.size - 1L)
      assert(walkProds(v) == up.init.map(byNode(_)._3).product, s"node $v")
    }
    // the output keeps the input's node field and a BIGINT fold column
    val (walkSchema, loopSchema) = onBoth(GraphOps.treeDepths(df).schema
      .map(f => f.name -> f.dataType))
    assert(walkSchema == loopSchema)
    assert(walkSchema == Seq("node" -> org.apache.spark.sql.types.IntegerType,
      "depth" -> org.apache.spark.sql.types.LongType))
  }

  test("treeDepths on a small forest starts exactly one job (the collect)") {
    // one partition, so the bounded collect is one job; the loop would
    // start one checkpoint job per doubling round plus the audit
    val parents = spark.range(1, 256, 1, 1)
      .selectExpr("id AS node", "IF(id = 1, NULL, id DIV 2) AS parent")
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    val depths = try {
      val d = GraphOps.treeDepths(parents)
      ListenerBusBridge.drain(sc)
      d
    } finally sc.removeSparkListener(l)
    assert(jobs.get == 1, s"treeDepths started ${jobs.get} jobs")
    val want = (1 to 255).map(i => 31 - Integer.numberOfLeadingZeros(i)).sum
    assert(depths.selectExpr("sum(depth)").head().getLong(0) == want)
  }

  test("checkpointWithProbe: fused probe matches direct aggregates and adds no jobs") {
    // r10 job-floor optimization pin: every iterative loop's convergence
    // probe rides the checkpoint materialization (Dataset.observe). Three
    // properties must hold or the fusion is broken: (1) the observed
    // metrics equal the direct aggregates; (2) the returned frame is a
    // real checkpoint (LogicalRDD plan, contents intact); (3) probing
    // costs ZERO additional Spark jobs versus a plain localCheckpoint of
    // the same frame.
    val df = (1L to 100L).map(i => (i % 7, i)).toDF("k", "lbl")
      .groupBy(col("k")).agg(sum(col("lbl")).as("lbl")) // a shuffle, like the loops
    def countJobs(body: => Unit): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(l)
      try {
        body
        // listener bus is async: wait until the job count is stable
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(50)
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
        jobs.get()
      } finally { sc.removeSparkListener(l); () }
    }
    var plainJobs = 0
    countJobs { } // drain any straggling events from earlier tests
    plainJobs = countJobs { df.localCheckpoint(); () }
    var probed: org.apache.spark.sql.DataFrame = null
    var metrics: Map[String, Any] = null
    val probedJobs = countJobs {
      val (ck, m) = GraphOps.checkpointWithProbe(df,
        count(lit(1)).as("n"),
        sum(col("lbl").cast("decimal(38,0)")).as("s"))
      probed = ck; metrics = m
    }
    assert(probedJobs == plainJobs,
      s"fused probe must add no jobs: plain=$plainJobs probed=$probedJobs")
    assert(metrics("n") == 7L)
    assert(metrics("s").asInstanceOf[java.math.BigDecimal].longValueExact()
      == (1L to 100L).sum)
    assert(probed.queryExecution.analyzed.nodeName == "LogicalRDD",
      "checkpointWithProbe must return a checkpointed frame")
    assert(probed.agg(sum(col("lbl"))).head().getLong(0) == (1L to 100L).sum)
  }
}
