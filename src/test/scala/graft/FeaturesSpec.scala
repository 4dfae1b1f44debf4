package graft

import graft.operators.Features

/** Hashing-trick vectorizer vs an in-memory md5 model. */
class FeaturesSpec extends SparkTestBase {
  import SparkTestBase.spark.implicits._

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def model(docs: Seq[(Long, String)], p: Int): Map[(Long, String), Long] =
    docs.flatMap { case (id, text) =>
      text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map(tok => (id, md5Hex(tok).take(p)))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("hashingVectorize matches the in-memory md5 model (tf + collisions)") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "Beta GAMMA beta"),
      (3L, "delta epsilon zeta eta theta iota kappa"),
      (4L, "alpha alpha alpha"))
    for (p <- Seq(1, 3)) {
      val got = Features.hashingVectorize(docs.toDF("doc_id", "text"),
        "doc_id", "text", prefixLen = p)
        .as[(Long, String, Long)].collect()
        .map { case (id, f, tf) => (id, f) -> tf }.toMap
      assert(got == model(docs, p), s"prefixLen=$p")
    }
    // prefixLen = 1 must actually merge distinct tokens into one bucket
    // somewhere (16 buckets over 10 distinct tokens): per-doc bucket count
    // strictly below per-doc distinct-token count for doc 3 would be luck-
    // dependent; assert the global census instead
    val all = model(docs, 1)
    val distinctTokens = docs.flatMap(_._2.toLowerCase.split("\\s+")).distinct.size
    val distinctBuckets = all.keys.map(_._2).toSet.size
    assert(distinctBuckets <= distinctTokens)
  }

  test("hashingVectorize: case folding and tf accumulation") {
    val got = Features.hashingVectorize(
      Seq((1L, "Word word WORD")).toDF("doc_id", "text"),
      "doc_id", "text", prefixLen = 4)
      .as[(Long, String, Long)].collect()
    assert(got.toSeq == Seq((1L, md5Hex("word").take(4), 3L)))
  }

  /** Textbook 2×C χ² from dense contingency counts, zero-expected cells
    * skipped — the model chiSquareByLabel must reproduce.
    */
  private def modelChi2(present: Map[(String, String), Long],
                        classTotals: Map[String, Long]): Map[String, Double] = {
    val n = classTotals.values.sum
    val features = present.keys.map(_._1).toSet
    features.map { f =>
      // keys is a Set — map through a Seq or equal per-class counts dedup
      val pf = classTotals.keys.toSeq.map(c => present.getOrElse((f, c), 0L)).sum
      val chi2 = classTotals.toSeq.map { case (c, nc) =>
        val a = present.getOrElse((f, c), 0L)
        val ep = pf.toDouble * nc / n
        val ea = (n - pf).toDouble * nc / n
        val t1 = (a - ep) * (a - ep) / ep
        val t2 = if (ea > 0) (nc - a - ea) * (nc - a - ea) / ea else 0.0
        t1 + t2
      }.sum
      f -> chi2
    }.toMap
  }

  test("chiSquareByLabel matches the dense contingency model (incl. zero cells)") {
    // feature "only-a" appears ONLY in class A docs (perfect association,
    // and a zero (feature, B) cell that must densify); "both" is balanced
    val docs = Seq(
      (1L, "A", Seq("fa", "fb")), (2L, "A", Seq("fa")),
      (3L, "A", Seq("fb")), (4L, "B", Seq("fb")),
      (5L, "B", Seq("fb")), (6L, "B", Seq()))
    val features = docs.flatMap { case (id, _, fs) => fs.map(f => (id, f)) }
      .toDF("id", "feature")
    val labels = docs.map { case (id, l, _) => (id, l) }.toDF("id", "lbl")
    val got = Features.chiSquareByLabel(features, labels, "id", "feature", "lbl")
      .as[(String, Long, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    val present = docs.flatMap { case (_, l, fs) => fs.map(f => (f, l)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val classTotals = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val want = modelChi2(present, classTotals)
    assert(got.keySet == want.keySet)
    for ((f, chi2) <- want) {
      assert(math.abs(got(f)._2 - chi2) < 1e-5, s"feature $f")
    }
    assert(got("fa")._1 == 2L && got("fb")._1 == 4L)
    // perfect association must outscore the balanced feature
    assert(got("fa")._2 > got("fb")._2)
  }

  test("chiSquareByLabel: unlabeled docs are excluded, not phantom-zeroed") {
    val features = Seq((1L, "f"), (2L, "f"), (3L, "f"), (4L, "g"))
      .toDF("id", "feature")
    val labels = Seq((1L, "A"), (2L, "B"), (4L, "B")).toDF("id", "lbl")
    val labelsWithNull = labels.union(
      Seq((3L, null.asInstanceOf[String])).toDF("id", "lbl"))
    val clean = Features.chiSquareByLabel(features, labels, "id", "feature", "lbl")
      .collect().map(_.toSeq).toSet
    val withNull = Features.chiSquareByLabel(features, labelsWithNull,
      "id", "feature", "lbl").collect().map(_.toSeq).toSet
    assert(withNull == clean,
      "a null-labeled doc must not shift any feature's contingency")
  }

  test("chiSquareByLabel: empty labels yield an empty report, not an NPE") {
    val features = Seq((1L, "f")).toDF("id", "feature")
    val labels = Seq.empty[(Long, String)].toDF("id", "lbl")
    assert(Features.chiSquareByLabel(features, labels, "id", "feature", "lbl")
      .count() == 0L)
  }

  test("hashingVectorize rejects out-of-range prefix lengths") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Features.hashingVectorize(df, "doc_id", "text", prefixLen = 0)
    }
    intercept[IllegalArgumentException] {
      Features.hashingVectorize(df, "doc_id", "text", prefixLen = 9)
    }
  }

  /** Reference BPE trainer: greedy left-to-right merges on symbol vectors,
    * tie-break (count DESC, left ASC, right ASC) — independent of the
    * engine's wrapped-string REPLACE algebra.
    */
  private def modelBpe(texts: Seq[String],
                       n: Int): Seq[(Int, String, String, String, Long)] = {
    def mergeSeq(syms: Vector[String], a: String,
                 b: String): Vector[String] = {
      val acc = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          acc += (a + b); i += 2
        } else { acc += syms(i); i += 1 }
      }
      acc.result()
    }
    var words: Map[Vector[String], Long] = texts
      .flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
      .groupBy(w => w.map(_.toString).toVector)
      .map { case (v, ws) => v -> ws.size.toLong }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= n && !done) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, c) <- words; w <- syms.sliding(2) if w.length == 2)
        stats((w(0), w(1))) += c
      if (stats.isEmpty) done = true
      else {
        val ((a, b), c) = stats.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((step, a, b, a + b, c))
        words = words.map { case (syms, c) => mergeSeq(syms, a, b) -> c }
        step += 1
      }
    }
    out.result()
  }

  test("bpeTrain matches the greedy reference, ties and repeats included") {
    val s = spark; import s.implicits._
    // 'aaaa' forces overlapping-candidate greediness ((aa)(aa), not a(aa)a);
    // banana/bandana exercise multi-char merges; counts create real ties
    val texts = Seq("aab aab banana", "banana bandana aaaa",
      "aaaa cc cc dd dd")
    val got = Features.bpeTrain(texts.toDF("text"), "text", nMerges = 6)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq.sortBy(_._1)
    assert(got == modelBpe(texts, 6), s"merge tables diverge: $got")
  }

  test("bpeTrain releases every training-round checkpoint block (r9 fix)") {
    val s = spark; import s.implicits._
    // Dataset.unpersist is a no-op for localCheckpoint blocks (they live on
    // the checkpoint RDD, never in the CacheManager — r8 ADVICE), so the
    // release must unpersist the checkpoint RDD itself. Pin: a multi-round
    // training run leaves NO net new persisted RDDs behind — under the old
    // words.unpersist() every round's word-table checkpoint stayed
    // registered for the JVM's lifetime.
    val before = s.sparkContext.getPersistentRDDs.keySet
    Features.bpeTrain(
      Seq("aab aab banana", "banana bandana aaaa", "aaaa cc cc dd dd")
        .toDF("text"), "text", nMerges = 6).collect()
    val leaked = s.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty,
      s"bpeTrain leaked persisted RDD blocks (ids $leaked): the per-round " +
        "release is not freeing the localCheckpoint RDDs")
    // the same release serves the label-propagation loop (forced past the
    // driver-side union-find) and d128's signature checkpoint; the
    // components frame handed back is the caller's to release
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val components = operators.Dedup.connectedComponents(pairs, maxDriverEdges = 0L)
    assert(components.count() == 5L)
    operators.GraphOps.releaseCheckpoint(components)
    // the tree loop (forced past the driver walk) frees each superseded
    // round as the next lands; the two checkpoints under its result (the
    // input's and the last round's) are the caller's. Counted at once:
    // the registry holds RDDs weakly, so a GC would hide a leak later on
    val depths = withBroadcastThreshold("-1") {
      operators.GraphOps.treeDepths((0L to 6L)
        .map(v => (v, if (v == 0L) None else Some(v - 1L)))
        .toDF("node", "parent"))
    }
    val held = s.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(held.size == 2, s"treeDepths holds checkpoints $held, want 2")
    assert(depths.count() == 7L)
    operators.GraphOps.releaseCheckpoint(depths)
    ModelChecks.d128CheckSimhashComplete(s, "/root/testdata/sf0.001").collect()
    val leakedAll = s.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leakedAll.isEmpty,
      s"connectedComponents, treeDepths or d128 leaked persisted RDD " +
        s"blocks (ids $leakedAll)")
  }

  test("woeIv matches the rank model: exact bins, smoothing, tie routing") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(5)
    // heavy ties on v (only 7 distinct values over 200 rows) so tie
    // routing by id across bin boundaries is actually exercised
    val rows = (1L to 200L).map(i =>
      (i, (rnd.nextInt(7) * 10).toDouble, if (rnd.nextInt(3) == 0) 1 else 0))
    val got = Features.woeIv(rows.toDF("id", "v", "lbl"), "id", "v", "lbl",
      nBins = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).sortBy(_._1)
    // reference: sort by (v, id), rank, integer-bin, smoothed WoE
    val ranked = rows.sortBy(t => (t._2, t._1)).zipWithIndex
    val byBin = ranked.groupBy { case (_, rk) => rk.toLong * 5 / 200 }
      .toSeq.sortBy(_._1)
    val gTot = rows.count(_._3 == 1).toDouble
    val bTot = rows.size - gTot
    val want = byBin.map { case (bin, rs) =>
      val g = rs.count(_._1._3 == 1).toLong
      val b = rs.size - g
      val woe = math.log(((g + 0.5) / gTot) / ((b + 0.5) / bTot))
      (bin, rs.size.toLong, g, b.toLong, woe, (g / gTot - b / bTot) * woe)
    }
    assert(got.length == want.length)
    got.zip(want).foreach { case (gg, ww) =>
      assert(gg._1 == ww._1 && gg._2 == ww._2 && gg._3 == ww._3 &&
        gg._4 == ww._4, s"bin census diverges: $gg vs $ww")
      assert(math.abs(gg._5 - ww._5) < 1e-12 &&
        math.abs(gg._6 - ww._6) < 1e-12, s"woe/iv diverge: $gg vs $ww")
    }
    // exact equi-depth: bins differ by at most one row
    val sizes = got.map(_._2)
    assert(sizes.max - sizes.min <= 1, s"bins not equi-depth: $sizes")
  }

  test("woeIv: NULL feature rows are excluded from bins AND the cohort size") {
    val s = spark; import s.implicits._
    val rows: Seq[(Long, java.lang.Double, Int)] =
      (1L to 40L).map(i => (i, java.lang.Double.valueOf(i.toDouble),
        (i % 3 == 0).compare(false))) ++
        Seq((98L, null, 1), (99L, null, 0))
    val out = Features.woeIv(rows.toDF("id", "v", "lbl"), "id", "v", "lbl",
      nBins = 4).collect()
    // the 2 null rows vanish entirely: 40 remaining rows -> four 10-row
    // bins (an n that still counted nulls would make bin 0 start short)
    assert(out.map(_.getLong(1)).sum == 40L, "null rows leaked into bins")
    assert(out.forall(_.getLong(1) == 10L),
      s"equi-depth broken by null counting: ${out.map(_.getLong(1)).toSeq}")
  }

  test("woeIv: an entirely one-class cohort fails loudly, not Infinity") {
    val s = spark; import s.implicits._
    val rows = (1L to 20L).map(i => (i, i.toDouble, 0))
    intercept[IllegalArgumentException] {
      Features.woeIv(rows.toDF("id", "v", "lbl"), "id", "v", "lbl", nBins = 2)
    }
  }

  test("bpeSegment: learned-order application matches the greedy reference") {
    val s = spark; import s.implicits._
    val texts = Seq("aab aab banana", "banana bandana aaaa", "aaaa cc cc")
    val merges = modelBpe(texts, 5).map(m => (m._2, m._3))
    val got = Features.bpeSegment(texts.toDF("text"), "text", merges)
      .collect().map(r => r.getString(0) ->
        ((r.getString(2), r.getLong(3)))).toMap
    // reference: fold mergeSeq over each distinct word in merge order
    def seg(w: String): Vector[String] =
      merges.foldLeft(w.map(_.toString).toVector) { case (syms, (a, b)) =>
        val acc = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            acc += (a + b); i += 2
          } else { acc += syms(i); i += 1 }
        }
        acc.result()
      }
    val words = texts.flatMap(t => "[a-z]+".r.findAllIn(t.toLowerCase))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    assert(got.keySet == words.keySet)
    for ((w, cnt) <- words) {
      val sg = seg(w)
      assert(got(w) == ((sg.mkString(" "), sg.length.toLong)),
        s"word '$w' segments diverge: ${got(w)} vs $sg")
    }
    // boundary teeth: a merge must never apply inside a LONGER symbol
    // ('an' inside 'banana' only where 'a','n' are whole adjacent symbols)
    val m2 = Features.bpeSegment(Seq("nan banana").toDF("text"), "text",
      Seq(("a", "n"), ("n", "an"))).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(m2("nan") == "nan", s"got ${m2("nan")}") // n + an merge fully
    assert(m2("banana") == "b an an a", s"got ${m2("banana")}") // no ('n','an') pair
  }

  test("bpeTrain stops early when every word is one symbol") {
    val s = spark; import s.implicits._
    val got = Features.bpeTrain(Seq("ab ab cd").toDF("text"), "text",
      nMerges = 10).collect()
    // 'ab' and 'cd' each collapse in one merge; afterwards no pairs remain
    assert(got.length == 2, s"expected 2 merges then exhaustion: ${got.length}")
  }
}
