package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Dedup + similarity operator specs over planted duplicates. */
class DedupSimilaritySpec extends SparkTestBase {

  private def docs() = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog by the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog by the river bank tonight"), // near-dup of 1
      (3L, "completely different text about spark engines and catalyst optimizers here"),
      (4L, "the quick brown fox jumps over the lazy dog by the river bank today"), // exact dup of 1
      (5L, "unrelated words entirely nothing in common with anything else at all")
    ).toDF("doc_id", "text")
  }

  test("exact dedup keeps min-id survivor per key") {
    val out = Dedup.exact(docs(), Seq("text"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assertMultiset(out, Seq(1L, 2L, 3L, 5L))
  }

  test("exactGroups reports representative and dup count") {
    val out = Dedup.exactGroups(docs(), "text", "doc_id")
      .filter(col("n_dups") > 1)
      .select("rep_id", "n_dups").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assertMultiset(out, Seq((1L, 2L)))
  }

  test("minhash LSH: exact dups collapse to reps; near-dup rep pair found") {
    val pairs = Dedup.minHashLshPairs(docs(), "doc_id", "text",
        shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 4 (exact dup of 1) is collapsed into rep 1 before pairing —
    // quadratic hamming-0 pair lists never materialize
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }, s"collapsed id leaked: $pairs")
    assert(pairs.contains((1L, 2L)), s"near-dup rep pair missing from $pairs")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) && Set(a, b).contains(5L) })
  }

  test("exact-then-near dedup pipeline keeps one representative per cluster") {
    val exactSurvivors = Dedup.exact(docs(), Seq("text"), "doc_id")
    val pairs = Dedup.minHashLshPairs(docs(), "doc_id", "text",
      shingleSize = 2, numHashes = 64, bands = 16, threshold = 0.5)
    val kept = Dedup.keepMinIdSurvivors(exactSurvivors, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // exact dedup removed 4; near-dup pair (1,2) removed 2
    assert(kept == Set(1L, 3L, 5L), s"got $kept")
  }

  test("simhash block-probing: collapsed reps, near-dup within hamming budget") {
    val pairs = Dedup.simHashPairs(docs(), "doc_id", "text", maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L }, s"collapsed id leaked: $pairs")
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h <= 16 },
      s"near-dup rep pair missing from $pairs")
  }

  test("ngramJaccardVerify rescoring") {
    val cand = {
      val s = spark
      import s.implicits._
      Seq((1L, 4L), (3L, 5L)).toDF("id1", "id2")
    }
    val out = Dedup.ngramJaccardVerify(docs(), "doc_id", "text", cand,
        shingleSize = 2, threshold = 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assertMultiset(out, Seq((1L, 4L)))
  }

  test("editDistancePairs: collapse, block cap, and maxEdit gate semantics") {
    val s = spark
    import s.implicits._
    // lang-"a" length-5 block: 3 distinct texts, 2 within edit distance 1 of
    // each other + an exact copy of one (must collapse, not pair).
    // lang-"b" length-5 block: 4 distinct texts — OVER the cap of 3, so the
    // whole block is dropped even though (20,21) are 1 edit apart.
    // lang-"c": a singleton block (no partner, never pairs).
    val df = Seq(
      (1L, "a", 5L, "abcde"), (2L, "a", 5L, "abcdX"), (3L, "a", 5L, "zzzzz"),
      (4L, "a", 5L, "abcde"), // exact dup of 1
      (20L, "b", 5L, "qqqqq"), (21L, "b", 5L, "qqqqZ"),
      (22L, "b", 5L, "mmmmm"), (23L, "b", 5L, "nnnnn"),
      (30L, "c", 5L, "xyxyx")
    ).toDF("doc_id", "lang", "n_chars", "text")
    val out = Dedup.editDistancePairs(df, "doc_id", "text",
        Seq("lang", "n_chars"), maxEdit = 1, maxBlockSize = 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L)), s"got $out")
    // raising the cap admits lang-b's in-budget pair; the out-of-budget
    // lang-b combinations stay excluded by the maxEdit gate, not the cap
    val uncapped = Dedup.editDistancePairs(df, "doc_id", "text",
        Seq("lang", "n_chars"), maxEdit = 1, maxBlockSize = 100)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (20L, 21L)), s"got $uncapped")
  }

  test("editDistancePairs agrees with an in-memory model on seeded random corpora") {
    val s = spark
    import s.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)(
        (i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (seed <- Seq(1L, 42L, 777L)) {
      // 2-letter alphabet, 3-5 char words: duplicate-heavy (collapse fires),
      // dense same-length blocks (some exceed the cap), distances straddle
      // the maxEdit gate — every stage of the operator is load-bearing
      val rnd = new scala.util.Random(seed)
      def word(n: Int) = Seq.fill(n)("ab" (rnd.nextInt(2))).mkString
      val docs = (1L to 150L).map { id =>
        val len = 3 + rnd.nextInt(3)
        (id, if (rnd.nextBoolean()) "en" else "de", len.toLong, word(len))
      }
      val (maxEdit, cap) = (2, 12)
      val got = Dedup.editDistancePairs(docs.toDF("doc_id", "lang", "n_chars", "text"),
          "doc_id", "text", Seq("lang", "n_chars"), maxEdit = maxEdit, maxBlockSize = cap)
        .select("id1", "id2", "edit_dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val reps = docs.groupBy(_._4).map { case (_, ds) => ds.minBy(_._1) }.toSeq
      val model = reps.groupBy(d => (d._2, d._3))
        .filter { case (_, ds) => ds.size >= 2 && ds.size <= cap }
        .values.flatMap { ds =>
          for {
            a <- ds; b <- ds; if a._1 < b._1
            dist = lev(a._4, b._4); if dist <= maxEdit
          } yield (a._1, b._1, dist.toLong)
        }.toSet
      assert(got == model,
        s"seed $seed: engine=${got.size} model=${model.size} " +
          s"diff=${(got diff model) ++ (model diff got)}")
    }
  }

  private def vecs() = {
    val s = spark
    import s.implicits._
    // 4-dim: v1≈v2 (same direction), v3 orthogonal
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  test("prefixFilteredJaccardPairs == brute force on seeded random corpora, at the rational boundary") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(3L, 99L); (tNum, tDen) <- Seq((1, 2), (2, 3), (4, 5))) {
      // tiny vocab + short docs: dense overlap spectrum with many pairs
      // sitting EXACTLY on the threshold — the rational-arithmetic case
      // doubles would misjudge; shingleSize=1 makes gram sets = token sets
      val rnd = new scala.util.Random(seed)
      val vocab = Seq("a", "b", "c", "d", "e", "f")
      val docs = (1L to 80L).map { id =>
        val n = 1 + rnd.nextInt(5)
        (id, rnd.shuffle(vocab).take(n).mkString(" "))
      }
      val got = Dedup.prefixFilteredJaccardPairs(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        shingleSize = 1, tNum = tNum, tDen = tDen)
        .select("id1", "id2", "inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }
      val model = (for {
        (i, si) <- sets; (j, sj) <- sets if i < j
        inter = (si & sj).size
        if inter * tDen >= (si.size + sj.size - inter) * tNum
      } yield (i, j, inter.toLong)).toSet
      assert(got == model,
        s"seed=$seed t=$tNum/$tDen:\n missing=${model -- got}\n extra=${got -- model}")
      assert(model.nonEmpty, s"seed=$seed t=$tNum/$tDen: vacuous sweep")
    }
  }

  test("prefixFilteredJaccardPairs == brute force with real shingles on the sf0.001 corpus") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(s, "/root/testdata/sf0.001")
    val got = Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, tNum = 1, tDen = 4) // loose threshold: non-vacuous
      .select("id1", "id2", "inter", "n1", "n2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sh = docs.select(col("doc_id"),
      graft.functions.TextFunctions.wordShingles(col("text"), 3).as("gs"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        size(array_intersect(col("a.gs"), col("b.gs"))).cast("long").as("i"),
        (size(col("a.gs")) + size(col("b.gs"))).cast("long").as("ns"))
      .filter(col("i") * 4 >= (col("ns") - col("i")) * 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute, s"missing=${brute -- got}\n extra=${got -- brute}")
    assert(got.nonEmpty, "vacuous: no pairs at J>=1/4 with 3-grams")
    // scale hygiene: candidate generation never goes cartesian
    val plan = Dedup.prefixFilteredJaccardPairs(docs, "doc_id", "text",
      shingleSize = 3, tNum = 1, tDen = 4).queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("prefixFilteredJaccardJoin (two-table): cross pairs only, == brute force, colliding ids safe") {
    val s = spark
    import s.implicits._
    for ((tNum, tDen) <- Seq((1, 2), (2, 3))) {
      val rnd = new scala.util.Random(11)
      val vocab = Seq("a", "b", "c", "d", "e", "f")
      def corpus(n: Int) = (1L to n.toLong).map { id =>
        (id, rnd.shuffle(vocab).take(1 + rnd.nextInt(5)).mkString(" "))
      }
      // DELIBERATELY overlapping id spaces: sides are tracked internally
      val left = corpus(40); val right = corpus(60)
      val got = Dedup.prefixFilteredJaccardJoin(
        left.toDF("doc_id", "text"), right.toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 1, tNum = tNum, tDen = tDen)
        .select("id1", "id2", "inter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ls = left.map { case (id, t) => id -> t.split(" ").toSet }
      val rs = right.map { case (id, t) => id -> t.split(" ").toSet }
      val model = (for {
        (i, si) <- ls; (j, sj) <- rs
        inter = (si & sj).size
        if inter * tDen >= (si.size + sj.size - inter) * tNum
      } yield (i, j, inter.toLong)).toSet
      assert(got == model,
        s"t=$tNum/$tDen:\n missing=${model -- got}\n extra=${got -- model}")
      assert(model.nonEmpty, s"t=$tNum/$tDen: vacuous sweep")
      // no within-side pair can appear: every output pair is (left, right)
      // by construction — model equality above already proves it, since
      // the model only enumerates cross pairs
    }
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val out = Similarity.bruteForceTopK(vecs(), "vec_id", "embedding",
        vecs().filter(col("vec_id") === 1).select(col("vec_id").as("q"), col("embedding").as("qv")),
        "q", "qv", k = 2)
      .orderBy("rnk").collect().map(r => (r.getLong(1), r.getLong(3))).toSeq
    assert(out == Seq((1L, 1L), (2L, 2L)))
  }

  test("partialTopK matches bruteForceTopK") {
    val queries = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
    val partial = Similarity.partialTopK(spark, vecs(), "vec_id", "embedding", queries, 3)
      .select("query_id", "corpus_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.bruteForceTopK(vecs(), "vec_id", "embedding",
        vecs().filter(col("vec_id") === 1).select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        "query_id", "qv", k = 3)
      .select("query_id", "corpus_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(partial == brute)
  }

  test("lshTopK recall vs brute force on real embeddings (sf0.001)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q"), col("embedding").as("qv"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = asSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, "q", "qv", 10))
    // these embeddings are random (no cluster structure) — ANN's worst case;
    // recall ≈ probed-bucket fraction + sign-correlation boost. bits=3,
    // probes=3 probes 4 of 8 buckets.
    val approx = asSet(Similarity.lshTopK(emb, "vec_id", "embedding", qs, "q", "qv", 10,
      bits = 3, probes = 3))
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall too low; brute=${brute.size} approx=${approx.size}")
  }

  test("quantizedTopK (int8 screen + exact rescore) recall vs brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q"), col("embedding").as("qv"))
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = asSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, "q", "qv", 10))
    val quant = Similarity.quantizedTopK(spark, emb, "vec_id", "embedding", queries, k = 10)
    val qSet = asSet(quant)
    // int8 screening at 4x rerank keeps near-all true neighbors; the exact
    // rescore stage means surviving scores equal the brute-force cosine
    val recall = (brute & qSet).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall too low")
    // rescored scores are exact: every overlapping (query, corpus) pair
    // carries the identical rounded score
    val bruteScores = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, "q", "qv", 10)
      .select("query_id", "corpus_id", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    quant.select("query_id", "corpus_id", "score").collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteScores.get(key).foreach(s => assert(s == r.getDouble(2), s"score drift at $key"))
    }
  }

  test("cosine/dot return NULL for length-mismatched vectors (corruption surfaces)") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      graft.plans.NativeExpressions.cosine(col("a"), col("b")).as("c"),
      graft.plans.NativeExpressions.dot(col("a"), col("b")).as("d")).first()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("connectedComponents: transitive clusters adopt min id") {
    val s = spark
    import s.implicits._
    // chain 1-2-3 plus island 10-11 (3 only reachable through 2)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cc == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("connectedComponents: distributed label-propagation path agrees with union-find") {
    val s = spark
    import s.implicits._
    // long chain (worst diameter) + island + reversed-order edges
    val pairs = (Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (20L, 21L)))
      .toDF("id1", "id2")
    val driver = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val distributed = Dedup.connectedComponents(pairs, maxDriverEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (20L, 20L), (21L, 20L))
    assert(driver == expected)
    assert(distributed == expected)
  }

  test("ivfTopK recall vs brute force on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qs = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q"), col("embedding").as("qv"))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = asSet(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qs, "q", "qv", 10))
    // random embeddings = worst case; nprobe 8 of nlist 16 cells ≈ half the
    // corpus scored → recall well above the probed fraction
    val ivf = asSet(Similarity.ivfTopK(spark, emb, "vec_id", "embedding",
      qs, "q", "qv", 10, nlist = 16, nprobe = 8))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"ivf recall $recall")
  }

  test("embeddingNearDupPairs finds same-direction vectors") {
    val pairs = Dedup.embeddingNearDupPairs(vecs(), "vec_id", "embedding",
        lshBits = 4, threshold = 0.9)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("hammingPairs64: pigeonhole recovery within budget, collapse of equals, 64-bit block edge") {
    val s = spark
    import s.implicits._
    // base signature, a 2-bit-away neighbor, a far signature, an exact twin
    val base = 0x0123456789abcdefL
    val near = base ^ (1L << 3) ^ (1L << 40) // hamming 2, diffs in two blocks
    val far = ~base // hamming 64
    val sigs = Seq((10L, base), (11L, near), (12L, far), (13L, base))
      .toDF("id", "sig")
    val pairs = Dedup.hammingPairs64(sigs, "id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 13 collapses into 10 (identical sig); (10, 11) found at distance 2
    assert(pairs == Set((10L, 11L, 2)))
    // maxHamming = 0 → one 64-bit block (the (1L << 64) mask edge): equal
    // sigs collapse to a single representative, so NO pairs — and crucially
    // no crash / no everything-in-one-bucket degeneracy from a zero mask
    val exact = Dedup.hammingPairs64(sigs, "id", "sig", maxHamming = 0).collect()
    assert(exact.isEmpty)
  }

  test("semanticDedupPairs: subset of brute-force pairs; equals it with one cluster") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def brute(th: Double) = {
      val v = emb.select(col("vec_id").as("__id"), col("embedding").as("__v"))
      v.as("a").join(v.as("b"), col("a.__id") < col("b.__id"))
        .withColumn("cosine",
          round(graft.plans.NativeExpressions.cosine(col("a.__v"), col("b.__v")), 6))
        .filter(col("cosine") >= th)
        .select(col("a.__id"), col("b.__id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val all = brute(0.3)
    assert(all.nonEmpty, "test data must contain cosine >= 0.3 pairs")
    // one cluster = no blocking: must match brute force exactly
    val one = Similarity.semanticDedupPairs(emb, "vec_id", "embedding",
        nClusters = 1, threshold = 0.3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == all)
    // k-means blocking: every emitted pair is a true pair (precision 1);
    // same-cluster near-dups give useful recall on clustered data, but
    // random embeddings only guarantee the subset property
    val blocked = Similarity.semanticDedupPairs(emb, "vec_id", "embedding",
        nClusters = 8, threshold = 0.3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(all), s"false pairs: ${blocked -- all}")
  }

  test("semanticDedupPairs + keepMinIdSurvivors drops exactly the dominated ids") {
    val s = spark
    import s.implicits._
    // two tight direction-clusters + one isolated vector
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.04f, 0.0f), 0), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.02f, 0.999f, 0.0f), 1), // near-dup of 3
      (5L, Array(0.0f, 0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.semanticDedupPairs(rows, "vec_id", "embedding",
      nClusters = 3, threshold = 0.95)
    val survivors = Dedup.keepMinIdSurvivors(rows, "vec_id", pairs)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 3L, 5L), s"survivors $survivors")
  }

  test("maskDuplicatedSpans removes exactly the corpus-duplicated span, everywhere it occurs") {
    val s = spark
    import s.implicits._
    // docs 1 and 2 share the 4-gram "alpha beta gamma delta" at different
    // offsets; doc 3 is clean; doc 4 repeats a 4-gram WITHIN itself
    val rows = Seq(
      (1L, "alpha beta gamma delta one two three four"),
      (2L, "zero alpha beta gamma delta five six seven"),
      (3L, "nothing here repeats at all anywhere truly"),
      (4L, "x y z w p q x y z w")
    ).toDF("doc_id", "text")
    val out = Dedup.maskDuplicatedSpans(rows, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: start 0 covers tokens 0-3
    assert(out(1L) == ((8L, 4L, "one two three four")), out(1L).toString)
    // doc 2: start 1 covers tokens 1-4
    assert(out(2L) == ((8L, 4L, "zero five six seven")), out(2L).toString)
    // doc 3: untouched
    assert(out(3L) == ((7L, 0L, "nothing here repeats at all anywhere truly")),
      out(3L).toString)
    // doc 4: "x y z w" occurs at starts 0 and 6 — covers 0-3 and 6-9;
    // tokens 4,5 ("p q") survive
    assert(out(4L) == ((10L, 8L, "p q")), out(4L).toString)
  }

  test("MaskSpansExpr matches the interpreted filter/exists formulation on the real corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("toks"))
      // synthetic start sets covering the edge shapes: empty, head, tail,
      // overlapping windows, out-of-range starts
      .withColumn("starts", expr(
        "CASE WHEN doc_id % 5 = 0 THEN array() " +
          "WHEN doc_id % 5 = 1 THEN array(0L) " +
          "WHEN doc_id % 5 = 2 THEN array(CAST(size(toks) - 1 AS LONG)) " +
          "WHEN doc_id % 5 = 3 THEN array(2L, 4L, 5L) " +
          "ELSE array(0L, CAST(size(toks) AS LONG), 7L) END"))
    val both = docs
      .withColumn("native",
        graft.plans.NativeExpressions.maskSpans(col("toks"), col("starts"), 4))
      .withColumn("hof", expr(
        "filter(toks, (x, i) -> NOT exists(starts, s -> i >= s AND i <= s + 3))"))
    assert(both.filter(not(col("native") === col("hof"))).count() == 0)
    assert(both.count() > 0)
  }

  test("maskDuplicatedSpans: a short doc duplicated anywhere masks in full") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "tiny doc"), // < n tokens: whole text is its one gram
      (2L, "tiny doc"),
      (3L, "another short one")
    ).toDF("doc_id", "text")
    val out = Dedup.maskDuplicatedSpans(rows, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, "")) && out(2L) == ((2L, "")), out.toString)
    assert(out(3L) == ((0L, "another short one")), out(3L).toString)
  }

  test("winnowing guarantee: docs sharing a >= w+k-1 token run share a fingerprint") {
    val s = spark
    import s.implicits._
    // k=5, w=4: any shared run of 8 tokens must surface; the planted run
    // is 10 tokens inside otherwise-disjoint text
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, s"one two three four $run purple monkey dishwasher end"),
      (2L, s"completely different prefix here $run and another tail"),
      (3L, "no overlap with anything else at all in this document text")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val f1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._2).toSet
    val f3 = fps.filter(_._1 == 3L).map(_._2).toSet
    assert((f1 & f2).nonEmpty, "planted 10-token run must share a fingerprint")
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty,
      "disjoint docs must not collide")
    val pairs = Dedup.winnowingPairs(df, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("winnowing subsamples the gram stream roughly w-fold") {
    val d = "/root/testdata/sf0.001"
    val docsT = Tables.documents(spark, d).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("t"))
      .filter(size(col("t")) >= 5)
    val nGrams = docsT.selectExpr("size(t) - 4 AS g")
      .agg(sum(col("g"))).head.getLong(0)
    val nFps = Dedup.winnowFingerprints(
      Tables.documents(spark, d), "doc_id", "text").count()
    // distinct minima of w=4 windows: expected ~2/w of gram count; allow
    // a wide band (repeated grams collapse further)
    assert(nFps < nGrams / 2, s"$nFps fingerprints from $nGrams grams")
    assert(nFps > nGrams / 20, "implausibly few fingerprints")
  }
}
