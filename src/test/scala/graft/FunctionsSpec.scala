package graft

import graft.functions.{Hashing, TextFunctions}
import graft.plans.NativeExpressions
import org.apache.spark.sql.functions._

/** Unit specs for the codegen'd function library (engine extensions). */
class FunctionsSpec extends SparkTestBase {

  import org.apache.spark.sql.Row

  private def one(colExpr: org.apache.spark.sql.Column, rows: Seq[String]): Seq[Any] = {
    val s = spark
    import s.implicits._
    rows.toDF("text").select(colExpr.as("r")).collect().map(_.get(0)).toSeq
  }

  test("jaroWinkler: textbook values, boost threshold, and edge cases") {
    val s = spark
    import s.implicits._
    def jw(a: String, b: String): Double =
      Seq((a, b)).toDF("a", "b")
        .select(graft.plans.NativeExpressions
          .jaroWinkler(org.apache.spark.sql.functions.col("a"),
            org.apache.spark.sql.functions.col("b")).as("r"))
        .collect().head.getDouble(0)
    // the textbook pairs, at the DuckDB-verified exact doubles
    assert(jw("martha", "marhta") == 0.9611111111111111)
    assert(jw("dixon", "dicksonx") == 0.8133333333333332)
    assert(jw("jellyfish", "smellyfish") == 0.8962962962962964)
    // boost threshold: jaro <= 0.7 gets NO prefix bonus (DuckDB semantics
    // — an unconditional-bonus implementation returns 0.6 here)
    assert(jw("abcdefgh", "abzzzzzz") == 0.5)
    // prefix capped at 4 even with a 49-char common prefix
    assert(jw("x" * 50, "x" * 49 + "y") == 0.992)
    // edges: empty, identical, all-transposed, disjoint
    assert(jw("", "abc") == 0.0 && jw("ab", "") == 0.0)
    assert(jw("abc", "abc") == 1.0 && jw("a", "a") == 1.0)
    assert(jw("abcd", "dcba") == 0.5)
    assert(jw("ab", "ba") == 0.0) // match window 0 at len 2
    assert(jw("abc", "xyz") == 0.0)
    // laws on random-ish strings: symmetric, in [0, 1]
    val words = Seq("alpha", "alpah", "beta", "betta", "gamma", "gama",
      "delta", "dleta", "x", "", "longershared prefix", "longershared prefax")
    for (a <- words; b <- words) {
      val f = jw(a, b); val r = jw(b, a)
      assert(f == r, s"asymmetric on ($a, $b)")
      assert(f >= 0.0 && f <= 1.0)
      if (a == b && a.nonEmpty) assert(f == 1.0)
    }
  }

  test("tokens + tokenCount handle whitespace runs and empties") {
    assert(one(TextFunctions.tokenCount(col("text")), Seq("a  b\tc", "", "  x ")) ==
      Seq(3, 0, 1))
  }

  test("punctRatio counts ASCII punctuation only") {
    val Seq(r) = one(TextFunctions.punctRatio(col("text")), Seq("a,b!"))
    assert(r.asInstanceOf[Double] == 0.5)
  }

  test("stopwordRatio") {
    val Seq(r) = one(TextFunctions.stopwordRatio(col("text")), Seq("the cat and dog"))
    assert(r.asInstanceOf[Double] == 0.5)
  }

  test("subwordCount, meanTokenLength, upperRatio") {
    // alnum runs stay whole; punctuation splits: "hello" "," "world42"
    assert(one(TextFunctions.subwordCount(col("text")), Seq("hello, world42")) == Seq(3))
    val Seq(mtl) = one(TextFunctions.meanTokenLength(col("text")), Seq("ab cdef"))
    assert(mtl.asInstanceOf[Double] == 3.0)
    val Seq(ur) = one(TextFunctions.upperRatio(col("text")), Seq("AbCd"))
    assert(ur.asInstanceOf[Double] == 0.5)
  }

  test("langId picks the lexicon with most hits") {
    assert(one(TextFunctions.langId(col("text")),
      Seq("the cat is on the mat", "el perro y la casa de los", "xyzzy")) ==
      Seq("en", "es", "und"))
  }

  test("wordShingles produces distinct n-grams") {
    val Seq(r) = one(TextFunctions.wordShingles(col("text"), 2), Seq("a b c a b"))
    assert(r.asInstanceOf[scala.collection.Seq[String]].toSet == Set("a b", "b c", "c a"))
  }

  test("wordNgramsAll keeps duplicate grams in document order (LM formulation)") {
    val Seq(r) = one(graft.plans.NativeExpressions.wordNgramsAll(
      TextFunctions.tokens(col("text")), 2), Seq("a b c a b"))
    assert(r.asInstanceOf[scala.collection.Seq[String]].toSeq ==
      Seq("a b", "b c", "c a", "a b"))
    // short doc collapses to the whole doc, same as the distinct form
    val Seq(s1) = one(graft.plans.NativeExpressions.wordNgramsAll(
      TextFunctions.tokens(col("text")), 2), Seq("solo"))
    assert(s1.asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("solo"))
  }

  test("charNgrams") {
    val Seq(r) = one(TextFunctions.charNgrams(col("text"), 2), Seq("abca"))
    assert(r.asInstanceOf[scala.collection.Seq[String]].toSet == Set("ab", "bc", "ca"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val r = one(TextFunctions.fingerprint(col("text")), Seq("a b", "b a", "a b"))
    assert(r(0) == r(2) && r(0) != r(1))
  }

  test("minhash: identical sets → identical signatures; jaccard estimate ≈ 1") {
    val s = spark
    import s.implicits._
    val df = Seq(("x", "the quick brown fox jumps over the lazy dog again"),
      ("y", "the quick brown fox jumps over the lazy dog again"))
      .toDF("id", "text")
      .withColumn("sig", NativeExpressions.minHashSignature(
        TextFunctions.wordShingles(col("text"), 2), 32))
    val sigs = df.select("sig").collect().map(_.getSeq[Long](0))
    assert(sigs(0) == sigs(1))
  }

  test("minHashJaccard estimates overlap") {
    val s = spark
    import s.implicits._
    val df = Seq(("a b c d e f g h", "a b c d e f g h"), ("a b c d e f g h", "q r s t u v w x"))
      .toDF("t1", "t2")
      .select(
        Hashing.minHashJaccard(
          NativeExpressions.minHashSignature(split(col("t1"), " "), 64),
          NativeExpressions.minHashSignature(split(col("t2"), " "), 64)).as("j"))
    val js = df.collect().map(_.getDouble(0))
    assert(js(0) == 1.0 && js(1) < 0.3)
  }

  test("simHash: similar token lists are Hamming-close, dissimilar far") {
    val s = spark
    import s.implicits._
    val df = Seq(
      "the quick brown fox jumps over the lazy dog one two three four five six",
      "the quick brown fox jumps over the lazy dog one two three four five seven",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi")
      .toDF("text").select(NativeExpressions.simHash64(TextFunctions.tokens(col("text"))).as("h"))
    val hs = df.collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) < ham(hs(0), hs(2)))
  }

  test("vector dot/norm/cosine") {
    val s = spark
    import s.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f)), (Array(1.0f, 1.0f), Array(1.0f, 1.0f)))
      .toDF("a", "b")
      .select(NativeExpressions.dot(col("a"), col("b")).as("d"),
        NativeExpressions.cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 0.0 && rows(0).getDouble(1) == 0.0)
    assert(rows(1).getDouble(0) == 2.0 && math.abs(rows(1).getDouble(1) - 1.0) < 1e-12)
  }

  test("cosineLshBucket: identical vectors share a bucket, deterministic across evals") {
    val s = spark
    import s.implicits._
    val df = Seq(Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f), Array(-1.0f, -2.0f, -3.0f))
      .toDF("v").select(NativeExpressions.lshBucket(col("v"), 8).as("b"))
    val bs = df.collect().map(_.getLong(0))
    assert(bs(0) == bs(1))
    // antipodal vector flips every plane sign → complement bucket
    assert(bs(0) != bs(2))
  }

  test("codegen == kernel: MinHashShingleSig and JaroWinkler agree across execution modes") {
    // the two hottest expressions implement real doGenCode (one static
    // call into ExprKernels); this pins the codegen path (the DataFrame
    // projection, whole-stage compiled) against a direct driver-side
    // kernel call on identical inputs — bit equality, both expressions.
    // codegen.fallback=false is load-bearing: with the default fallback,
    // a doGenCode that fails to COMPILE silently degrades to the same
    // nullSafeEval kernel and the test would pass while the whole-stage
    // path is broken — disabled, a Janino failure throws here instead
    val s = spark
    val prevFallback = s.conf.get("spark.sql.codegen.fallback")
    s.conf.set("spark.sql.codegen.fallback", "false")
    try {
    import s.implicits._
    val docs = Tables.documents(s, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).limit(50)
      .select(col("doc_id"),
        TextFunctions.tokens(lower(col("text"))).as("toks"))
    val viaCodegen = docs
      .select(col("doc_id"), col("toks"),
        graft.plans.NativeExpressions
          .minHashShingleSignature(col("toks"), 3, 32).as("sig"))
      .collect()
    assert(viaCodegen.length == 50)
    viaCodegen.foreach { r =>
      val toks = r.getSeq[String](1)
      val direct = graft.plans.ExprKernels.minHashShingleSig(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray),
        3, 32, 42L).toLongArray().toSeq
      assert(r.getSeq[Long](2) == direct, s"doc ${r.getLong(0)} signature drift")
    }
    val pairs = Seq(("martha", "marhta"), ("DWAYNE", "DUANE"),
      ("graft", "graft"), ("", "x"), ("abcdefgh", "zyxwvuts"))
    val viaDf = pairs.toDF("a", "b")
      .select(graft.plans.NativeExpressions.jaroWinkler(col("a"), col("b")))
      .collect().map(_.getDouble(0)).toSeq
    val direct = pairs.map { case (a, b) =>
      graft.plans.ExprKernels.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
    }
    assert(viaDf == direct, s"$viaDf vs $direct")
    // textbook anchor: martha/marhta = 0.961 (bit value the d237 oracle pins)
    assert(math.abs(viaDf.head - 0.9611111111111111) < 1e-15)
    } finally s.conf.set("spark.sql.codegen.fallback", prevFallback)
  }
}
