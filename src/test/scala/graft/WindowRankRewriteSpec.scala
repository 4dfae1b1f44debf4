package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The row_number-filter top-k idiom keeps exact results and ranks under
  * Spark's `InsertWindowGroupLimit` pre-pruning, including the shapes that
  * rule leaves alone.
  */
class WindowRankRewriteSpec extends SparkTestBase {

  private def data() = {
    val s = spark
    import s.implicits._
    (1 to 500).map(i => (i % 7, i.toLong, (i * 37 % 101).toDouble)).toDF("k", "id", "v")
      .repartition(8)
  }

  /** Driver-side truth: top-k per key under (v desc, id asc), with rank. */
  private def expected(k: Int): Seq[(Int, Long, Long)] =
    data().collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy { case (_, id, v) => (-v, id) }.take(k).zipWithIndex
          .map { case ((key, id, _), i) => (key, id, (i + 1).toLong) }
      }

  test("rewrites the idiom (with cast alias) and keeps results + ranks identical") {
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id"))
    val q = data().withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("k", "id", "rnk")
    val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assertMultiset(got, expected(3))
  }

  test("extra filter conjuncts survive the rewrite") {
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id"))
    val q = data().withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5 && col("id") % 2 === 0)
      .select("k", "id", "rnk")
    val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2).toLong)).toSeq
    assertMultiset(got, expected(5).filter(_._2 % 2 == 0))
  }

  test("rnk = 1 (argmax per key) rewrites") {
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id"))
    val q = data().withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select("k", "id")
    val got = q.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assertMultiset(got, expected(1).map(t => (t._1, t._2)))
  }

  test("ineligible shapes are untouched: rank(), global window, huge k") {
    // rank(), a global window and a k above Spark's group-limit threshold
    val w = Window.partitionBy("k").orderBy(col("v").desc, col("id"))
    val rankFn = data().withColumn("r", rank().over(w)).filter(col("r") <= 3)
      .select("k", "id", "r")
    // (v desc, id) has no ties, so rank() equals row_number()
    assertMultiset(rankFn.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2).toLong)).toSeq,
      expected(3))
    val global = data()
      .withColumn("r", row_number().over(Window.orderBy(col("v").desc, col("id"))))
      .filter(col("r") <= 3)
    assert(global.count() == 3)
    val hugeK = data().withColumn("r", row_number().over(w))
      .filter(col("r") <= 10000000)
    assert(hugeK.count() == 500)
    // orderBy(rand()): the analyzer pulls the nondeterministic expression
    // into a child Project, so every operator pass reads the same
    // materialized value (row count stays exact)
    val nondet = data()
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy(rand(7))))
      .filter(col("r") <= 3)
    assert(nondet.count() == 7 * 3)
  }

  test("battery q09 runs through the window idiom") {
    val q = Queries.q09WindowRank(spark, "/root/testdata/sf0.001")
    assert(q.count() > 0)
  }
}
