package graft

import graft.operators.GraphOps
import graft.streaming.StreamingBattery
import org.apache.spark.metrics.source.CodegenMetrics

/** Warm executions reuse generated code: the codegen cache that
  * [[GraftSession]] sizes must hold a working set larger than Spark's
  * default of 100 classes, so a second round of the same queries makes no
  * Janino compilation at all.
  */
class CodegenCacheSpec extends SparkTestBase {

  // each query inlines its own literal, so every one generates a class
  // whose source differs from all the others
  private val queries = 160
  private def round(): Seq[Long] =
    (0 until queries).map { i =>
      spark.range(3).selectExpr(s"id * 7 + ${1000003L * i} AS v")
        .collect().map(_.getLong(0)).sum
    }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated round of 160 distinct queries compiles nothing the second time") {
    val c0 = compiles
    val first = round()
    val c1 = compiles
    val second = round()
    val c2 = compiles
    assert(first == second)
    assert(first(5) == 21L + 3 * 5 * 1000003L)
    assert(c1 - c0 >= queries, s"first round compiled only ${c1 - c0} classes")
    assert(c2 - c1 == 0, s"second round recompiled ${c2 - c1} classes")
  }

  test("treeDepths generates the same code on every call") {
    // binary heap 1..255: node i hangs under i / 2, depth floor(log2 i);
    // the threshold at -1 keeps it on the doubling loop, whose per-round
    // plans are what must hit the cache (a forest this small would
    // otherwise be walked on the driver)
    val parents = spark.range(1, 256)
      .selectExpr("id AS node", "IF(id = 1, NULL, id DIV 2) AS parent")
    def depthSum(): Long = withBroadcastThreshold("-1") {
      GraphOps.treeDepths(parents)
        .selectExpr("sum(depth)").collect()(0).getLong(0)
    }
    val want = (1 to 255).map(i => 31 - Integer.numberOfLeadingZeros(i)).sum
    assert(depthSum() == want)
    val c0 = compiles
    assert(depthSum() == want)
    assert(compiles - c0 == 0, s"second call compiled ${compiles - c0} classes")
  }

  test("d146's straddle check generates the same code on every call") {
    // key (user_id, event_type, hr) repeats every 195 ids, an odd stride,
    // so every key has events of both parities
    val ev = spark.range(400).selectExpr("id AS event_id", "id % 13 AS user_id",
      "CAST(id % 3 AS STRING) AS event_type", "id % 5 AS hr")
    assert(StreamingBattery.anyKeyStraddlesParity(ev))
    assert(!StreamingBattery.anyKeyStraddlesParity(ev.filter("event_id % 2 = 0")))
    val c0 = compiles
    assert(StreamingBattery.anyKeyStraddlesParity(ev))
    assert(compiles - c0 == 0, s"second call compiled ${compiles - c0} classes")
  }
}
