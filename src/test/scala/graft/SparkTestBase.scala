package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + the multiset assertion harness the reference's
  * suite leans on (`assert_that/equal_to`, ray_runner_test.py:109-116 —
  * PCollections are unordered bags, so equality is multiset equality).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkTestBase extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark

  /** assert_that(..., equal_to(...)) analog: unordered multiset equality. */
  def assertMultiset[T](actual: Seq[T], expected: Seq[T]): Unit = {
    val a = actual.groupBy(identity).view.mapValues(_.size).toMap
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    assert(a == e, s"\nactual:   ${actual.sortBy(_.toString)}\nexpected: ${expected.sortBy(_.toString)}")
  }

  /** Runs `body` with the session's `spark.sql.autoBroadcastJoinThreshold`
    * at `bytes` and restores the previous value after it. At "-1",
    * GraphOps' tree folds skip the driver walk and take the doubling loop.
    */
  def withBroadcastThreshold[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes)
    try body finally spark.conf.set(key, prev)
  }

  /** Scratch-dir cleanup shared by every spec that writes local files. */
  def deleteRecursively(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rec)
      f.delete()
    }
    rec(new java.io.File(path))
  }
}
