package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.BaseRelation

/** [[Tables.parquet]] resolves a table once per session: a repeat read of
  * an unchanged path starts no Spark job, while a rewritten path, a
  * changed inference conf and another session each get a relation of
  * their own.
  */
class ParquetRelationCacheSpec extends SparkTestBase {

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-relcache").toString
    try body(dir) finally deleteRecursively(dir)
  }

  private def writeOrders(dir: String, keys: Range): Unit =
    spark.range(keys.start, keys.end)
      .selectExpr("id AS o_orderkey", "id % 7 AS o_custkey", "id * 1.5 AS o_totalprice")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")

  private def relation(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.get

  /** Spark jobs started by `body` on this thread. A tagged barrier job
    * runs after it; the listener bus delivers events in order, so once the
    * barrier's start arrives every job of `body` has been counted.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"relcache-${System.nanoTime}"
    val barrier = s"$tag-barrier"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty)
        if (tags(barrier)) drained.countDown()
        else if (tags(tag)) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(barrier)
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a repeat read of an unchanged table starts no Spark job") {
    withDir { dir =>
      writeOrders(dir, 0 until 100)
      assert(jobsDuring(Tables.orders(spark, dir).schema) == 1)
      assert(jobsDuring(Tables.orders(spark, dir).schema) == 0)
      assert(Tables.orders(spark, dir).count() == 100)
    }
  }

  test("a rewritten table is read with its new rows") {
    withDir { dir =>
      writeOrders(dir, 0 until 100)
      assert(Tables.orders(spark, dir).count() == 100)
      writeOrders(dir, 500 until 530)
      val keys = Tables.orders(spark, dir).select("o_orderkey").collect().map(_.getLong(0))
      assert(keys.sorted.toSeq == (500L until 530L))
    }
  }

  test("two reads of one table self-join like two uncached reads") {
    withDir { dir =>
      writeOrders(dir, 0 until 50)
      def joined(a: DataFrame, b: DataFrame) =
        a.join(b, a("o_orderkey") === b("o_orderkey"))
          .select(a("o_orderkey"), a("o_custkey"), b("o_totalprice")).collect().toSeq
      val path = s"$dir/orders.parquet"
      val cached = joined(Tables.orders(spark, dir), Tables.orders(spark, dir))
      val uncached = joined(spark.read.parquet(path), spark.read.parquet(path))
      assert(cached.size == 50)
      assertMultiset(cached, uncached)
    }
  }

  test("another session never receives this session's relation") {
    withDir { dir =>
      writeOrders(dir, 0 until 10)
      val mine = relation(Tables.orders(spark, dir))
      assert(relation(Tables.orders(spark, dir)) eq mine)
      val other = spark.newSession()
      val theirs = relation(Tables.orders(other, dir))
      assert(!(theirs eq mine))
      assert(theirs.asInstanceOf[HadoopFsRelation].sparkSession eq other)
    }
  }

  test("a changed inference conf resolves the table again") {
    withDir { dir =>
      // two part files with different columns: only schema merging sees both
      val path = s"$dir/merged.parquet"
      spark.range(3).selectExpr("id AS k", "id AS a").write.parquet(s"$path/p=1")
      spark.range(3).selectExpr("id AS k", "id AS b").write.parquet(s"$path/p=2")
      def columns(s: SparkSession) = Tables.parquet(s, path).columns.toSet
      val s1 = spark.newSession()
      assert(columns(s1).size == 3)
      s1.conf.set("spark.sql.parquet.mergeSchema", "true")
      assert(columns(s1) == Set("k", "a", "b", "p"))
      val s2 = spark.newSession()
      assert(columns(s2).size == 3)
    }
  }
}
