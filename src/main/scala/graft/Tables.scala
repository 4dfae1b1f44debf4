package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * The events `ts` column has shipped in two physical representations
  * across data drops: nanosecond parquet timestamps (which Spark's reader
  * surfaces as BIGINT nanos under `spark.sql.legacy.parquet.nanosAsLong`,
  * kept on in [[GraftSession]]) and plain microsecond timestamps (read as
  * TIMESTAMP_NTZ). [[tsMs]] normalizes either to `ts_ms` BIGINT epoch
  * millis (integral floor) — the canonical event-time column, chosen
  * because DuckDB's `epoch_ms(ts)` floors identically for both physical
  * types, so window boundaries hash-match the oracle exactly.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Epoch-millis (BIGINT, integral floor) for a frame's `ts` column,
    * adaptive to the physical type the parquet reader produced. NTZ goes
    * through a session-timezone cast — [[GraftSession]] pins UTC, so the
    * wall-clock value IS the epoch value, matching DuckDB's `epoch_ms`
    * over its (naive) TIMESTAMP exactly; `unix_millis` floor-divides
    * micros, matching `DIV` on the nanos-as-long representation.
    */
  def tsMs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("CAST(ts DIV 1000000 AS BIGINT)") // nanos-as-long drops
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        expr("unix_millis(CAST(ts AS TIMESTAMP))") // naive, session tz UTC
      case _: org.apache.spark.sql.types.TimestampType =>
        expr("unix_millis(ts)")
      case other => throw new IllegalStateException(
        s"unsupported events.ts physical type: $other")
    }

  /** events with `ts_ms` BIGINT epoch-millis (see [[tsMs]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.withColumn("ts_ms", tsMs(raw))
  }
}

/** Session factory with the engine's standard config.
  *
  * `spark.sql.codegen.cache.maxEntries` is a JVM-wide static conf: Spark
  * reads it once, when the first session in the JVM generates code, and
  * sizes the one generated-class cache every later session shares. A
  * consumer that builds its own session must set it on that first
  * session, or warm executions of the same queries recompile their
  * generated classes (and the JIT recompiles those in turn).
  */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.core.GraftKryoRegistrator")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Generated-class cache. Spark's default of 100 is a Guava LRU cache
      // split into 4 segments of 25. One pass of a 7-row battery mix (one
      // row per family) fills ~120 entries, always in the same cyclic
      // order, so at 100 each class is evicted just before it is needed
      // again and a warm pass recompiles ~90-110 of them. 1000 (4 x 250)
      // holds one pass of a long-lived workload with room for uneven
      // hashing across segments. It is not sized for the whole battery,
      // which runs each row once: one sf0.01 Verify run fills 3,663.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    // SPARK_GRAFT_EXTRA_CONF="k=v;k=v": measurement hook for A/B-ing a
    // session conf across otherwise-identical runs (e.g. the state-store
    // maintenance-interval experiment in the bench-variance root cause);
    // production callers own their builder and don't need this.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(b) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2)
        bb.config(k.trim, v.trim)
      }
  }
}
