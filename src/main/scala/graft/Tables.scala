package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

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
    parquet(spark, s"$dir/$name.parquet")

  /** A parquet file or directory, resolved once per session.
    *
    * `spark.read.parquet` infers the schema on every call, and that
    * inference is a Spark job (one task reading a footer). Here the
    * resolved relation (schema plus file listing) is kept per (session,
    * path) and handed out through `baseRelationToDataFrame`, which gives
    * every call fresh attribute ids, so two reads of one table still
    * self-join. Only metadata is kept, never rows: every call re-lists the
    * path on the driver and re-resolves when any file's path, length or
    * mtime changed, or when the session's schema-inference conf did. Globs
    * and paths that cannot be listed go straight to `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val files = listing(spark, path)
    if (files.isEmpty) return spark.read.parquet(path)
    val conf = inferenceConf(spark)
    val hit = resolved.synchronized {
      // a stopped session's relations are never served again: drop them
      resolved.keySet.removeIf(_.sparkContext.isStopped)
      Option(resolved.get(spark)).flatMap(m => Option(m.get(path)))
    }
    hit.filter(r => r.files == files.get && r.conf == conf) match {
      case Some(r) => spark.baseRelationToDataFrame(r.relation)
      case None =>
        // listed before resolving: a file written in between leaves an
        // entry whose listing is older than its relation, which the next
        // call sees as changed and resolves again
        val df = spark.read.parquet(path)
        df.queryExecution.analyzed match {
          case l: LogicalRelation => resolved.synchronized {
            resolved.computeIfAbsent(spark, _ => lru(pathsPerSession))
              .put(path, Resolved(conf, files.get, l.relation))
          }
          case _ =>
        }
        df
    }
  }

  private final case class Resolved(conf: Map[String, String],
      files: Seq[(String, Long, Long)], relation: BaseRelation)

  // session -> path -> relation. A relation holds its session, so nothing
  // here is released by the garbage collector: a stopped session's entries
  // go on the next read, and past these bounds the least recently read
  // session or path goes, so per-run scratch inputs do not pile up.
  private val pathsPerSession = 256
  private val resolved = lru[SparkSession, java.util.Map[String, Resolved]](16)
  private def lru[K, V](bound: Int): java.util.Map[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > bound
    }

  /** Explicitly set confs that change what schema inference or file
    * listing resolves.
    */
  private def inferenceConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.contains("parquet") || k.startsWith("spark.sql.files.ignore") ||
      k.startsWith("spark.sql.sources.partition") ||
      k == "spark.sql.caseSensitive" || k == "spark.sql.session.timeZone"
    }

  /** Every file under `path` as (path, length, mtime), from
    * `getFileStatus`/`listStatus` only: on the local file system without
    * Hadoop's native library, reading permissions forks a process per file.
    * `None` for globs and for paths that cannot be listed.
    */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    if (path.exists("*?[{\\".contains(_))) None
    else try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(st: FileStatus): Seq[(String, Long, Long)] =
        if (st.isDirectory) fs.listStatus(st.getPath).sortBy(_.getPath.toString).toSeq.flatMap(walk)
        else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
      Some(walk(fs.getFileStatus(p)))
    } catch { case _: java.io.IOException | _: IllegalArgumentException => None }

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
