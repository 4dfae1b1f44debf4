package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{GraftSession, ModelChecks, Queries, SparkEntry, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** One closed-loop benchmark run in one JVM, one client.
  *
  *  1. Set up, timed from process start: build a `local[cpus]` session,
  *     read every table's footer, run a fixed warm-up scan.
  *  2. A cold pass: every op once, in the seed's order.
  *  3. Exactly `Warm` warm passes in the same order, whatever `--seconds`
  *     says, so every commit is measured on the same passes.
  *     With `--trace 1` there are `Warm` untraced and `Warm` traced ones
  *     (U T T U U T), so the tracing overhead is measured in the same
  *     process.
  *  4. Untimed: every op that has a DuckDB oracle is written out once for
  *     the output check.
  *
  * An op is one row of `SparkEntry.queries`: its wall is the row call
  * (build) plus consuming every output row (action). The action folds an
  * order-insensitive hash of the rows so passes can be compared. Between
  * passes every memo with a public clear is cleared. Everything is kept in
  * memory and written to `<out>/result.json` at the end.
  */
object Harness {
  final case class Options(corpus: String, ops: Seq[String], seed: Long,
                           seconds: Double, trace: Boolean, out: String, cpus: Int)

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Options(kv("corpus"), kv("ops").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1", kv("out"),
      kv("cpus").toInt)
  }

  // warm passes per run, of each kind in a traced run. The first warm pass
  // still waits on the JIT compiling what the cold pass ran; a fixed count
  // keeps the median pass the same one from run to run.
  val Warm = 3

  val TableNames = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = osBean.getProcessCpuTime
  private def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(g => t += math.max(0L, g.getCollectionTime))
    t
  }
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  // whole-stage codegen compilations (Janino), i.e. codegen cache misses
  private def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  // epoch milliseconds at nanoTime precision, comparable with listener times
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def epochMs(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6

  def session(cpus: Int): SparkSession = {
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Order-insensitive hash and count of every output row. Rows are
    * re-projected to `UnsafeRow`, so equal values hash equally whatever
    * operator produced them.
    */
  def consume(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var h = 0L
      var n = 0L
      while (it.hasNext) {
        val u = proj(it.next())
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator.single((h, n))
    }.collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val queries = SparkEntry.queries
    val unknown = o.ops.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
    // 1. set-up, from process start
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.cpus)
    TableNames.foreach(t => Tables.table(spark, o.corpus, t).schema)
    Tables.lineitem(spark, o.corpus).count()
    val setupS = (epochMs(System.nanoTime()) - processStartMs) / 1000.0
    val sc = spark.sparkContext

    // declared memo policy (see MEMOS in perfbench/workloads.py): the MinHash pair
    // memo is off; the other clearable memos are cleared before each pass
    Queries.pairMemoEnabled = false
    def clearMemos(): Unit = {
      spark.catalog.clearCache()
      ModelChecks.clearSharedDerivations()
    }

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    var seq = 0L

    def runOp(pass: Int, name: String, traced: Boolean): Map[String, Any] = {
      seq += 1
      val mySeq = seq
      val tag = Tracer.OpTagPrefix + mySeq
      sc.addJobTag(tag)
      if (traced) tracer.foreach(_.beginOp(mySeq))
      val cpu0 = cpuNs; val gc0 = gcMs; val jit0 = jitMs; val cg0 = codegenCompiles
      val t0 = System.nanoTime()
      var t1 = t0
      var t2 = t0
      var result: Map[String, Any] = Map.empty
      try {
        val df = queries(name)(spark, o.corpus)
        t1 = System.nanoTime()
        val (hash, rows) = consume(df)
        t2 = System.nanoTime()
        result = Map("rows" -> rows, "hash" -> hash.toString)
        if (traced) tracer.foreach(_.mainQuery(mySeq, df.queryExecution, t2 - t1))
      } catch {
        case e: Throwable =>
          t2 = System.nanoTime()
          if (t1 == t0) t1 = t2
          result = Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
          System.err.println(s"[perfbench] $name failed: $e")
      } finally {
        sc.removeJobTag(tag)
        if (traced) tracer.foreach(_.endOp(mySeq))
      }
      result ++ Map("seq" -> mySeq, "name" -> name, "pass" -> pass,
        "start_ms" -> epochMs(t0), "build_end_ms" -> epochMs(t1), "end_ms" -> epochMs(t2),
        "wall_s" -> (t2 - t0) / 1e9, "build_s" -> (t1 - t0) / 1e9,
        "action_s" -> (t2 - t1) / 1e9, "cpu_s" -> (cpuNs - cpu0) / 1e9,
        "gc_s" -> (gcMs - gc0) / 1e3, "jit_s" -> (jitMs - jit0) / 1e3,
        "codegen_compiles" -> (codegenCompiles - cg0))
    }

    val memory = ManagementFactory.getMemoryMXBean
    // a full GC, a pause for Spark's ContextCleaner to drop the blocks of
    // RDDs and broadcasts that GC found unreachable, and a second full GC:
    // what is left is what the pass still holds
    def settledGc(): Unit = {
      System.gc()
      Thread.sleep(200)
      System.gc()
    }
    def runPass(pass: Int, traced: Boolean): Map[String, Any] = {
      clearMemos()
      if (traced) tracer.foreach(_.attach())
      // one order for every pass: Spark's codegen cache (100 classes) is
      // smaller than what some workloads compile per pass, and which
      // classes a pass finds still cached depends on the order of the
      // pass before it; a fixed order makes that the same every pass
      val order = new Random(o.seed).shuffle(o.ops)
      val cpu0 = cpuNs
      val ops = order.map(n => runOp(pass, n, traced))
      val cpu = (cpuNs - cpu0) / 1e9
      if (traced) tracer.foreach(_.detach())
      settledGc()
      Map("pass" -> pass, "traced" -> traced, "cpu_s" -> cpu,
        "wall_s" -> ops.map(_("wall_s").asInstanceOf[Double]).sum,
        "heap_after_gc_mb" -> memory.getHeapMemoryUsage.getUsed / Tracer.MiB, "ops" -> ops)
    }

    // 2-3. cold pass, then the warm passes
    settledGc()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    passes += runPass(0, o.trace)
    // traced runs order warm passes U T T U U T, so a warm-up trend across
    // passes cancels out of the tracing overhead
    for (pass <- 1 to (if (o.trace) 2 * Warm else Warm))
      passes += runPass(pass, o.trace && (pass % 4 == 2 || pass % 4 == 3))
    val measuredS = (System.nanoTime() - start) / 1e9

    // 4. untimed output dumps for the oracle check; a missing dump fails it
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => o.ops.contains(n) }
    oracles.keys.toSeq.sorted.foreach { name =>
      try {
        queries(name)(spark, o.corpus).coalesce(1).write.mode("overwrite")
          .parquet(new File(o.out, s"dump/$name").getAbsolutePath)
      } catch { case e: Throwable => System.err.println(s"[perfbench] dump of $name failed: $e") }
    }

    val record = mutable.LinkedHashMap[String, Any](
      "cpus" -> o.cpus, "seed" -> o.seed, "seconds" -> o.seconds, "measured_s" -> measuredS,
      "setup_s" -> setupS, "passes" -> passes.toList,
      "oracle_sql" -> oracles,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    tracer.foreach { t =>
      record ++= Seq("jobs" -> t.jobs.toList, "stages" -> t.stages.toList,
        "queries" -> t.queries.toList, "progress" -> t.progress.toList, "gcs" -> t.gcs.toList)
    }
    spark.stop()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(o.out, "result.json"), record)
  }
}
