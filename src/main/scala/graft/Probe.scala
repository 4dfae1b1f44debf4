package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement aid (guide §1): runs named battery rows twice — the second
  * execution is the warm one to read — and prints, per execution, wall
  * seconds and rows out next to the scheduler-side decomposition: job,
  * stage and task counts, summed task run time, summed executor CPU time
  * and summed shuffle bytes. A slow row can then be classified as
  * overhead-bound (many tiny jobs, wall ≫ task time) or compute/shuffle-
  * bound (task time ≈ wall × cores) before anything is changed. Rows out
  * normalize the pair-growth rows (d25/d27/d90), whose output grows
  * quadratically with duplicate multiplicity on the MakeScaled corpus, so
  * wall per output row is their honest scale metric.
  *
  * Streaming rows also print every micro-batch: its input rows, its
  * `durationMs` breakdown (addBatch, getBatch, latestOffset, queryPlanning,
  * walCommit, commitOffsets) and each state operator's rows and commit
  * time, plus query start and end stamps — separating the fixed
  * AvailableNow restart machinery from the batch work.
  *
  * Usage: runMain graft.Probe <sfDir> <row> [row ...]
  * (SPARK_GRAFT_CPUS sizes the master as in Bench.)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <row> [row ...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Queries.pairMemoEnabled = false
    Tables.lineitem(spark, sfDir).count() // warm JVM + footers

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskRunMs = new AtomicLong
    val taskCpuNs = new AtomicLong
    val shufBytes = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskRunMs.addAndGet(m.executorRunTime)
          taskCpuNs.addAndGet(m.executorCpuTime)
          shufBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"[probe] stream started ${e.id} at ${System.nanoTime() / 1000000}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        println(s"[probe] stream batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${p.durationMs} state=${
            p.stateOperators.map(s => s"rows=${s.numRowsTotal} " +
              s"commitMs=${s.commitTimeMs}").mkString(";")}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"[probe] stream terminated at ${System.nanoTime() / 1000000}")
    })

    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { rep =>
        spark.catalog.clearCache()
        jobs.set(0); stages.set(0); tasks.set(0)
        taskRunMs.set(0); taskCpuNs.set(0); shufBytes.set(0)
        val rows = spark.sparkContext.longAccumulator(s"rows_$name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => rows.add(1L))
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async — deliver every event before reading counters
        ListenerBusBridge.drain(spark.sparkContext)
        println(f"[probe] $name%-32s rep$rep wall=$wall%7.3f rows=${rows.value}%8d " +
          f"jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%5d " +
          f"taskSec=${taskRunMs.get / 1e3}%8.2f cpuSec=${taskCpuNs.get / 1e9}%8.2f " +
          f"shufMB=${shufBytes.get / 1e6}%8.2f")
      }
    }
    ModelChecks.clearSharedDerivations()
    spark.stop()
  }
}
