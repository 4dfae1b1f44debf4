package graft.core

import scala.collection.mutable

/** Output tag for multi-output ParDo (reference: TaggingReceiver
  * translator.py:180-206; tests ray_runner_test.py:128-161).
  */
final case class Tag[T](name: String)

/** Per-element context handed to DoFn.process. Mirrors the DoFn param surface
  * the reference injects (translator.py:212-237: TimestampParam, SideInputParam,
  * StateParam, TimerParam).
  */
trait ProcessContext[O] {
  /** Event timestamp of the current element (millis). */
  def timestamp: Long
  /** Window(s) the current element belongs to. */
  def windows: Seq[BoundedWindow]
  /** Emit to the main output at the input's timestamp/window. */
  def output(o: O): Unit
  /** Emit with an explicit timestamp (Beam's outputWithTimestamp). */
  def outputWithTimestamp(o: O, ts: Long): Unit
  /** Emit to a tagged side output (reference translator.py:559-576 demux). */
  def outputTagged[S](tag: Tag[S], o: S): Unit
  /** Read a side input materialized for this element's window
    * (reference: SideInputMap translator.py:506-524).
    */
  def sideInput[S](view: SideInputView[S]): S
  /** Register a callback to run after this bundle's outputs are durably
    * committed — at-least-once, exceptions swallowed (reference bundle
    * finalization, execution.py:131-139; tests ray_runner_test.py:1021-1081).
    * Batch mapping: a Spark task-completion listener (fires after the task's
    * outputs are handed off).
    */
  def registerFinalization(cb: () => Unit): Unit
}

/** The universal element-wise operator with the full Beam lifecycle
  * (reference: RayParDo translator.py:157-338 drives
  * setup → start_bundle → process* → finish_bundle → teardown through
  * DoFnInvoker).
  *
  * Spark mapping: executed inside `mapPartitions` — one Spark partition is one
  * bundle. Lifecycle methods run once per partition; `setup`/`teardown` run
  * per task (Spark reuses neither JVM objects nor actors across partitions the
  * way the reference's actor pool does, so per-partition setup is the analog).
  */
trait DoFn[I, O] extends Serializable {
  def setup(): Unit = ()
  def startBundle(): Unit = ()
  def process(element: I, ctx: ProcessContext[O]): Unit
  /** Runs after the bundle; may emit (reference finish_bundle semantics). */
  def finishBundle(emit: O => Unit): Unit = ()
  def teardown(): Unit = ()
}

/** Keyed aggregation function (reference: CombineFn lifecycle
  * create_accumulator/add_input/merge_accumulators/extract_output, exercised
  * in ray_runner_test.py:857-864).
  *
  * Spark mapping: wrapped into an `org.apache.spark.sql.expressions.Aggregator`
  * so Catalyst plans partial (map-side) + final aggregation automatically —
  * the engine gets `lift_combiners` (ray_fn_runner.py:178) for free.
  */
trait CombineFn[I, A, O] extends Serializable {
  def createAccumulator(): A
  def addInput(acc: A, input: I): A
  def mergeAccumulators(a: A, b: A): A
  def extractOutput(acc: A): O
}

/** Stock combiners shared across the batch battery, demos and streaming —
  * one definition so accumulator semantics can never drift between copies.
  */
object CombineFns {
  /** (sum, count) over doubles — the mean-combiner building block. */
  val sumCountDouble: CombineFn[Double, (Double, Long), (Double, Long)] =
    new CombineFn[Double, (Double, Long), (Double, Long)] {
      def createAccumulator(): (Double, Long) = (0.0, 0L)
      def addInput(a: (Double, Long), v: Double): (Double, Long) = (a._1 + v, a._2 + 1)
      def mergeAccumulators(a: (Double, Long), b: (Double, Long)): (Double, Long) =
        (a._1 + b._1, a._2 + b._2)
      def extractOutput(a: (Double, Long)): (Double, Long) = a
    }
}

/** Handle for a side-input view; produced by PCollection.asList/asDict/etc.
  * Resolution happens via Spark broadcast at ParDo time (the Spark-idiomatic
  * analog of the reference committing side inputs to the state actor,
  * execution.py:469-525).
  */
final class SideInputView[S](
    private[graft] val id: Int,
    /** window-mapped values: main-element window -> side value */
    private[graft] val lookup: BoundedWindow => S)
  extends Serializable {
  def get(w: BoundedWindow): S = lookup(w)
}

private[graft] object SideInputView {
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  def nextId(): Int = counter.incrementAndGet()
}

/** The per-element ProcessContext of [[Runner.bundle]]. */
private[graft] final class BufferingContext[O] extends ProcessContext[O] {
  var currentTs: Long = 0L
  var currentWindows: Seq[BoundedWindow] = Seq(GlobalWindow)
  val buf = mutable.ArrayBuffer.empty[WindowedValue[Any]]
  val taggedBuf = mutable.ArrayBuffer.empty[(String, WindowedValue[Any])]
  val finalizers = mutable.ArrayBuffer.empty[() => Unit]
  def registerFinalization(cb: () => Unit): Unit = finalizers += cb
  def timestamp: Long = currentTs
  def windows: Seq[BoundedWindow] = currentWindows
  def output(o: O): Unit = buf += WindowedValue(o, currentTs, currentWindows)
  def outputWithTimestamp(o: O, ts: Long): Unit = buf += WindowedValue(o, ts, currentWindows)
  def outputTagged[S](tag: Tag[S], o: S): Unit =
    taggedBuf += ((tag.name, WindowedValue(o, currentTs, currentWindows)))
  def sideInput[S](view: SideInputView[S]): S =
    view.get(currentWindows.headOption.getOrElse(GlobalWindow))
}
