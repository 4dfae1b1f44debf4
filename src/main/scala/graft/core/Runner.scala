package graft.core

import org.apache.spark.TaskContext
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** Per-op bundle timers reported by `PCollection.parDo`: wall msecs per
  * bundle (recorded at task end, teardown included) and one msec sample
  * per bundle for each phase (start, process, finish).
  */
private[graft] final case class BundleTimers(
    total: LongAccumulator, start: DistributionAccumulator,
    process: DistributionAccumulator, finish: DistributionAccumulator)

/** The one DoFn runner behind every ParDo entry point, batch and streaming
  * (the reference drives every bundle through one invoker,
  * translator.py:180-206, execution.py:54-168). A bounded partition and a
  * micro-batch partition are both a bundle, and keyed state is swept the
  * same way whether it starts empty (batch) or is restored from the state
  * store (streaming).
  */
private[graft] object Runner {

  /** Tag policy of a single-output ParDo: any tagged emission throws. */
  val NoTags: Option[Set[String]] = Some(Set.empty)

  /** Run `fn` over one bundle: setup → startBundle → process per
    * (element, window) → finishBundle → teardown. A multi-window element is
    * k logical elements in Beam's model, so window-sensitive context (side
    * input mapping, output window) resolves per window.
    *
    * Output is lazy — peak heap is one element's output, not the bundle's —
    * as `(tag, value)` pairs with the main output under tag "".
    * `finishBundle` emissions carry the global window at timestamp 0.
    * `tags` holds the tags `fn` may emit to ([[NoTags]] for a plain ParDo;
    * None accepts any tag). `teardown` runs exactly once, through the
    * task-completion listener even when `process` throws (Beam's
    * best-effort contract); finalization callbacks fire after the task
    * commits, at-least-once, exceptions swallowed (execution.py:131-139).
    */
  def bundle[I, O](fn: DoFn[I, O], in: Iterator[WindowedValue[I]],
      tags: Option[Set[String]], timers: Option[BundleTimers] = None)
      : Iterator[(String, WindowedValue[Any])] = {
    val t0 = System.nanoTime()
    var toreDown = false
    def teardownOnce(): Unit = if (!toreDown) { toreDown = true; fn.teardown() }
    onTaskCompletion { () =>
      try teardownOnce() catch { case _: Throwable => () }
      timers.foreach(_.total.add(msSince(t0)))
    }
    fn.setup()
    fn.startBundle()
    timers.foreach(_.start.add(msSince(t0)))
    var processNanos = 0L
    val ctx = new BufferingContext[O]
    val mainOut = in.flatMap(_.explode.iterator.flatMap { wv =>
      ctx.currentTs = wv.timestamp; ctx.currentWindows = wv.windows
      ctx.buf.clear(); ctx.taggedBuf.clear()
      val tp = System.nanoTime()
      fn.process(wv.value, ctx)
      processNanos += System.nanoTime() - tp
      if (ctx.taggedBuf.nonEmpty) checkTags(ctx.taggedBuf, tags)
      ctx.buf.iterator.map(("", _)).concat(ctx.taggedBuf).toList
    })
    // Iterator.++ is by-name: finishBundle and teardown run after the last
    // element has been consumed
    mainOut ++ {
      timers.foreach(_.process.add(processNanos / 1000000L))
      val tf = System.nanoTime()
      val fin = mutable.ArrayBuffer.empty[(String, WindowedValue[Any])]
      fn.finishBundle(o => fin += (("", WindowedValue.of(o))))
      timers.foreach(_.finish.add(msSince(tf)))
      teardownOnce()
      if (ctx.finalizers.nonEmpty) {
        val cbs = ctx.finalizers.toList
        onTaskCompletion(() => cbs.foreach(cb => try cb() catch { case _: Throwable => () }))
      }
      fin.iterator
    }
  }

  /** An emission to a tag no branch filters for would otherwise vanish. */
  private def checkTags(tagged: Iterable[(String, _)], tags: Option[Set[String]]): Unit =
    tags.foreach { declared =>
      if (declared.isEmpty)
        throw new IllegalStateException(
          s"DoFn emitted tagged output (${tagged.map(_._1).toSeq.distinct.mkString(",")}) " +
            "from a plain parDo — use parDoTagged (parDoTaggedStream on a stream) so " +
            "tagged outputs are routed, not dropped")
      tagged.foreach { case (tag, _) =>
        if (!declared.contains(tag))
          throw new IllegalStateException(
            s"DoFn emitted to undeclared tag '$tag' (declared: ${declared.mkString(",")})")
      }
    }

  private def msSince(t: Long): Long = (System.nanoTime() - t) / 1000000L

  private def onTaskCompletion(f: () => Unit): Unit =
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => f()))

  /** The stateful sweep for one key (SURVEY.md §7.1-4): elements in
    * timestamp order, those strictly before `inputWatermark` dropped as late
    * (an element AT the watermark is on time), then every timer at or before
    * `firingWatermark` fires in (ts, name, tag) order; a callback may set
    * further timers, which fire in the same sweep when due (re-fire chain,
    * ray_runner_test.py:428-459).
    *
    * Batch passes fresh cells, `Long.MinValue` and `Long.MaxValue`: the
    * end-of-input timer loop (ray_fn_runner.py:268-297). Streaming passes
    * the cells restored from the state store and the group's event-time
    * watermark for both, then persists `cells`. Returns (output, event
    * timestamp) pairs, computed before this returns.
    *
    * `enforceHold` makes `outputWithTimestamp` forward-only from the hold
    * (the current element's time, or the firing timer's), Beam's
    * zero-allowed-skew default.
    */
  def sweep[K, V, O](fn: StatefulDoFn[K, V, O], key: K, window: BoundedWindow,
      elems: Iterator[(V, Long)], cells: StateCells,
      inputWatermark: Long, firingWatermark: Long,
      enforceHold: Boolean): Iterator[(O, Long)] = {
    val ctx = new SweepContext[O](key, window, cells, enforceHold)
    elems.filter(_._2 >= inputWatermark).toVector.sortBy(_._2).foreach { case (v, ts) =>
      ctx.curTs = ts
      fn.process(key, v, ctx)
    }
    // one min-search per fire: the earliest timer is due iff any timer is
    var due = true
    while (due && cells.timers.nonEmpty) {
      val ((name, tag), ts) = cells.timers.minBy { case ((n, t), ts0) => (ts0, n, t) }
      due = ts <= firingWatermark
      if (due) {
        cells.timers.remove((name, tag))
        ctx.curTs = ts
        fn.onTimer(key, TimerSpec(name), tag, ts, ctx)
      }
    }
    ctx.out.iterator
  }

  private final class SweepContext[O](k: Any, w: BoundedWindow, cells: StateCells,
      enforceHold: Boolean) extends StatefulContext[O] {
    // curTs IS the hold: the element's event time during process, the
    // timer's fire time during onTimer
    var curTs: Long = 0L
    val out = mutable.ArrayBuffer.empty[(O, Long)]
    def key: Any = k
    def window: BoundedWindow = w
    def timestamp: Long = curTs
    def output(o: O): Unit = out += ((o, curTs))
    def outputWithTimestamp(o: O, ts: Long): Unit = {
      if (enforceHold) require(ts >= curTs,
        s"output timestamp $ts is before the hold $curTs — a timestamped " +
          "streaming stateful ParDo may only move timestamps FORWARD " +
          "(Beam's zero-allowed-skew default; backward emission " +
          "fabricates already-late data)")
      out += ((o, ts))
    }
    def bag[T](spec: BagStateSpec[T]): BagState[T] = cells.bag(spec)
    def value[T](spec: ValueStateSpec[T]): ValueState[T] = cells.value(spec)
    def combining[I, A, OO](spec: CombiningStateSpec[I, A, OO]): CombiningState[I, OO] =
      cells.combining(spec)
    def timer(spec: TimerSpec): Timer = cells.timer(spec)
  }
}
