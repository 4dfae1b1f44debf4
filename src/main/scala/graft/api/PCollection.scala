package graft.api

import graft.core._
import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** A PCollection: unordered bag of windowed elements, backed by a lazy
  * `Dataset[WindowedValue[T]]` (reference model: SURVEY.md §1.1;
  * collection.py:24-35).
  *
  * Encoding: each operator resolves a [[graft.core.GEnc]] for its output —
  * a native Catalyst struct `(value, timestamp, windows, pane)` whenever the
  * element type is reflection-encodable (products, primitives, windows via
  * [[graft.core.BoundedWindowUDT]]), Kryo bytes otherwise (the reference
  * moves coder-encoded bytes everywhere, execution.py:100-106; here opaque
  * bytes are the *fallback*, not the default). Native rows shuffle as
  * Tungsten binary with in-place comparison; Kryo rows shuffle as blobs.
  *
  * Key-equality contract (Kryo fallback paths only): grouping compares
  * serialized key bytes, so keys must serialize canonically — primitives,
  * Strings, case classes of those are safe; hash-ordered collections inside
  * keys are not. Native-encoded keys (the common path for concrete key
  * types) compare by struct value and have no such caveat.
  */
final class PCollection[T](
    val pipeline: Pipeline,
    private[graft] val data: Dataset[WindowedValue[T]],
    private[graft] val windowFn: WindowFn) {

  private def spark: SparkSession = pipeline.spark
  /** This collection's own windowed-value encoder (native or Kryo — fixed at
    * construction; same-type transforms reuse it).
    */
  private def selfEnc: Encoder[WindowedValue[T]] = data.encoder
  private def kryoEnc[U]: Encoder[U] =
    Encoders.kryo(classOf[Any]).asInstanceOf[Encoder[U]]

  private def next[U](ds: Dataset[WindowedValue[U]], wfn: WindowFn = windowFn): PCollection[U] =
    new PCollection[U](pipeline, ds, wfn)

  /** One row per (element, window) then grouped on (key, window) — the
    * shared keying step of every keyed operator. With a native key encoder
    * the shuffle hash/sort runs on a `(key, window-struct)` Tungsten row.
    */
  private def keyedByWindow[K, V](kwEnc: GEnc[(K, BoundedWindow)])(implicit ev: T <:< (K, V)) = {
    val exploded = data.mapPartitions(_.flatMap(_.explode))(selfEnc)
    exploded.groupByKey { wv: WindowedValue[T] =>
      (ev(wv.value)._1, wv.windows.head): (K, BoundedWindow)
    }(kwEnc.enc)
  }

  // -------------------------------------------------------------------------
  // ParDo family (reference: RayParDo translator.py:157-338)
  // -------------------------------------------------------------------------

  /** Full-lifecycle ParDo: one Spark partition = one bundle
    * (setup → startBundle → process* → finishBundle → teardown,
    * translator.py:208-281), run by `graft.core.Runner.bundle`, the
    * runner the streaming ParDos share. Each ParDo gets a system element counter
    * (reference tracks per-PCollection element counts,
    * ray_runner_test.py:1285-1514) queryable as
    * `metrics.counterValue("graft.system", "elements.<name>")`.
    *
    * `finishBundle` emissions carry the global window at timestamp 0 (Beam
    * requires explicit windowing for finish-bundle output; this runner pins
    * it to the global window — under non-global windowing such elements
    * group separately by design).
    *
    * Tagged emission from a plain parDo is rejected (throws): tags declared
    * by the DoFn require [[parDoTagged]], otherwise tagged output would be
    * silently dropped.
    */
  def parDo[O](fn: DoFn[T, O], name: String = "")(
      implicit oe: GEnc[WindowedValue[O]]): PCollection[O] = {
    val opName = if (name.nonEmpty) name else s"op${PCollection.nextOpId()}"
    val elems = pipeline.metrics.counter("graft.system", s"elements.$opName")
    val bytes = pipeline.metrics.distribution("graft.system", s"sampledByteSize.$opName")
    // Per-PHASE bundle msecs (reference reports start/process/finish bundle
    // msecs separately, ray_runner_test.py:1285-1514): one distribution
    // sample per bundle per phase, so capacity debugging can tell "is it
    // setup or process" — the total counter alone can't.
    val timers = BundleTimers(
      pipeline.metrics.counter("graft.system", s"msecs.$opName"),
      pipeline.metrics.distribution("graft.system", s"msecsStart.$opName"),
      pipeline.metrics.distribution("graft.system", s"msecsProcess.$opName"),
      pipeline.metrics.distribution("graft.system", s"msecsFinish.$opName"))
    val ds = data.mapPartitions { it =>
      Runner.bundle(fn, PCollection.instrument(it, elems, bytes), Runner.NoTags, Some(timers))
        .map(_._2.asInstanceOf[WindowedValue[O]])
    }(oe.enc)
    next(ds)
  }

  /** Multi-output ParDo: emits (tag, value) once, then one filter per tag
    * over a lazily checkpointed intermediate — the same demux strategy as
    * the reference (TaggingReceiver translator.py:180-206; demux
    * translator.py:559-576). Lazy `localCheckpoint(false)` (not `persist`):
    * graph construction stays side-effect free (the DoFn runs on first
    * branch materialization, once), and the blocks are context-cleaned when
    * the branches are garbage-collected instead of leaking for the session
    * lifetime. Local-checkpoint blocks are not recomputable on executor
    * loss — on a real cluster this trades re-run-the-stage for
    * run-the-DoFn-once; swap for `persist` if the DoFn is idempotent and
    * executors are preemptible.
    */
  def parDoTagged[O](fn: DoFn[T, O], tags: Seq[Tag[_]],
      name: String = "")(
      implicit oe: GEnc[WindowedValue[O]]): (PCollection[O], Map[String, PCollection[Any]]) = {
    val opName = if (name.nonEmpty) name else s"op${PCollection.nextOpId()}"
    val elems = pipeline.metrics.counter("graft.system", s"elements.$opName")
    val bytes = pipeline.metrics.distribution("graft.system", s"sampledByteSize.$opName")
    val declaredTags = Some(tags.map(_.name).toSet)
    val tagged: Dataset[(String, WindowedValue[Any])] = data.mapPartitions { it =>
      Runner.bundle(fn, PCollection.instrument(it, elems, bytes), declaredTags)
    }(Encoders.tuple(Encoders.STRING, kryoEnc[WindowedValue[Any]]))
      .localCheckpoint(false)
    val main = next(tagged.filter(_._1 == "").map(_._2.asInstanceOf[WindowedValue[O]])(oe.enc))
    val sides = tags.map { t =>
      t.name -> next(tagged.filter(_._1 == t.name).map(_._2)(kryoEnc[WindowedValue[Any]]))
    }.toMap
    (main, sides)
  }

  def map[O](f: T => O)(implicit oe: GEnc[WindowedValue[O]]): PCollection[O] =
    next(data.mapPartitions(_.map(wv => wv.withValue(f(wv.value))))(oe.enc))

  /** Map with access to the full windowed envelope (timestamp + window) —
    * how window bounds surface into relational output.
    */
  def mapWindowed[O](f: WindowedValue[T] => O)(
      implicit oe: GEnc[WindowedValue[O]]): PCollection[O] =
    next(data.mapPartitions(_.map(wv => wv.withValue(f(wv))))(oe.enc))

  def flatMap[O](f: T => IterableOnce[O])(
      implicit oe: GEnc[WindowedValue[O]]): PCollection[O] =
    next(data.mapPartitions(_.flatMap(wv => f(wv.value).iterator.map(wv.withValue)))(oe.enc))

  def filter(p: T => Boolean): PCollection[T] =
    next(data.filter((wv: WindowedValue[T]) => p(wv.value)))

  // -------------------------------------------------------------------------
  // Timestamps & windowing (reference: translator.py:393-416, tests §2.5)
  // -------------------------------------------------------------------------

  /** Attach event timestamps (reference TimestampedValue translator.py:62-66). */
  def withTimestamps(f: T => Long): PCollection[T] =
    next(data.mapPartitions(_.map { wv =>
      val ts = f(wv.value)
      WindowedValue(wv.value, ts, wv.windows, wv.pane)
    })(selfEnc))

  /** Assign windows from the element's timestamp (reference RayWindowInto
    * translator.py:393-416 — assignment only; merging happens at GBK, like
    * Beam's GroupAlsoByWindow, overrides.py:72-79).
    */
  def windowInto(wfn: WindowFn): PCollection[T] =
    next(data.mapPartitions(_.map { wv =>
      WindowedValue(wv.value, wv.timestamp, wfn.assign(wv.timestamp), wv.pane)
    })(selfEnc), wfn)

  // -------------------------------------------------------------------------
  // Grouping (reference: RayGroupByKey translator.py:341-390 + GroupAlsoByWindow)
  // -------------------------------------------------------------------------

  /** GroupByKey with full windowing semantics. Non-merging windows shuffle on
    * (key, window) — one Spark hash shuffle, no driver involvement. Merging
    * windows (Sessions / custom WindowFn) shuffle on key, then merge windows
    * inside the group (SURVEY.md §7.4). Output timestamp = window max
    * (Beam's default end-of-window timestamp combiner).
    */
  def groupByKey[K, V](implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)], kEnc: GEnc[K],
      oe: GEnc[WindowedValue[(K, Iterable[V])]]): PCollection[(K, Iterable[V])] = {
    val wfn = windowFn
    val exploded = data.mapPartitions(_.flatMap(_.explode))(selfEnc)
    val ds: Dataset[WindowedValue[(K, Iterable[V])]] =
      if (!wfn.isMerging) {
        keyedByWindow[K, V](kwEnc)
          .mapGroups { (kw: (K, BoundedWindow), it: Iterator[WindowedValue[T]]) =>
            val (k, w) = kw
            val vs: Iterable[V] = it.map(wv => ev(wv.value)._2).toList
            WindowedValue((k, vs), w.maxTimestamp, Seq(w))
          }(oe.enc)
      } else {
        exploded
          .groupByKey((wv: WindowedValue[T]) => ev(wv.value)._1)(kEnc.enc)
          .flatMapGroups { (k: K, it: Iterator[WindowedValue[T]]) =>
            val elems = it.toVector
            val mapping = wfn.mergeWindows(elems.map(_.windows.head))
            elems
              .groupBy(wv => mapping(wv.windows.head))
              .iterator.map { case (mw, group) =>
                val vs: Iterable[V] = group.map(wv => ev(wv.value)._2).toList
                WindowedValue((k, vs), mw.maxTimestamp, Seq(mw))
              }
          }(oe.enc)
      }
    next(ds)
  }

  /** Keyed combine via a Spark `Aggregator` — Catalyst plans partial
    * (map-side) + final aggregation, which is exactly the reference's
    * `lift_combiners` optimization (ray_fn_runner.py:178) done natively.
    * Accumulators cross the shuffle with a native encoder when `A` is a
    * product/primitive type.
    */
  def combinePerKey[K, V, A, O](fn: CombineFn[V, A, O])(
      implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)], kEnc: GEnc[K],
      aEnc: GEnc[A], oEnc: GEnc[O],
      oe: GEnc[WindowedValue[(K, O)]]): PCollection[(K, O)] = {
    val wfn = windowFn
    if (!wfn.isMerging) {
      val agg = new Aggregator[WindowedValue[T], A, O] {
        def zero: A = fn.createAccumulator()
        def reduce(a: A, wv: WindowedValue[T]): A = fn.addInput(a, ev(wv.value)._2)
        def merge(a: A, b: A): A = fn.mergeAccumulators(a, b)
        def finish(a: A): O = fn.extractOutput(a)
        def bufferEncoder: Encoder[A] = aEnc.enc
        def outputEncoder: Encoder[O] = oEnc.enc
      }
      val ds = keyedByWindow[K, V](kwEnc)
        .agg(agg.toColumn)
        .map { case ((k, w), o) => WindowedValue((k, o), w.maxTimestamp, Seq(w)) }(
          oe.enc)
      next(ds)
    } else {
      // merging windows: group by key, merge windows, fold in-group
      groupByKey[K, V].map { case (k, vs) =>
        val acc = vs.foldLeft(fn.createAccumulator())(fn.addInput)
        (k, fn.extractOutput(acc))
      }(new GEnc(oe.enc, oe.native))
    }
  }

  /** Global combine (reference: CombineGlobally tests
    * ray_runner_test.py:1113-1185). Partial per-partition accumulation is
    * automatic via the Aggregator; keyed by window to stay correct under
    * windowing.
    */
  def combineGlobally[A, O](fn: CombineFn[T, A, O])(
      implicit aEnc: GEnc[A], oEnc: GEnc[O],
      owv: GEnc[WindowedValue[O]]): PCollection[O] =
    map(v => ((), v)).combinePerKey[Unit, T, A, O](fn).map(_._2)(owv)

  /** Per-key count — common composite. */
  def countPerKey[K, V](implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)], kEnc: GEnc[K],
      oe: GEnc[WindowedValue[(K, Long)]]): PCollection[(K, Long)] =
    combinePerKey[K, V, Long, Long](new CombineFn[V, Long, Long] {
      def createAccumulator(): Long = 0L
      def addInput(acc: Long, i: V): Long = acc + 1
      def mergeAccumulators(a: Long, b: Long): Long = a + b
      def extractOutput(acc: Long): Long = acc
    })

  // -------------------------------------------------------------------------
  // Set-ish ops (reference: RayFlatten translator.py:419-433, Reshuffle :147-154)
  // -------------------------------------------------------------------------

  /** Flatten/union; heterogeneous element types are legal because values can
    * be opaque (reference transcoding test ray_runner_test.py:838-850).
    * Inputs whose physical encodings differ (one native, one Kryo) are
    * normalized to this collection's encoding first. Spark's UnionExec is a
    * zero-shuffle partition concat — no `repartition(1)` like the reference
    * needs (translator.py:426).
    */
  def union(others: PCollection[T]*): PCollection[T] = {
    val myEnc = selfEnc
    val mySchema = data.schema
    val folded = others.foldLeft(data) { (d, o) =>
      val od =
        if (o.data.schema == mySchema) o.data
        else o.data.mapPartitions(it => it)(myEnc)
      d.union(od)
    }
    // Spark's union drops to an untyped Row encoder when the inputs' class
    // tag is Object (the Kryo fallback); rebind the typed encoder.
    next(folded.as(myEnc))
  }

  /** Redistribute (reference random_shuffle translator.py:147-154); Spark
    * lineage makes the checkpoint-barrier purpose unnecessary — this is a
    * plain round-robin repartition.
    */
  def reshuffle(numPartitions: Int = -1): PCollection[T] =
    next(if (numPartitions > 0) data.repartition(numPartitions)
    else data.repartition(data.sparkSession.sessionState.conf.numShufflePartitions))

  /** CoGroupByKey (reference declares it via composite expansion,
    * translator.py:446). Non-merging windows use Spark's native
    * `KeyValueGroupedDataset.cogroup` — one shuffle per side, no tagging
    * wrapper re-serialization; merging windows fall back to the
    * tag+flatten+GBK composite.
    */
  def coGroupByKey[K, V, W](other: PCollection[(K, W)])(
      implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)],
      oe: GEnc[WindowedValue[(K, (Iterable[V], Iterable[W]))]]
  ): PCollection[(K, (Iterable[V], Iterable[W]))] = {
    val wfn = windowFn
    if (!wfn.isMerging && !other.windowFn.isMerging) {
      val lg = keyedByWindow[K, V](kwEnc)
      val rg = other.keyedByWindow[K, W](kwEnc)
      val ds = lg.cogroup(rg) { (kw, ls, rs) =>
        val (k, w) = kw
        val vs: Iterable[V] = ls.map(wv => ev(wv.value)._2).toList
        val ws: Iterable[W] = rs.map(_.value._2).toList
        Iterator.single(WindowedValue((k, (vs, ws)), w.maxTimestamp, Seq(w)))
      }(oe.enc)
      next(ds)
    } else {
      // merging windows: group the union under the shared merging windowFn
      // so both inputs' windows merge together. Beam CoGBK requires
      // COMPATIBLE windowing across inputs: a merging side joined with a
      // non-merging side would regroup the non-merging side's windows under
      // foreign merge semantics and every group would see one side empty —
      // reject at construction instead of silently producing that
      require(wfn.isMerging && other.windowFn.isMerging && wfn == other.windowFn,
        s"coGroupByKey inputs have incompatible WindowFns: $wfn vs ${other.windowFn} " +
          "(both sides must share the same merging WindowFn, or both be non-merging)")
      val mergingWfn = wfn
      val left: PCollection[(K, Either[V, W])] =
        map { t => val kv = ev(t); (kv._1, Left(kv._2): Either[V, W]) }
      val right: PCollection[(K, Either[V, W])] =
        other.map { case (k, w) => (k, Right(w): Either[V, W]) }
      new PCollection(pipeline, left.union(right).data, mergingWfn)
        .groupByKey[K, Either[V, W]].map { case (k, es) =>
          val vs = es.collect { case Left(v) => v }
          val ws = es.collect { case Right(w) => w }
          (k, (vs, ws))
        }(new GEnc(oe.enc, oe.native))
    }
  }

  /** N-ary tagged CoGroupByKey — Beam's full CoGBK surface. The reference
    * executes it through exactly this composite expansion: tag each input,
    * Flatten, GroupByKey, regroup per tag (translator.py:446). Returns one
    * row per (key, window) with EVERY declared tag present — an input with
    * no values for a key contributes an empty Iterable (Beam's CoGBK
    * contract), so a 3-way full-outer reconciliation reads directly off
    * the result.
    *
    * ONE shuffle total regardless of input count: the tagged union is a
    * zero-shuffle partition concat and the single GBK moves each input
    * exactly once — chaining binary [[coGroupByKey]]s instead re-shuffles
    * the accumulated left side at every step (N−1 extra shuffles of
    * growing width at corpus scale).
    *
    * Windowing: non-merging inputs may differ (each element groups under
    * its own assigned (key, window)); merging windows require the SAME
    * WindowFn on every input, as in the binary [[coGroupByKey]].
    */
  def coGroupByKeyTagged[K, V](selfTag: String, others: (String, PCollection[(K, V)])*)(
      implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)], kEnc: GEnc[K],
      te: GEnc[WindowedValue[(K, (String, V))]],
      ge: GEnc[WindowedValue[(K, Iterable[(String, V)])]],
      oe: GEnc[WindowedValue[(K, Map[String, Iterable[V]])]]
  ): PCollection[(K, Map[String, Iterable[V]])] = {
    val tags = selfTag +: others.map(_._1)
    require(tags.distinct.size == tags.size, s"duplicate cogroup tags: $tags")
    val wfns = windowFn +: others.map(_._2.windowFn)
    if (wfns.exists(_.isMerging))
      require(wfns.forall(_ == windowFn),
        s"coGroupByKeyTagged inputs have incompatible WindowFns: $wfns " +
          "(merging windows require the same WindowFn on every input)")
    val taggedSelf = map { t => val kv = ev(t); (kv._1, (selfTag, kv._2)) }(te)
    val taggedOthers = others.map { case (tag, p) =>
      p.map { case (k, v) => (k, (tag, v)) }(te)
    }
    taggedSelf.union(taggedOthers: _*)
      .groupByKey[K, (String, V)](implicitly, kwEnc, kEnc, ge)
      .map { case (k, tvs) =>
        val byTag = tvs.groupBy(_._1)
        (k, tags.iterator.map(t => t -> byTag.getOrElse(t, Nil).map(_._2)).toMap)
      }(new GEnc(oe.enc, oe.native))
  }

  /** Distinct elements (engine extension; reference has no translated
    * Distinct — SURVEY.md §2.3 note).
    */
  def distinct(): PCollection[T] =
    map(v => (v, ())).groupByKey[T, Unit].map(_._1)(
      new GEnc(selfEnc, false))

  /** Set intersection per window (engine extension, SURVEY.md §2.4): elements
    * present in both inputs, deduplicated (Beam's
    * `Intersect.distinct` semantics / SQL INTERSECT).
    */
  def intersect(other: PCollection[T])(
      implicit kwEnc: GEnc[(T, BoundedWindow)], kEnc: GEnc[T],
      pe: GEnc[WindowedValue[(T, (Long, Long))]]): PCollection[T] =
    setOp(other, (l, r) => l > 0 && r > 0)

  /** Set difference per window (engine extension, SURVEY.md §2.4): distinct
    * elements of this input absent from `other` (SQL EXCEPT).
    */
  def except(other: PCollection[T])(
      implicit kwEnc: GEnc[(T, BoundedWindow)], kEnc: GEnc[T],
      pe: GEnc[WindowedValue[(T, (Long, Long))]]): PCollection[T] =
    setOp(other, (l, r) => l > 0 && r == 0)

  /** Shared set-op core: tag sides, count per (element, window), emit once
    * per element passing the predicate — one shuffle, map-side combinable
    * (the per-side counts are a two-long accumulator, so the shuffle moves
    * one partial per distinct element per partition, never the raw bags).
    */
  private def setOp(other: PCollection[T], keep: (Long, Long) => Boolean)(
      implicit kwEnc: GEnc[(T, BoundedWindow)], kEnc: GEnc[T],
      pe: GEnc[WindowedValue[(T, (Long, Long))]]): PCollection[T] = {
    val tagged: PCollection[(T, (Long, Long))] =
      map(v => (v, (1L, 0L)))(pe).union(other.map(v => (v, (0L, 1L)))(pe))
    tagged.combinePerKey[T, (Long, Long), (Long, Long), (Long, Long)](
      new CombineFn[(Long, Long), (Long, Long), (Long, Long)] {
        def createAccumulator(): (Long, Long) = (0L, 0L)
        def addInput(a: (Long, Long), v: (Long, Long)): (Long, Long) = (a._1 + v._1, a._2 + v._2)
        def mergeAccumulators(a: (Long, Long), b: (Long, Long)): (Long, Long) =
          (a._1 + b._1, a._2 + b._2)
        def extractOutput(a: (Long, Long)): (Long, Long) = a
      })
      .filter { case (_, (l, r)) => keep(l, r) }
      .map(_._1)(new GEnc(selfEnc, false))
  }

  // --- Beam library composites (KV helpers, Top/Mean/Sum analogs) ---

  def keys[K, V](implicit ev: T <:< (K, V), oe: GEnc[WindowedValue[K]]): PCollection[K] =
    map(t => ev(t)._1)
  def values[K, V](implicit ev: T <:< (K, V), oe: GEnc[WindowedValue[V]]): PCollection[V] =
    map(t => ev(t)._2)
  def mapValues[K, V, W](f: V => W)(implicit ev: T <:< (K, V),
      oe: GEnc[WindowedValue[(K, W)]]): PCollection[(K, W)] =
    map { t => val kv = ev(t); (kv._1, f(kv._2)) }
  def flatMapValues[K, V, W](f: V => IterableOnce[W])(
      implicit ev: T <:< (K, V), oe: GEnc[WindowedValue[(K, W)]]): PCollection[(K, W)] =
    flatMap { t => val kv = ev(t); f(kv._2).iterator.map(w => (kv._1, w)) }
  def withKeys[K](f: T => K)(implicit oe: GEnc[WindowedValue[(K, T)]]): PCollection[(K, T)] =
    map(t => (f(t), t))
  def swap[K, V](implicit ev: T <:< (K, V), oe: GEnc[WindowedValue[(V, K)]]): PCollection[(V, K)] =
    map { t => val kv = ev(t); (kv._2, kv._1) }

  /** Largest n elements (Beam Top.largest composite). */
  def top(n: Int)(implicit ord: Ordering[T], oe: GEnc[WindowedValue[Seq[T]]]): PCollection[Seq[T]] =
    combineGlobally(new CombineFn[T, List[T], Seq[T]] {
      def createAccumulator(): List[T] = Nil
      def addInput(acc: List[T], v: T): List[T] = (v :: acc).sorted(ord.reverse).take(n)
      def mergeAccumulators(a: List[T], b: List[T]): List[T] =
        (a ++ b).sorted(ord.reverse).take(n)
      def extractOutput(acc: List[T]): Seq[T] = acc
    })

  /** Batches of at most `batchSize` values per key — the model-inference
    * batching primitive of a training-data pipeline (Beam GroupIntoBatches).
    * Each (key, window) group emits ceil(n/batchSize) batches.
    */
  def groupIntoBatches[K, V](batchSize: Int)(
      implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)], kEnc: GEnc[K],
      oe: GEnc[WindowedValue[(K, Seq[V])]]): PCollection[(K, Seq[V])] = {
    require(batchSize > 0)
    groupByKey[K, V].flatMap { case (k, vs) =>
      vs.iterator.grouped(batchSize).map(b => (k, b.toSeq))
    }(new GEnc(oe.enc, oe.native))
  }

  def sumPerKey[K](implicit ev: T <:< (K, Double),
      kwEnc: GEnc[(K, BoundedWindow)], kEnc: GEnc[K],
      oe: GEnc[WindowedValue[(K, Double)]]): PCollection[(K, Double)] =
    combinePerKey[K, Double, Double, Double](new CombineFn[Double, Double, Double] {
      def createAccumulator(): Double = 0.0
      def addInput(a: Double, v: Double): Double = a + v
      def mergeAccumulators(a: Double, b: Double): Double = a + b
      def extractOutput(a: Double): Double = a
    })

  // -------------------------------------------------------------------------
  // Side inputs (reference: translator.py:506-524, execution.py:469-525;
  // tests ray_runner_test.py:163-361)
  // -------------------------------------------------------------------------

  private def collectByWindow(): Map[BoundedWindow, Seq[WindowedValue[T]]] =
    data.collect().toSeq.flatMap(_.explode).groupBy(_.windows.head)

  private def view[S](materialize: Seq[WindowedValue[T]] => S, empty: () => S): SideInputView[S] = {
    val byWindow: Map[BoundedWindow, S] =
      collectByWindow().map { case (w, wvs) => w -> materialize(wvs) }
    val bc = spark.sparkContext.broadcast(byWindow)
    val sideWfn = windowFn
    new SideInputView[S](SideInputView.nextId(), { mainWin =>
      val m = bc.value
      // Window mapping (reference windowed side inputs
      // ray_runner_test.py:220-251): global side serves all windows; else the
      // LATEST-starting side window containing the main window's max
      // timestamp (deterministic under overlapping/sliding side windows,
      // mirroring Beam's default window mapping fn).
      m.get(GlobalWindow)
        .orElse {
          val ts = mainWin.maxTimestamp
          m.keys.collect { case iw: IntervalWindow if iw.start <= ts && ts < iw.end => iw }
            .toSeq.sortBy(iw => (-iw.start, iw.end))
            .headOption.flatMap(m.get)
        }
        .orElse(sideWfn.assign(mainWin.maxTimestamp).headOption.flatMap(m.get))
        .getOrElse(empty())
    })
  }

  /** AsList (broadcast; the Spark analog of the reference's IterableSideInput
    * state commit, execution.py:493-521).
    */
  def asList: SideInputView[Seq[T]] = view(_.map(_.value), () => Seq.empty)
  def asIterable: SideInputView[Iterable[T]] = view(_.map(_.value), () => Seq.empty)
  /** Exactly-one-element view. */
  def asSingleton: SideInputView[T] =
    view(wvs => { require(wvs.size == 1, s"singleton side input had ${wvs.size} elements"); wvs.head.value },
      () => throw new IllegalStateException("empty singleton side input"))
  def asDict[K, V](implicit ev: T <:< (K, V)): SideInputView[Map[K, V]] =
    view(_.map(wv => ev(wv.value)).toMap, () => Map.empty)
  /** AsMultimap (reference MultimapSideInput execution.py:493-525). */
  def asMultimap[K, V](implicit ev: T <:< (K, V)): SideInputView[Map[K, Seq[V]]] =
    view(_.map(wv => ev(wv.value)).groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2) },
      () => Map.empty)

  // -------------------------------------------------------------------------
  // Stateful ParDo (batch watermark sweep — SURVEY.md §7.1-4; the streaming
  // variant in graft.streaming runs the same Runner.sweep)
  // -------------------------------------------------------------------------

  /** Stateful ParDo keyed by (key, window): state cells + event-time timer
    * heap. Batch semantics = the reference's end-of-input timer loop
    * (ray_fn_runner.py:268-297): elements process in timestamp order, then
    * the watermark jumps to +inf and pending timers fire in (ts, name, tag)
    * order; timer callbacks may set further timers (re-fire chain test
    * ray_runner_test.py:428-459).
    */
  def statefulParDo[K, V, O](fn: StatefulDoFn[K, V, O])(
      implicit ev: T <:< (K, V),
      kwEnc: GEnc[(K, BoundedWindow)],
      oe: GEnc[WindowedValue[O]]): PCollection[O] = {
    val ds = keyedByWindow[K, V](kwEnc)
      .flatMapGroups { (kw: (K, BoundedWindow), it: Iterator[WindowedValue[T]]) =>
        val ws = Seq(kw._2)
        Runner.sweep(fn, kw._1, kw._2, it.map(wv => (ev(wv.value)._2, wv.timestamp)),
          new StateCells, Long.MinValue, Long.MaxValue, enforceHold = false)
          .map { case (o, ts) => WindowedValue(o, ts, ws) }
      }(oe.enc)
    next(ds)
  }

  // -------------------------------------------------------------------------
  // Materialization / bridges
  // -------------------------------------------------------------------------

  def collect(): Seq[T] = data.collect().toSeq.map(_.value)

  def collectAsMultiset(): Map[T, Int] =
    collect().groupBy(identity).map { case (k, vs) => k -> vs.size }
  def collectWindowed(): Seq[WindowedValue[T]] = data.collect().toSeq
  def count(): Long = data.count()

  /** Bridge back to a typed Dataset (drops window metadata). */
  def toDataset(implicit enc: Encoder[T]): Dataset[T] =
    data.mapPartitions(_.map(_.value))(enc)

  /** Typed Dataset of (value, timestampMillis). */
  def toTimestampedDataset(implicit enc: Encoder[(T, Long)]): Dataset[(T, Long)] =
    data.mapPartitions(_.map(wv => (wv.value, wv.timestamp)))(enc)

  /** Escape hatch into codegen land mid-pipeline: run a typed Dataset
    * transformation (full Catalyst/Tungsten optimization) and come back to
    * the dataflow layer. Window metadata resets to the global window — use
    * before windowing or re-assign after.
    */
  def viaDataset[U](f: Dataset[T] => Dataset[U])(
      implicit enc: Encoder[T], ue: GEnc[WindowedValue[U]]): PCollection[U] =
    pipeline.fromDataset(f(toDataset))

  /** Line-oriented text sink (reference WriteToText analog,
    * examples/word_count_metrics.py:134).
    */
  def writeText(path: String)(implicit ev: T <:< String): Unit =
    toDataset(Encoders.STRING.asInstanceOf[Encoder[T]])
      .write.mode("overwrite").text(path)
}

private[graft] object PCollection {

  private val opCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  def nextOpId(): Int = opCounter.incrementAndGet()

  /** Sampled byte-size rate: first 100 elements of each partition, then
    * every 64th (the reference samples per-bundle element sizes,
    * ray_runner_test.py:1285-1514; a fixed stride keeps the estimator O(1)
    * per element with no RNG in the hot loop).
    */
  private final val SampleHead = 100
  private final val SampleStride = 64

  /** Wrap a bundle iterator with the per-op system instrumentation: element
    * count + sampled serialized-size distribution.
    */
  def instrument[E](it: Iterator[E], elems: org.apache.spark.util.LongAccumulator,
      bytes: DistributionAccumulator): Iterator[E] = {
    var i = 0L
    it.map { e =>
      elems.add(1L)
      if (i < SampleHead || i % SampleStride == 0)
        bytes.add(org.apache.spark.util.SizeEstimator.estimate(e.asInstanceOf[AnyRef]))
      i += 1
      e
    }
  }
}
