package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Approximate-nearest-neighbor search over an embedding column
  * (builder-prompt extension).
  *
  * Three tiers, by scale:
  *  1. `bruteForceTopK` — broadcast the query set, one codegen'd pass over
  *     the corpus, window top-k. Exact; the baseline and the oracle.
  *  2. `partialTopK` — same scoring pass but per-partition top-k pruning
  *     before the shuffle: the shuffle carries ≤ k·partitions·|Q| rows
  *     instead of |corpus|·|Q| — the 1000-executor-safe exact path.
  *  3. `lshTopK` — random-hyperplane bucket (IVF-style) pruning: only
  *     corpus rows in a query's bucket (± multi-probe) are scored.
  */
object Similarity {

  /** Exact cosine top-k per query vector. `queries` must be small (it is
    * broadcast); result: (query id, corpus id, score, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("score", graft.plans.NativeExpressions.cosine(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("score").desc, col(corpusId))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("corpus_id"),
        round(col("score"), 6).as("score"), col("rnk"))
  }

  /** Exact top-k with per-partition pruning: each corpus partition keeps only
    * its local top-k per query (bounded heaps inside `mapPartitions` — the
    * legitimate per-partition-imperative case), then one tiny shuffle merges
    * ≤ k·numPartitions·|Q| candidates. Same results as brute force.
    */
  def partialTopK(
      spark: SparkSession,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: Seq[(Long, Array[Float])],
      k: Int): DataFrame = {
    // precompute each query's sqrt(sum(y_i^2)) with the SAME accumulation
    // order as CosineSimilarityExpr so scores are bit-identical to the
    // brute-force/oracle cosine
    val qs = spark.sparkContext.broadcast(queries.map { case (id, v) =>
      var nb = 0.0; var i = 0
      while (i < v.length) { val yi = v(i).toDouble; nb += yi * yi; i += 1 }
      (id, v, math.sqrt(nb))
    })
    // project BEFORE dropping to RDD-land: the RDD conversion is a pruning
    // barrier, so without this select the parquet scan reads every corpus
    // column to use two
    val projected = corpus.select(col(corpusId), col(corpusVec))
    val idIdx = 0
    val vecIdx = 1
    val partial = projected.rdd.mapPartitions { it =>
      // one bounded heap per query; ordering: (score asc, id desc) so the
      // heap root is the eviction candidate
      val heaps = qs.value.map { case (qid, _, _) =>
        qid -> mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
      }.toMap
      it.foreach { r =>
        val cid = r.getLong(idIdx)
        val vec = r.getSeq[Float](vecIdx)
        // na in its own pass (identical term order to the fused native loop)
        var na = 0.0
        var j = 0
        while (j < vec.length) { val xi = vec(j).toDouble; na += xi * xi; j += 1 }
        val sqrtNa = math.sqrt(na)
        qs.value.foreach { case (qid, qv, sqrtNb) =>
          // length mismatch = corrupt embedding: EXCLUDED, matching the
          // native cosine's NULL-on-mismatch (brute force and this exact
          // tier must agree row for row)
          if (vec.length == qv.length) {
            var dotv = 0.0
            var i = 0
            val n = qv.length
            while (i < n) { dotv += vec(i).toDouble * qv(i).toDouble; i += 1 }
            val denom = sqrtNa * sqrtNb
            val score = if (denom > 0) dotv / denom else 0.0
            val h = heaps(qid)
            if (h.size < k) h.enqueue((score, cid))
            else if (score > h.head._1 || (score == h.head._1 && cid < h.head._2)) {
              h.dequeue(); h.enqueue((score, cid))
            }
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (s, cid) => Row(qid, cid, s) } }
    }
    val schema = StructType(Seq(StructField("query_id", LongType),
      StructField("corpus_id", LongType), StructField("score", DoubleType)))
    val cand = spark.createDataFrame(partial, schema)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("corpus_id"))
    cand.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("score"), 6).as("score"), col("rnk"))
  }

  /** True IVF (inverted-file) ANN: k-means centroids partition the corpus
    * into `nlist` cells; each query scores only the `nprobe` nearest cells.
    * Unlike the stateless hyperplane LSH below, the index adapts to the data
    * distribution — the scale path when the corpus is clustered.
    *
    * Training is a seeded in-JVM [[KMeansLite]] fit over a bounded
    * driver-side sample: the coarse quantizer needs a few hundred points per
    * cell, not a distributed `maxIter`-job MLlib fit. Assignment is a single
    * join-free column ([[graft.plans.NativeExpressions.nearestCentroid]]
    * with the centroids riding along as a plan constant); the probe join
    * broadcasts (query, cell) pairs.
    *
    * `trainSampleBytes`/`trainRowCap` bound the TRAINING sample: the seeded
    * sample fraction is derived from plan statistics (parquet metadata — no
    * extra counting pass) while ASSIGNMENT still covers the full corpus. At
    * 100 TB you train on a few MB of sample and broadcast the centroids; a
    * full-corpus fit would iterate the whole dataset per round.
    */
  def ivfTopK(
      spark: SparkSession,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      trainSampleBytes: Long = 64L << 20, trainRowCap: Int = 1 << 16): DataFrame = {
    val sizeBytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val fraction =
      if (sizeBytes <= 0) 1.0
      else (BigDecimal(trainSampleBytes) / BigDecimal(sizeBytes)).min(1).toDouble
    val vecsOnly = corpus.select(col(corpusVec))
    val train =
      if (fraction >= 1.0) vecsOnly
      else vecsOnly.sample(withReplacement = false, fraction, seed = 42L)
    // Number, not Float: the vector column may be array<float> or
    // array<double> (NearestCentroidExpr and the cosine scorer accept both;
    // training must too)
    val sample = train.limit(trainRowCap).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val centroids = KMeansLite.fit(sample, nlist, maxIter = 10, seed = 42L)
    val cb = corpus.withColumn("__cell",
      graft.plans.NativeExpressions.nearestCentroid(col(corpusVec), centroids))
    // nprobe nearest centroids per query, computed driver-side (queries are
    // small by contract — they are broadcast anyway)
    val qRows = queries.select(col(queryId), col(queryVec)).collect()
    val probes = qRows.flatMap { r =>
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      centroids.zipWithIndex.map { case (c, ci) =>
        var d = 0.0; var i = 0
        while (i < math.min(c.length, qv.length)) { val x = c(i) - qv(i); d += x * x; i += 1 }
        (r.getLong(0), ci, d)
      }.sortBy(_._3).take(nprobe).map { case (qid, ci, _) => (qid, ci) }
    }
    val s2 = corpus.sparkSession
    import s2.implicits._
    val probeDf = probes.toSeq.toDF("__qid", "__cell")
      .join(queries.select(col(queryId).as("__qid"), col(queryVec).as("__qvec")), "__qid")
    val scored = cb.join(broadcast(probeDf), "__cell")
      .withColumn("score", graft.plans.NativeExpressions.cosine(col(corpusVec), col("__qvec")))
    val w = Window.partitionBy(col("__qid")).orderBy(col("score").desc, col(corpusId))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("__qid").as("query_id"), col(corpusId).as("corpus_id"),
        round(col("score"), 6).as("score"), col("rnk"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means clusters bound the pair search — two
    * documents are only compared when their embeddings land in the SAME
    * cluster, turning the O(n²) all-pairs cosine into O(Σ cᵢ²) with
    * cᵢ ≈ n/nClusters. The scale dial is `nClusters`: size it so an
    * expected cluster fits a reducer (n/nClusters ≲ 10⁵), the same rule as
    * the LSH bucket caps elsewhere in [[Dedup]].
    *
    * Training reuses the IVF recipe: seeded in-JVM [[KMeansLite]] over a
    * bounded, statistics-derived sample (no extra counting pass); cluster
    * assignment is the join-free [[graft.plans.NativeExpressions.nearestCentroid]]
    * column over the FULL corpus. Within-cluster candidates come from one
    * equi-join on the cell id — a plain shuffle join Spark plans well — and
    * survive at exact cosine ≥ `threshold`.
    *
    * Returns (id1, id2, cosine) with id1 < id2; compose with
    * [[Dedup.keepMinIdSurvivors]] or [[Dedup.connectedComponents]] for the
    * dedup policy, exactly like the text pair generators.
    */
  /** The SemDeDup blocking structure on its own: seeded-deterministic
    * bounded-sample k-means training plus nearest-centroid assignment,
    * returning `(__id, __v, __cell)`. Exposed so verification (ModelChecks
    * d132) can state the within-cluster completeness law against the SAME
    * assignment the pair join blocks on.
    */
  def semanticClusterAssignments(
      corpus: DataFrame, idCol: String, vecCol: String, nClusters: Int,
      trainSampleBytes: Long = 64L << 20, trainRowCap: Int = 1 << 16): DataFrame = {
    require(nClusters >= 1, s"nClusters must be positive: $nClusters")
    val sizeBytes = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val fraction =
      if (sizeBytes <= 0) 1.0
      else (BigDecimal(trainSampleBytes) / BigDecimal(sizeBytes)).min(1).toDouble
    val vecsOnly = corpus.select(col(vecCol))
    val train =
      if (fraction >= 1.0) vecsOnly
      else vecsOnly.sample(withReplacement = false, fraction, seed = 42L)
    val sample = train.limit(trainRowCap).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val centroids = KMeansLite.fit(sample, nClusters, maxIter = 10, seed = 42L)
    corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__cell",
        graft.plans.NativeExpressions.nearestCentroid(col("__v"), centroids))
  }

  def semanticDedupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 16, threshold: Double = 0.95,
      trainSampleBytes: Long = 64L << 20, trainRowCap: Int = 1 << 16): DataFrame = {
    require(threshold >= -1 && threshold <= 1, s"cosine threshold out of range: $threshold")
    val cells = semanticClusterAssignments(
      corpus, idCol, vecCol, nClusters, trainSampleBytes, trainRowCap)
    cells.as("a").join(cells.as("b"),
        col("a.__cell") === col("b.__cell") && col("a.__id") < col("b.__id"))
      .withColumn("cosine",
        round(graft.plans.NativeExpressions.cosine(col("a.__v"), col("b.__v")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("a.__id").as("id1"), col("b.__id").as("id2"), col("cosine"))
  }

  /** Scalar int8 quantization of an embedding column: per-vector symmetric
    * scale (`maxAbs/127`), returning (id, q binary, scale). At corpus scale
    * the quantized table is ~4x smaller than float32 — the memory-bandwidth
    * lever for exhaustive scoring passes.
    */
  /** Quantize one vector: symmetric per-vector scale `maxAbs/127`. Single
    * definition shared by corpus- and query-side quantization so clamping /
    * zero-scale behavior can never diverge.
    */
  private[operators] def quantizeVec(v: Seq[Float]): (Array[Byte], Float) = {
    var maxAbs = 0f
    v.foreach(x => if (math.abs(x) > maxAbs) maxAbs = math.abs(x))
    val scale = if (maxAbs > 0) maxAbs / 127f else 1f
    val q = new Array[Byte](v.length)
    var i = 0
    while (i < v.length) { q(i) = math.round(v(i) / scale).toByte; i += 1 }
    (q, scale)
  }

  def quantizeInt8(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val projected = corpus.select(col(idCol), col(vecCol))
    val rdd = projected.rdd.mapPartitions(_.map { r =>
      val v = r.getSeq[Float](1)
      val (q, scale) = quantizeVec(v)
      var n2 = 0.0
      v.foreach { x => val xd = x.toDouble; n2 += xd * xd }
      Row(r.getLong(0), q, scale.toDouble, math.sqrt(n2))
    })
    corpus.sparkSession.createDataFrame(rdd, StructType(Seq(
      StructField("__id", LongType), StructField("__q", BinaryType),
      StructField("__scale", DoubleType), StructField("__norm", DoubleType))))
  }

  /** Two-stage quantized ANN: (1) int8 dot-product screening with bounded
    * per-partition heaps over the quantized corpus keeps `k * rerankFactor`
    * candidates per query; (2) exact float cosine rescores only those
    * candidates. Approximate (quantization error can reorder near-ties in
    * stage 1) — rerankFactor buys recall; the rescore stage makes surviving
    * scores exact.
    */
  def quantizedTopK(
      spark: SparkSession,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: Seq[(Long, Array[Float])],
      k: Int, rerankFactor: Int = 4): DataFrame = {
    val screenK = k * rerankFactor
    val qQuant = queries.map { case (id, v) => (id, quantizeVec(scala.collection.immutable.ArraySeq.unsafeWrapArray(v))._1) }
    val qs = spark.sparkContext.broadcast(qQuant)
    val quantized = quantizeInt8(corpus, corpusId, corpusVec)
    val screened = quantized.rdd.mapPartitions { it =>
      val heaps = qs.value.map { case (qid, _) =>
        qid -> mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
      }.toMap
      it.foreach { r =>
        val cid = r.getLong(0)
        val cq = r.getAs[Array[Byte]](1)
        val cScale = r.getDouble(2)
        val cNorm = r.getDouble(3)
        qs.value.foreach { case (qid, qv) =>
          if (cq.length == qv.length && cNorm > 0) { // corrupt lengths excluded
            // screen score ∝ true cosine: code-dot x the row's stored scale
            // recovers the real dot (codes alone are inf-norm-normalized —
            // a long low-magnitude vector would otherwise outrank the true
            // nearest neighbor regardless of rerank factor), and dividing
            // by the stored L2 norm ranks by cosine (the query's scale and
            // norm are per-query constants that cannot change its order)
            var dot = 0L
            var i = 0
            val n = qv.length
            while (i < n) { dot += cq(i).toLong * qv(i).toLong; i += 1 }
            val score = dot * cScale / cNorm
            val h = heaps(qid)
            if (h.size < screenK) h.enqueue((score, cid))
            else if (score > h.head._1 || (score == h.head._1 && cid < h.head._2)) {
              h.dequeue(); h.enqueue((score, cid))
            }
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (_, cid) => Row(qid, cid) } }
    }
    val candidates = spark.createDataFrame(screened, StructType(Seq(
      StructField("query_id", LongType), StructField("corpus_id", LongType))))
      .dropDuplicates("query_id", "corpus_id")
    // stage 2: exact rescore of the small candidate set
    val s2 = corpus.sparkSession
    import s2.implicits._
    val qDf = queries.toDF("query_id", "__qvec")
    val rescored = candidates
      .join(corpus.select(col(corpusId).as("corpus_id"), col(corpusVec).as("__cvec")), "corpus_id")
      .join(broadcast(qDf), "query_id")
      .withColumn("score", graft.plans.NativeExpressions.cosine(col("__cvec"), col("__qvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("corpus_id"))
    rescored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), round(col("score"), 6).as("score"), col("rnk"))
  }

  /** LSH/IVF-style ANN: bucket corpus and queries with the same seeded
    * random-hyperplane signature; score only same-bucket candidates. Recall
    * grows with `probes` (multi-probe = flip each of the lowest `probes`
    * signature bits).
    */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, bits: Int = 10, probes: Int = 2): DataFrame = {
    val cb = corpus.withColumn("__bucket",
      graft.plans.NativeExpressions.lshBucket(col(corpusVec), bits))
    // multi-probe: original bucket plus single-bit flips
    val probeBuckets = array((lit(-1) +: (0 until probes).map(lit(_))): _*)
    val qb = queries
      .withColumn("__qb", graft.plans.NativeExpressions.lshBucket(col(queryVec), bits))
      .withColumn("__probe", explode(probeBuckets))
      .withColumn("__bucket",
        when(col("__probe") === -1, col("__qb"))
          .otherwise(col("__qb").bitwiseXOR(call_function("shiftleft", lit(1L), col("__probe")))))
      .drop("__probe", "__qb")
    val scored = cb.join(broadcast(qb), "__bucket")
      .withColumn("score", graft.plans.NativeExpressions.cosine(col(corpusVec), col(queryVec)))
    val w = Window.partitionBy(col(queryId)).orderBy(col("score").desc, col(corpusId))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col(queryId).as("query_id"), col(corpusId).as("corpus_id"),
        round(col("score"), 6).as("score"), col("rnk"))
  }
}
