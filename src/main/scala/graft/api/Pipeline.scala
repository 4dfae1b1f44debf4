package graft.api

import graft.core._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import scala.reflect.ClassTag

/** Entry point for the dataflow (Beam-semantics) layer.
  *
  * The reference is a Beam runner (SURVEY.md §0): users compose
  * `p | Create | ParDo | GroupByKey | ...`. Here the pipeline is a thin
  * factory over Spark `Dataset`s — Spark's lazy logical plan replaces the
  * reference's CollectionMap / PcollectionBufferManager registries
  * (collection.py:24-35, execution.py:360-371): each PCollection IS a lazy
  * `Dataset[WindowedValue[T]]` and Catalyst/DAGScheduler replace the
  * hand-rolled stage executor (SURVEY.md §3).
  */
final class Pipeline(val spark: SparkSession) {
  val metrics = new MetricsRegistry(spark.sparkContext)

  private[graft] def kryoWvEncoder[T]: Encoder[WindowedValue[T]] =
    Encoders.kryo(classOf[WindowedValue[Any]]).asInstanceOf[Encoder[WindowedValue[T]]]

  /** Single seed element (reference: RayImpulse translator.py:95-102). */
  def impulse(): PCollection[Array[Byte]] =
    create(Seq(Array.emptyByteArray))

  /** In-memory literal source (reference: RayCreate translator.py:105-119).
    * Concrete element types get the native struct encoding
    * ([[graft.core.GEnc]]); opaque types fall back to Kryo.
    */
  def create[T](values: Seq[T])(implicit e: GEnc[WindowedValue[T]]): PCollection[T] = {
    val wvs = values.map(WindowedValue.of)
    new PCollection[T](this, spark.createDataset(wvs)(e.enc), GlobalWindows)
  }

  /** Values with explicit event timestamps (reference TimestampedValue,
    * translator.py:62-66).
    */
  def createTimestamped[T](values: Seq[(T, Long)])(
      implicit e: GEnc[WindowedValue[T]]): PCollection[T] = {
    val wvs = values.map { case (v, ts) => WindowedValue.timestamped(v, ts) }
    new PCollection[T](this, spark.createDataset(wvs)(e.enc), GlobalWindows)
  }

  /** Text source with header skipping (reference: RayRead translator.py:122-144,
    * `skip_header_lines` at :138-140). Header skip is PER FILE (globs and
    * directories drop N lines from every file, like the reference): the
    * Hadoop input split exposes its file offset, so only the partition at
    * offset 0 of each file skips — no global ordering pass.
    */
  def readText(path: String, skipHeaderLines: Int = 0): PCollection[String] = {
    import spark.implicits._
    val ds =
      if (skipHeaderLines == 0) spark.read.textFile(path)
      else {
        val n = skipHeaderLines
        val hadoopRdd = spark.sparkContext
          .hadoopFile(path, classOf[org.apache.hadoop.mapred.TextInputFormat],
            classOf[org.apache.hadoop.io.LongWritable], classOf[org.apache.hadoop.io.Text])
          .asInstanceOf[org.apache.spark.rdd.HadoopRDD[
            org.apache.hadoop.io.LongWritable, org.apache.hadoop.io.Text]]
        val lines = hadoopRdd.mapPartitionsWithInputSplit({ (split, it) =>
          val isFileStart =
            split.asInstanceOf[org.apache.hadoop.mapred.FileSplit].getStart == 0L
          val strs = it.map(_._2.toString)
          if (isFileStart) strs.drop(n) else strs
        }, preservesPartitioning = true)
        spark.createDataset(lines)
      }
    fromDataset(ds)
  }

  /** Columnar sources straight into the dataflow layer (scans stay
    * DataSource-planned: pushdown/pruning happen before rows enter the
    * opaque path).
    */
  def readParquet(path: String): PCollection[Row] =
    fromDataFrame(graft.Tables.parquet(spark, path))
  def readCsv(path: String, header: Boolean = true): PCollection[Row] =
    fromDataFrame(spark.read.option("header", header.toString)
      .option("inferSchema", "true").csv(path))
  def readJson(path: String): PCollection[Row] =
    fromDataFrame(spark.read.json(path))
  def readOrc(path: String): PCollection[Row] =
    fromDataFrame(spark.read.orc(path))
  def readAvro(path: String): PCollection[Row] =
    fromDataFrame(graft.sources.AvroIO.read(spark, path))

  /** TFRecord payload bytes into the dataflow layer (container parsing in
    * [[graft.sources.TFRecordIO]]; pair with `TFExample.decode` in a ParDo
    * for feature records).
    */
  def readTFRecords(dir: String): PCollection[Array[Byte]] =
    fromDataset(graft.sources.TFRecordIO.read(spark, dir))

  /** Bridge from any typed Dataset into the dataflow layer. */
  def fromDataset[T](ds: Dataset[T])(implicit e: GEnc[WindowedValue[T]]): PCollection[T] =
    new PCollection[T](this, ds.mapPartitions(_.map(WindowedValue.of))(e.enc), GlobalWindows)

  /** Bridge from a DataFrame (rows in the global window). */
  def fromDataFrame(df: DataFrame): PCollection[Row] = fromDataset(df)

  /** DataFrame rows timestamped from a column (millis derived from a
    * TimestampType col) — entry point for event-time pipelines over tables.
    */
  def fromDataFrameTimestamped(df: DataFrame, tsCol: String): PCollection[Row] = {
    import org.apache.spark.sql.functions._
    // unique helper column name: a pre-existing __graft_ts would be REPLACED
    // in place by withColumn and the drop-by-position below would truncate
    // user columns
    val helper = Iterator.from(0).map(i => s"__graft_ts_$i")
      .find(n => !df.columns.contains(n)).get
    val withTs = df.withColumn(helper, unix_millis(col(tsCol)))
    val enc = kryoWvEncoder[Row]
    val idx = withTs.schema.fieldIndex(helper)
    val tsName = tsCol
    val ds = withTs.mapPartitions { it =>
      it.map { r =>
        if (r.isNullAt(idx))
          throw new IllegalArgumentException(
            s"null event timestamp in column '$tsName' — filter or default nulls first")
        // drop the appended helper column so user rows keep their schema
        WindowedValue.timestamped(Row.fromSeq(r.toSeq.take(idx)), r.getLong(idx))
      }
    }(enc)
    new PCollection[Row](this, ds, GlobalWindows)
  }
}

object Pipeline {
  def apply(spark: SparkSession): Pipeline = new Pipeline(spark)
}
