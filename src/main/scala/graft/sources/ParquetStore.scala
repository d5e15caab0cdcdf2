package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.Pins

/** Keyed mutable table on plain parquet — the engine's S6/S7/S8 sinks
  * (reference server/upload.go:286-313 bulk insert, dnc/dnc.go:223-247
  * centroid UPDATE, server/delete.go:214-288 cascading DELETE) re-expressed
  * for an immutable object store.
  *
  * Layout: rows are hash-bucketed on the primary key into
  * `_bucket=<0..nBuckets-1>` partition directories. Every mutation:
  *   1. computes the buckets its keys touch (tiny driver-side set),
  *   2. reads ONLY those partition directories (partition pruning),
  *   3. merges/filters them into the buckets' new rows,
  *   4. rewrites only those directories via dynamic partition overwrite
  *      ([[rewriteBuckets]]).
  *
  * At 100 TB with nBuckets sized so a bucket is a few GB, a point upsert
  * or delete rewrites a handful of directories, never the table. Child
  * tables bucketed with the SAME hash on the FK column are co-partitioned:
  * a cascade delete touches exactly the matching child buckets.
  *
  * `schema` is the stored columns, when the caller knows them (say, the
  * store's only writer). Reads and rewrites then skip the Spark job that
  * merges every part file's footer. Without it they merge footers, so
  * buckets written before a column was added still read, missing columns
  * as null; a known schema that is a superset of older files' columns
  * reads them the same way.
  *
  * A mutation whose keys are a driver-local frame (a `LocalRelation`, as
  * `Seq(...).toDF` builds) learns its touched buckets from a projection
  * the optimizer folds into that relation, so it runs no job for them;
  * any other frame runs one distinct job.
  *
  * A caller that holds the whole store on the driver (the server's
  * corpus) skips the read: [[replaceBuckets]] writes the touched
  * buckets' new rows straight from the driver in one Spark job, with no
  * pin and no scan, placing each row by [[buckets]], the same `bucketOf`
  * expression evaluated on the driver.
  */
final case class ParquetStore(path: String, keyCol: String, nBuckets: Int = 64,
    schema: Option[StructType] = None) {

  private def bucketOf(key: Column): Column = pmod(xxhash64(key), lit(nBuckets))

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("_bucket", bucketOf(col(keyCol)))

  private def dynamicOverwrite[A](spark: SparkSession)(body: => A): A = {
    val k = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "dynamic")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  /** Full (re)materialization. */
  def create(df: DataFrame): Unit =
    withBucket(df).write.mode("overwrite").option("compression", "zstd").partitionBy("_bucket").parquet(path)

  /** Every stored row with its `_bucket` column. */
  private def stored(spark: SparkSession): DataFrame =
    (schema match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.option("mergeSchema", "true")
    }).parquet(path)

  /** The stored rows, without the bucket column. With a known `schema`
    * the read costs only a file listing; without it, one footer-merging
    * Spark job. */
  def read(spark: SparkSession): DataFrame = stored(spark).drop("_bucket")

  /** The distinct buckets of `keyed`'s `_bucket` column, and the frame's
    * rows when it is driver-local (collecting those runs no job). */
  private def touchedBy(keyed: DataFrame): (Seq[Long], Option[Array[Row]]) =
    keyed.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val rows = keyed.collect()
        (rows.map(_.getAs[Long]("_bucket")).distinct.toSeq, Some(rows))
      case _ =>
        (keyed.select("_bucket").distinct().collect().map(_.getLong(0)).toSeq, None)
    }

  /** S7 update sink (MERGE-on-key): rows in `updates` replace same-key
    * rows; unmatched keys are inserted. Only touched buckets rewrite.
    * With driver-local updates and a known `schema` it runs three Spark
    * jobs: the merge's shuffle and pin, and the write. */
  def upsert(updates: DataFrame): Unit = {
    val up = withBucket(updates).withColumn("_new", lit(1))
    val (touched, _) = touchedBy(up)
    rewriteBuckets(updates.sparkSession, touched) { existing =>
      val w = Window.partitionBy(col(keyCol)).orderBy(col("_new").desc)
      // allowMissingColumns: an upsert may carry columns the stored rows
      // predate (schema evolution) or omit stored ones (nulls fill in)
      existing.withColumn("_new", lit(0))
        .unionByName(up, allowMissingColumns = true)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_new")
    }
  }

  /** S8 delete sink: drop rows whose KEY matches `keys` (first column);
    * only their buckets rewrite. Driver-local keys filter the survivors
    * with an IN list, and with a known `schema` the delete runs two
    * Spark jobs, the pin and the write; any other key frame anti-joins.
    * Deleting every row leaves the store readable (see
    * [[rewriteBuckets]]). A store with no bucket on disk (never written,
    * or emptied) holds nothing to delete: the call returns before any
    * job runs. */
  def deleteKeys(keys: DataFrame): Unit = {
    if (!isInitialized) return
    val k = keys.columns.head
    val del = keys.select(col(k).as(keyCol), bucketOf(col(k)).as("_bucket"))
    val (touched, local) = touchedBy(del)
    rewriteBuckets(keys.sparkSession, touched) { existing =>
      local match {
        case Some(rows) => existing.filter(!col(keyCol).isin(rows.map(_.get(0)).toSeq: _*))
        case None => existing.join(del.select(keyCol), Seq(keyCol), "left_anti")
      }
    }
  }

  /** The bucket rewrite behind upsert, delete and compact: `merge` turns
    * the rows of the `touched` buckets into their new contents, which are
    * pinned, then written by [[writeBuckets]]. */
  private def rewriteBuckets(spark: SparkSession, touched: Seq[Long])(
      merge: DataFrame => DataFrame): Unit = {
    if (touched.isEmpty) return
    writeBuckets(spark, touched,
      Pins.pin(merge(stored(spark).filter(col("_bucket").isin(touched: _*)))))
  }

  /** The bucket `bucketOf` puts each key in, with no Spark job: the
    * expression is analyzed once against the declared key column and
    * evaluated on the driver, so a key lands where a write puts it. */
  def buckets(spark: SparkSession, keys: Seq[Any]): Seq[Long] = {
    val key = declared(keyCol)
    val plan = spark.createDataFrame(java.util.List.of[Row](), StructType(Seq(key)))
      .select(bucketOf(col(keyCol))).queryExecution.analyzed
    val bound = BindReferences.bindReference(
      plan.expressions.head.asInstanceOf[NamedExpression], plan.children.head.output)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(key.dataType)
    keys.map(k => bound.eval(InternalRow(toCatalyst(k))).asInstanceOf[Long])
  }

  /** Replaces the buckets that `keys` fall in with the rows of `rows`
    * that fall in them, from the driver: `rows` is the store's whole new
    * contents (or at least all of it in those buckets), each row in the
    * declared `schema`'s column order, so an upsert passes the held rows
    * plus the new ones and a delete passes them without the doomed keys.
    * No pin and no scan: the buckets' rows are written as a local
    * relation, one file per bucket, by [[writeBuckets]], in one Spark job
    * (a second writes the zero-row file when the store ends up empty).
    * On a store with no bucket on disk the rows are its creation. Needs
    * the declared `schema`. */
  def replaceBuckets(spark: SparkSession, keys: Iterable[Any], rows: Iterable[Row]): Unit = {
    val (ks, all) = (keys.toSeq, rows.toSeq)
    if (ks.isEmpty) return
    val k = declared.fieldIndex(keyCol)
    val (keyBuckets, rowBuckets) = buckets(spark, ks ++ all.map(_.get(k))).splitAt(ks.size)
    val touched = keyBuckets.toSet
    val kept = all.zip(rowBuckets).collect {
      case (r, b) if touched(b) => Row.fromSeq(r.toSeq :+ b)
    }
    val contents = spark.createDataFrame(kept.asJava, declared.add("_bucket", LongType))
      .coalesce(1)
    if (isInitialized) writeBuckets(spark, touched.toSeq, contents)
    else if (kept.nonEmpty) create(contents.drop("_bucket"))
  }

  private def declared: StructType = schema.getOrElse(
    throw new IllegalStateException(s"store $path declares no schema"))

  /** The write tail of every bucket rewrite: `contents` (the touched
    * buckets' new rows with their `_bucket`) go out by dynamic partition
    * overwrite. That write stages its files and swaps a bucket's
    * directory only when the job commits, so a failed write leaves the
    * store as it was. It replaces only the buckets present in its output,
    * so a bucket whose rows were ALL deleted keeps its old files through
    * the commit; those directories are removed after it (a crash in
    * between leaves the doomed rows, which the same delete removes on a
    * retry). When the store ends up empty, one zero-row file carrying the
    * schema keeps it readable (parquet cannot infer a schema from a bare
    * _SUCCESS marker). */
  private def writeBuckets(spark: SparkSession, touched: Seq[Long], contents: DataFrame): Unit = {
    def files(b: Long): Set[String] =
      Option(new java.io.File(s"$path/_bucket=$b").list()).fold(Set.empty[String])(_.toSet)
    val before = touched.map(b => b -> files(b))
    dynamicOverwrite(spark) {
      contents.write.mode("overwrite").option("compression", "zstd").partitionBy("_bucket").parquet(path)
    }
    // an overwritten bucket holds only new files: one still holding an
    // old file got no output rows
    val conf = spark.sparkContext.hadoopConfiguration
    for ((b, old) <- before if (files(b) & old).nonEmpty) {
      val dir = new org.apache.hadoop.fs.Path(s"$path/_bucket=$b")
      dir.getFileSystem(conf).delete(dir, true)
    }
    if (bucketDirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 1),
        StructType(contents.schema.filterNot(_.name == "_bucket")))
        .write.mode("append").option("compression", "zstd").parquet(path)
  }

  /** Small-file compaction: buckets holding `minFiles`+ parquet parts
    * rewrite into a single file each — buckets under the threshold keep
    * their files untouched. A write lands one file per (task, bucket),
    * so a store created from many input partitions holds several files
    * per bucket, and every read pays an open() per file, until
    * compaction restores one-file-per-bucket (the relational twin of
    * [[IvfBinarySource.compact]]). Offline operation: not safe
    * concurrently with writers. Returns # buckets rewritten. */
  def compact(spark: SparkSession, minFiles: Int = 2): Long = {
    val crowded = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("_bucket="))
      .filter(_.listFiles().count(_.getName.endsWith(".parquet")) >= minFiles)
      .map(_.getName.stripPrefix("_bucket=").toLong)
    // one shuffle partition per crowded bucket → one output file per
    // dir (a hash collision folds two buckets into one task; each dir
    // still receives exactly one file, written by that task)
    rewriteBuckets(spark, crowded.toSeq)(_.repartition(crowded.length, col("_bucket")))
    crowded.length.toLong
  }

  /** True once the store has been materialized on disk. */
  def isInitialized: Boolean = bucketDirs.nonEmpty

  /** First write creates the store; later writes merge on the key. */
  def upsertOrCreate(df: DataFrame): Unit =
    if (isInitialized) upsert(df) else create(df)

  /** Bucket directories currently on disk (test/inspection hook). */
  def bucketDirs: Set[String] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSet
}

object ParquetStore {

  /** S8 cascading delete across an ownership tree (reference FK cascade,
    * database/model.go:32,45): delete parents matching `parentPred`, then
    * delete the children holding their FKs. Parent and child stores
    * bucketed with the same hash are co-partitioned, so the child pass
    * touches exactly the buckets of the deleted keys. */
  def cascadeDelete(spark: SparkSession, parent: ParquetStore,
      child: ParquetStore, parentPred: Column): Unit = {
    val doomed = Pins.pin(parent.read(spark).filter(parentPred).select(col(parent.keyCol)))
    parent.deleteKeys(doomed)
    child.deleteKeys(doomed.withColumnRenamed(parent.keyCol, child.keyCol))
  }
}
