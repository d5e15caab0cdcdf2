package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** Keyed mutable table on plain parquet — the engine's S6/S7/S8 sinks
  * (reference server/upload.go:286-313 bulk insert, dnc/dnc.go:223-247
  * centroid UPDATE, server/delete.go:214-288 cascading DELETE) re-expressed
  * for an immutable object store.
  *
  * Layout: rows are hash-bucketed on the primary key into
  * `_bucket=<0..nBuckets-1>` partition directories. Every mutation:
  *   1. computes the buckets its keys touch (tiny driver-side set),
  *   2. reads ONLY those partition directories (partition pruning),
  *   3. merges/filters in one shuffle bounded by the touched buckets,
  *   4. rewrites only those directories via dynamic partition overwrite.
  *
  * At 100 TB with nBuckets sized so a bucket is a few GB, a point upsert
  * or delete rewrites a handful of directories, never the table. Child
  * tables bucketed with the SAME hash on the FK column are co-partitioned:
  * a cascade delete touches exactly the matching child buckets.
  */
final case class ParquetStore(path: String, keyCol: String, nBuckets: Int = 64) {

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

  /** The stored rows, without the bucket column. With no `schema`, the
    * read merges every part file's footer (one Spark job) so buckets
    * written before a column was added still read, missing columns as
    * null. A caller that already knows the columns — say, from an earlier
    * read of a store only it writes — passes them as `schema` and the
    * read costs only a file listing. */
  def read(spark: SparkSession, schema: Option[StructType] = None): DataFrame =
    (schema match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.option("mergeSchema", "true")
    }).parquet(path).drop("_bucket")

  /** S6 insert sink: append — new files land in their key's bucket dirs,
    * no existing file is touched. */
  def append(df: DataFrame): Unit =
    withBucket(df).write.mode("append").option("compression", "zstd").partitionBy("_bucket").parquet(path)

  /** S7 update sink (MERGE-on-key): rows in `updates` replace same-key
    * rows; unmatched keys are inserted. Only touched buckets rewrite. */
  def upsert(updates: DataFrame): Unit = {
    val spark = updates.sparkSession
    val up = withBucket(updates).withColumn("_new", lit(1))
    val touched = up.select("_bucket").distinct().collect().map(_.getLong(0))
    if (touched.isEmpty) return // empty update: nothing to merge or rewrite
    val existing = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col("_bucket").isin(touched: _*))
      .withColumn("_new", lit(0))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_new").desc)
    // allowMissingColumns: an upsert may carry columns the stored rows
    // predate (schema evolution) or omit stored ones (nulls fill in)
    val merged = existing.unionByName(up, allowMissingColumns = true)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_new")
    // the merged frame reads from the directories being overwritten —
    // break the dependency before the dynamic overwrite
    val snapshot = merged.localCheckpoint(true)
    dynamicOverwrite(spark) {
      snapshot.write.mode("overwrite").option("compression", "zstd").partitionBy("_bucket").parquet(path)
    }
  }

  /** S8 delete sink: drop rows whose KEY matches `keys`; only their
    * buckets rewrite. Touched bucket directories are cleared explicitly
    * BEFORE the survivors land: dynamic partition overwrite only
    * replaces partitions present in the write, so a bucket whose rows
    * are ALL doomed would emit no output partition and its stale files
    * would silently survive the delete. */
  def deleteKeys(keys: DataFrame): Unit = {
    val spark = keys.sparkSession
    val k = keys.columns.head
    val del = keys.withColumn("_bucket", bucketOf(col(k)))
    val touched = del.select("_bucket").distinct().collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val existing = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col("_bucket").isin(touched: _*))
    val kept = existing.join(del.select(col(k).as(keyCol)), Seq(keyCol), "left_anti")
    // materialize the survivors BEFORE their source directories vanish
    val snapshot = kept.localCheckpoint(true)
    val schema = org.apache.spark.sql.types.StructType(
      snapshot.schema.filterNot(_.name == "_bucket"))
    val conf = spark.sparkContext.hadoopConfiguration
    touched.foreach { b =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/_bucket=$b")
      dir.getFileSystem(conf).delete(dir, true)
    }
    snapshot.write.mode("append").option("compression", "zstd").partitionBy("_bucket").parquet(path)
    if (bucketDirs.isEmpty) {
      // the delete emptied the store: land one zero-row file carrying
      // the schema so the store stays readable (parquet cannot infer a
      // schema from a bare _SUCCESS marker)
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
        schema).write.mode("append").option("compression", "zstd").parquet(path)
    }
  }

  /** Small-file compaction: buckets holding `minFiles`+ parquet parts
    * rewrite into a single file each via the same dynamic partition
    * overwrite as upsert — buckets under the threshold keep their
    * files untouched. Streaming upsert/append lands one file per
    * (micro-batch, bucket), so per-bucket file count — and every
    * read's open() cost — grows with batch count until compaction
    * restores one-file-per-bucket (the relational twin of
    * [[IvfBinarySource.compact]]). Offline operation: not safe
    * concurrently with writers. Returns # buckets rewritten. */
  def compact(spark: SparkSession, minFiles: Int = 2): Long = {
    val crowded = Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("_bucket="))
      .filter(_.listFiles().count(_.getName.endsWith(".parquet")) >= minFiles)
      .map(_.getName.stripPrefix("_bucket=").toLong)
    if (crowded.isEmpty) return 0L
    // one shuffle partition per crowded bucket → one output file per
    // dir (a hash collision folds two buckets into one task; each dir
    // still receives exactly one file, written by that task)
    val rows = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col("_bucket").isin(crowded: _*))
      .repartition(crowded.length, col("_bucket"))
    val snapshot = rows.localCheckpoint(true)
    dynamicOverwrite(spark) {
      snapshot.write.mode("overwrite").option("compression", "zstd")
        .partitionBy("_bucket").parquet(path)
    }
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
    val doomed = parent.read(spark).filter(parentPred)
      .select(col(parent.keyCol)).localCheckpoint(true)
    parent.deleteKeys(doomed)
    child.deleteKeys(doomed.withColumnRenamed(parent.keyCol, child.keyCol))
  }
}
