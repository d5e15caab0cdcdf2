package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated parquet tables (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One filesystem stat of a table path: qualified path, a VERSION
    * token, total content bytes, file count. The version token is the
    * file's mtime for plain files; for directories it folds the MAX
    * child mtime and the child count in (r19, ADVICE r18: a part file
    * overwritten in place can leave the directory's own mtime and the
    * summed length unchanged, so keying on those alone could serve a
    * stale schema/row count). */
  private case class Stat(qual: String, ver: Long, len: Long, nFiles: Long)

  /** Inferred parquet schema per path, validated against the current
    * (version token, length) — a METADATA cache (r18): every
    * `spark.read.parquet(path)` re-reads footers to infer the schema
    * (~50 ms/call), and query CONSTRUCTION in the bench loads each
    * table 3+ times. A rewritten path (probe legs overwrite their
    * corpus dirs) mismatches and replaces its entry (r19, ADVICE r18:
    * one entry per path, not one per rewrite), so this caches no query
    * results — the same class of session metadata cache as Spark's own
    * file-listing cache. */
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, org.apache.spark.sql.types.StructType)]

  private def cachedSchema(spark: SparkSession, st: Stat,
      pathStr: String): org.apache.spark.sql.types.StructType =
    schemaCache.get(st.qual) match {
      case Some((v, l, s)) if v == st.ver && l == st.len => s
      case _ =>
        val s = spark.read.parquet(pathStr).schema
        schemaCache.put(st.qual, (st.ver, st.len, s))
        s
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has carried TIMESTAMP(NANOS) (rejected by the
    // vectorized reader — read nanos as long, narrow to micros) and plain
    // TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ)
    // across driver data generations. Normalize either shape to session-TZ
    // TimestampType (sessions pin UTC) so downstream code sees one type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val pathStr = s"$dir/$name.parquet"
    val df = statOf(spark, pathStr) match {
      case Some(st) =>
        spark.read.schema(cachedSchema(spark, st, pathStr)).parquet(pathStr)
      case None => spark.read.parquet(pathStr) // let Spark raise its error
    }
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType =>
          // Integer division: `/` would promote to double, and epoch nanos
          // (~1.8e18) exceed double's 53-bit exact range (ULP ≈ 256ns).
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else normalizeNtz(df)
  }

  /** Cast any TIMESTAMP_NTZ column to session-TZ TimestampType (UTC): the
    * parquet writer's isAdjustedToUTC flag varies by generator version and
    * every consumer (unix_micros, watermarks, window()) wants LTZ. */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.schema.fields.filter(_.dataType == TimestampNTZType).foldLeft(df) {
      (d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType))
    }
  }

  /** Natural key per table — the hash-repartition column for [[loadP]]. */
  private val naturalKey: Map[String, String] = Map(
    "documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id", "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey", "customer" -> "c_custkey")

  /** [[load]] with a scan-parallelism floor for expression-heavy consumers.
    *
    * A small or unsplittable file (one parquet row group, a gzip blob)
    * scans as a single task, serializing every downstream kernel —
    * minhash, shingling, trigram explode — on one core until the first
    * exchange. When the scan yields fewer than half the cluster's
    * parallelism, hash-repartition on the table's natural key: the rows
    * spread across all cores, and any later per-key aggregation reuses
    * the partitioning instead of shuffling again (hash, not round-robin,
    * also avoids the sort-before-repartition determinism pass). On real
    * multi-file inputs the scan already parallelizes and this is a no-op.
    *
    * r18: the scan-task count is ESTIMATED from file bytes with Spark's
    * own split formula (maxSplitBytes = min(maxPartitionBytes,
    * max(openCostInBytes, bytes/defaultParallelism))) instead of
    * `df.rdd.getNumPartitions`, which paid a full extra
    * analysis+optimization+physical-planning pass per call (~40 ms —
    * per query CONSTRUCTION, 3+ of which the bench runs per query). */
  def loadP(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    val conf = spark.sessionState.conf
    val scanParts = statOf(spark, s"$dir/$name.parquet") match {
      case Some(st) =>
        // match Spark's FilePartition math on multi-file dirs (r19,
        // ADVICE r18): each file is charged openCostInBytes when
        // bin-packed, and a split never spans files, so the estimate
        // adds nFiles*openCost and floors at the file count
        val bytes = st.len + st.nFiles * conf.filesOpenCostInBytes
        val maxSplit = math.min(conf.filesMaxPartitionBytes,
          math.max(conf.filesOpenCostInBytes,
            (bytes + conf.filesOpenCostInBytes) / math.max(1, target)))
        math.max(math.max(1L, st.nFiles),
          (bytes + maxSplit - 1) / math.max(1L, maxSplit))
      case None => 1L
    }
    if (scanParts < (target + 1) / 2)
      df.repartition(target, org.apache.spark.sql.functions.col(
        naturalKey.getOrElse(name, df.columns.head)))
    else df
  }

  /** On-disk parquet bytes of a table — the stats-free scale signal the
    * dedup family's partition sizing derives from (r19): one filesystem
    * stat, no Spark job, no planning pass. None when the path is
    * missing or nested (see [[statOf]]). */
  def byteSize(spark: SparkSession, dir: String, name: String): Option[Long] =
    statOf(spark, s"$dir/$name.parquet").map(_.len)

  /** Exact row count per path, validated against (version token,
    * length) — footer METADATA, same cache class as [[schemaCache]]:
    * parquet footers carry per-row-group counts, so the count needs no
    * Spark job at all (the dedup verdicts' corpus-size gates each paid
    * a count JOB for a number the footers already knew — r19). Any
    * rewrite mismatches and replaces the entry; caches no query
    * results. */
  private val rowCountCache = scala.collection.concurrent.TrieMap
    .empty[String, (Long, Long, Long)]

  def rowCount(spark: SparkSession, dir: String, name: String): Option[Long] =
    statOf(spark, s"$dir/$name.parquet").map { st =>
      rowCountCache.get(st.qual) match {
        case Some((v, l, n)) if v == st.ver && l == st.len => n
        case _ =>
          val conf = spark.sparkContext.hadoopConfiguration
          val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
          val fs = p.getFileSystem(conf)
          val root = fs.getFileStatus(p)
          val files =
            if (root.isDirectory)
              fs.listStatus(p).toSeq.filter(f => f.isFile &&
                f.getPath.getName.endsWith(".parquet"))
            else Seq(root)
          val n = files.iterator.map { f =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
          rowCountCache.put(st.qual, (st.ver, st.len, n))
          n
      }
    }

  /** [[Stat]] of a table path — one filesystem stat (plus one
    * listStatus for directories); None when the path does not exist.
    * Directories report the summed content length so the [[loadP]]
    * split estimate and the cache validators see real bytes, and the
    * version token folds child mtimes + count so an in-place part-file
    * rewrite invalidates even when the dir's own mtime is unchanged.
    * Also None for a directory with subdirectories (a `partitionBy`
    * layout): its top-level files are not the table, so a Stat would
    * under-report rows and bytes — callers then read through Spark and
    * take their counting gates instead of trusting a 0. */
  private def statOf(spark: SparkSession, pathStr: String): Option[Stat] = {
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val st = fs.getFileStatus(p)
      val qual = fs.makeQualified(p).toString
      if (st.isDirectory) {
        val (dirs, children) = fs.listStatus(p).toSeq.partition(_.isDirectory)
        if (dirs.nonEmpty) None
        else {
          val len = children.iterator.map(_.getLen).sum
          val ver = children.iterator.map(_.getModificationTime)
            .foldLeft(st.getModificationTime)(math.max) * 31 + children.size
          Some(Stat(qual, ver, len, math.max(1L, children.size.toLong)))
        }
      } else Some(Stat(qual, st.getModificationTime, st.getLen, 1L))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Register every table as a temp view (for spark.sql use). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
