package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.VectorKernels

/** DataSource V2 connector for the engine's quantized IVF index, stored in
  * the reference's spill-file layout: fixed-width binary rows of
  * `[8B little-endian vec_id][dim+8 bytes quantized vector]`
  * (reference dnc/dataset.go:19-166 — `(8+dim)`-byte rows, buffered
  * sequential IO; our rows carry the 8-byte min/max quantization header of
  * compute/quantization.go:71-102 inside the vector field).
  *
  * Directory layout is one subdirectory per IVF list
  * (`list=<centroid_id>/part-*.bin`), which makes nprobe search a
  * *connector-level* partition prune: `centroid_id` Equal/In filters are
  * pushed into [[IvfScanBuilder]] and non-probed directories are never
  * opened — the 100 TB property that scan cost follows nprobe, not corpus
  * size. A second prune axis is the per-file vec_id zone map sealed into
  * part-file names: `vec_id` range/equality/IN conjuncts skip files whose
  * id range excludes them (see [[idStats]]), which is what makes delete
  * discovery and id point-reads touch files ∝ the id span, not the index.
  * Column pruning is honoured too: a scan that needs no `qvec`
  * skips the vector bytes, and a `centroid_id`-only scan (per-list counts)
  * reads NO row bytes at all — row count is file_size / row_width.
  *
  * Schema: `vec_id BIGINT, qvec BINARY, centroid_id INT`.
  *
  * All IO goes through the Hadoop `FileSystem` API, so the same connector
  * serves local file://, HDFS, or object stores; executors open only the
  * files of their own input partitions.
  */
class IvfBinarySource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IvfBinarySource.SCHEMA
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new IvfTable(properties.get("path"))
}

object IvfBinarySource {
  val SCHEMA: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("qvec", BinaryType, nullable = false),
    StructField("centroid_id", IntegerType, nullable = false)))

  val FORMAT = "graft.sources.IvfBinarySource"

  /** Rows are [8B LE id][dim+8 quantized]; dim is recorded once at the
    * index root (the reference re-derives it by probing a row's byte
    * length, ai/aicomms/embed.go:52-54 — a root meta file avoids the
    * probe read on every open). */
  private[sources] def rowWidth(dim: Int): Int = 8 + dim + 8

  // Per-file vec_id zone map, encoded IN THE FILE NAME
  // (`part-….ids=<min>_<max>.bin`): stats travel with the directory
  // listing the planner already caches, so id-based file skipping costs
  // zero extra IO — no sidecar open per file, which matters on object
  // stores where every stat is a round-trip. Files without the segment
  // (legacy / foreign) simply never skip.
  private val StatsRe = raw".*\.ids=(-?\d+)_(-?\d+)\.bin$$".r
  private[graft] def idStats(name: String): Option[(Long, Long)] =
    name match {
      case StatsRe(a, b) => Some((a.toLong, b.toLong))
      case _ => None
    }
  private[graft] def statsName(base: String, mn: Long, mx: Long): String =
    base.stripSuffix(".bin") + s".ids=${mn}_${mx}.bin"

  /** Rename a just-closed part file to carry its vec_id zone map. Rename
    * failure (exotic FS) is non-fatal: the plain name stays, the file
    * just never skips. Returns the live path. */
  private[sources] def sealStats(efs: FileSystem, f: Path, mn: Long,
      mx: Long): Path = {
    val named = new Path(f.getParent, statsName(f.getName, mn, mx))
    if (efs.rename(f, named)) named else f
  }

  // one per JVM: building a Configuration loads Hadoop's default
  // resources again, which costs milliseconds per file-system lookup
  private lazy val hadoopConf = new Configuration()

  private[sources] def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private[sources] def readDim(path: String): Int = {
    val meta = new Path(path, "_dim")
    val mfs = fs(meta)
    val st = mfs.getFileStatus(meta)
    val cached = dimCache.get(path)
    if (cached != null && cached._1 == st.getModificationTime) return cached._2
    val in = mfs.open(meta)
    val dim =
      try {
        val buf = new Array[Byte](32)
        val sb = new StringBuilder
        var n = in.read(buf)
        while (n > 0) { sb.appendAll(buf.map(_.toChar), 0, n); n = in.read(buf) }
        sb.toString.trim.toInt
      } finally in.close()
    dimCache.put(path, (st.getModificationTime, dim))
    dim
  }

  // Driver-side planning caches — the connector's analogue of parquet's
  // InMemoryFileIndex: per-list-dir file listings keyed by dir mtime
  // (appending a part file bumps the dir mtime → refresh), and the _dim
  // read keyed by the meta file's mtime. Serving issues many point scans
  // against one index; without this every scan re-lists probed dirs.
  private val dimCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()
  private[graft] val dirCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[(String, Long)])]()

  private[sources] def listBinFiles(rootFs: FileSystem, dir: Path,
      mtime: Long): Array[(String, Long)] = {
    val key = dir.toString
    val cached = dirCache.get(key)
    if (cached != null && cached._1 == mtime) return cached._2
    val files = rootFs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".bin"))
      .sortBy(_.getPath.getName)
      .map(st => st.getPath.toString -> st.getLen)
    dirCache.put(key, (mtime, files))
    files
  }

  /** Write an assigned index (float vectors + centroid_id) as a binary
    * spill-file index. Quantization happens here, executor-side, one pass.
    * The frame is repartitioned by list so each (task, list) pair emits
    * one `part-<task>.bin` — append-friendly and deterministic row count
    * per file. */
  def write(assigned: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val root = new Path(path)
    val rootFs = fs(root)
    if (rootFs.exists(root)) rootFs.delete(root, true)
    rootFs.mkdirs(root)
    val first = assigned.select(vecCol).take(1)
    val dim = if (first.isEmpty) 0 else first(0).getSeq[Float](0).length
    val meta = rootFs.create(new Path(root, "_dim"), true)
    try meta.write(dim.toString.getBytes) finally meta.close()
    if (first.isEmpty) return // empty index: meta file only, zero lists
    val rows = assigned.select(
      col(idCol).cast("long"), col(vecCol), col("centroid_id").cast("int"))
    // one shuffle on the list key → each list's bytes are written by few
    // tasks; skewed (hot-list) writes stay append-parallel across tasks
    rows.repartition(col("centroid_id")).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val efs = fs(new Path(path))
        val streams = scala.collection.mutable.Map[Int, OpenPart]()
        val head = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        try {
          it.foreach { r =>
            val cid = r.getInt(2)
            val id = r.getLong(0)
            val p = streams.getOrElseUpdate(cid, {
              val d = new Path(path, s"list=$cid")
              efs.mkdirs(d)
              val f = new Path(d, f"part-$pid%05d.bin")
              OpenPart(new BufferedOutputStream(efs.create(f, true)), f)
            })
            p.see(id)
            head.clear(); head.putLong(id)
            p.out.write(head.array())
            p.out.write(VectorKernels.quantize(r.getSeq[Float](1).toArray))
          }
        } finally streams.values.foreach { p =>
          p.out.close(); sealStats(efs, p.path, p.mn, p.mx)
        }
    }
  }

  /** An open part file plus its running vec_id range (sealed into the
    * file name on close — see [[sealStats]]). */
  private[sources] case class OpenPart(out: BufferedOutputStream, path: Path) {
    var mn: Long = Long.MaxValue
    var mx: Long = Long.MinValue
    def see(id: Long): Unit = {
      if (id < mn) mn = id
      if (id > mx) mx = id
    }
  }

  /** nprobe search straight off the binary index: connector-level list
    * pruning + fused dequantize·cosine kernel, top-k tie-broken
    * (sim DESC, id ASC). */
  def search(spark: SparkSession, path: String, model: graft.index.IvfIndex.Model,
      query: Array[Float], k: Int, nprobe: Int): DataFrame =
    search(spark.read.format(FORMAT).load(path), model, query, k, nprobe)

  /** Serving-path variant over a pre-loaded index frame: reuse one
    * `load(path)` across requests (the parquet path gets the same
    * treatment via its cached FileIndex — per-request relation rebuild
    * is pure overhead in both layouts). */
  def search(index: DataFrame, model: graft.index.IvfIndex.Model,
      query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    import graft.functions.gf
    val probeIds = model.probe(query, nprobe).map(_.asInstanceOf[Any])
    index
      .filter(col("centroid_id").isin(probeIds: _*))
      .select(col("vec_id"),
        gf.cosine_sim_q(col("qvec"), lit(VectorKernels.quantize(query))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Small-file compaction: every list directory holding more than one
    * part file is rewritten into a single sequential file, one task per
    * list. Streaming ingest appends one file per (micro-batch, list), so
    * the per-list file count — and the open() cost every probe pays —
    * grows linearly with batches; compaction restores the
    * one-stream-per-list read the layout is built for. Offline operation
    * (not safe concurrently with writers, safe against its OWN task
    * retries — see [[rewriteLists]]); the swap makes the merged file
    * visible BEFORE the old ones disappear, so a crash mid-swap can
    * duplicate rows but never lose them. Returns # lists compacted. */
  def compact(spark: SparkSession, path: String): Long =
    rewriteLists(spark, path, minFiles = 2, drop = _ => false, only = None)

  /** Targeted document deletion — the index half of the reference's
    * document DELETE cascade (server/delete.go:214-288;
    * ParquetStore.cascadeDelete owns the relational half), for ids the
    * driver holds. Drops every row whose `vec_id / base` is in `docIds`,
    * with `base` the ingest path's vec id encoding (vec_id =
    * doc_id·base + chunk_id, [[graft.streaming.Streams.ChunkVecIdBase]];
    * `base` 1 deletes by vec id). The doc ids map to the contiguous
    * envelope [min·base, max·base + base − 1], so the zone maps skip every
    * file outside it. Two Spark jobs: one discovery job scans `vec_id` and
    * `centroid_id` only (no vector bytes) inside the envelope, and each
    * task returns the distinct lists its doomed rows sit in — no shuffle,
    * and no vec id reaches the driver. Then one rewrite job streams ONLY
    * those lists, dropping the doomed rows ([[rewriteLists]]); an id the
    * index does not hold rewrites nothing. A caller that already knows
    * which `lists` hold the ids' rows (a driver-held copy of the index)
    * passes them: then there is no discovery job, and those lists are
    * rewritten on the driver by the same replayable [[rewriteOneList]],
    * so the delete runs no Spark job. Ids too many for the driver take
    * the DataFrame form below. Returns # rows deleted, the before/after
    * row-count delta over the touched lists (file sizes ÷ row width),
    * which stays exact under task retries. */
  def deleteDocs(spark: SparkSession, path: String, docIds: Set[Long],
      base: Long, lists: Option[Set[Int]] = None): Long = {
    val root = new Path(path)
    val rootFs = fs(root)
    if (docIds.isEmpty || !rootFs.exists(root)) return 0L
    val doomed: Long => Boolean = vid => docIds.contains(vid / base)
    val affected = lists.getOrElse {
      val bc = spark.sparkContext.broadcast(doomed)
      spark.read.format(FORMAT).load(path)
        .select("vec_id", "centroid_id")
        .filter(col("vec_id").between(docIds.min * base, docIds.max * base + (base - 1)))
        .queryExecution.toRdd
        .mapPartitions { rows =>
          val cids = scala.collection.mutable.Set[Int]()
          rows.foreach(r => if (bc.value(r.getLong(0))) cids += r.getInt(1))
          cids.iterator
        }
        .collect().toSet
    }
    if (affected.isEmpty) return 0L
    val width = rowWidth(readDim(path)).toLong
    val before = rowsIn(rootFs, root, width, affected)
    rewriteLists(spark, path, minFiles = 1, drop = doomed, only = Some(affected),
      onDriver = lists.isDefined)
    before - rowsIn(rootFs, root, width, affected)
  }

  /** Exact row count over selected lists from file sizes ÷ row width.
    * Direct listing, not the mtime cache: correctness of delete's
    * before/after delta must not depend on mtime granularity. */
  private def rowsIn(rootFs: FileSystem, root: Path, width: Long,
      lists: Set[Int]): Long =
    listDirs(rootFs, root, Some(lists)).map { case (_, d, _) =>
      rootFs.listStatus(d).filter(_.getPath.getName.endsWith(".bin"))
        .map(_.getLen / width).sum
    }.sum

  /** [[deleteDocs]] for doomed doc ids held in a DataFrame (first
    * column, castable to long) — the tenant-scale path: the id set never
    * reaches the driver, so a delete can doom millions of rows. The caller
    * passes the ids' envelope `[lo, hi]` (so the vec_id zone maps skip
    * every file outside [lo·base, hi·base + base − 1]) and sizes the frame
    * for the semi join (a broadcast hint when the ids are few,
    * [[graft.operators.DedupOps.gateKnown]]). One scan of `vec_id` and
    * `centroid_id` inside the envelope builds one doom set per list; only
    * the affected list ids come back to the driver, for the file listing.
    * Each doom set meets its list's rewrite task through a centroid-keyed
    * join, so a task holds one list's doomed vec ids, never the sweep's.
    * Returns # rows deleted. */
  def deleteDocs(spark: SparkSession, path: String, docIds: DataFrame,
      lo: Long, hi: Long, base: Long): Long = {
    val root = new Path(path)
    val rootFs = fs(root)
    if (!rootFs.exists(root)) return 0L
    import org.apache.spark.sql.functions.{collect_set, expr}
    val ids = docIds.select(col(docIds.columns.head).cast("long").as("_doomed_doc"))
    val perList = spark.read.format(FORMAT).load(path)
      .select("vec_id", "centroid_id")
      .filter(col("vec_id").between(lo * base, hi * base + (base - 1)))
      .join(ids, expr(s"vec_id div $base") === col("_doomed_doc"), "left_semi")
      .groupBy("centroid_id").agg(collect_set("vec_id").as("doomed"))
      .persist()
    try {
      val affected = perList.select("centroid_id").collect().map(_.getInt(0)).toSet
      if (affected.isEmpty) return 0L
      val width = rowWidth(readDim(path))
      val before = rowsIn(rootFs, root, width.toLong, affected)
      val work = listDirs(rootFs, root, Some(affected)).map { case (cid, d, mtime) =>
        (cid, listBinFiles(rootFs, d, mtime).map(_._1).toSeq)
      }.toSeq
      spark.sparkContext.parallelize(work,
          math.min(work.size, spark.sparkContext.defaultParallelism))
        .join(perList.rdd.map(r => (r.getInt(0), r.getSeq[Long](1))))
        .foreach { case (cid, (files, doomed)) =>
          rewriteOneList(path, cid, files, doomed.toSet, width)
        }
      forget(rootFs, root, work.map(_._1))
      before - rowsIn(rootFs, root, width.toLong, affected)
    } finally perList.unpersist()
  }

  // a driver append's task id: negative, so no Spark task's part name
  // (`part-<partition>-<task id>`) can match it, and seeded from the clock,
  // so a restarted server does not reuse one
  private val driverAppends = new java.util.concurrent.atomic.AtomicLong(
    -System.currentTimeMillis() * 1000)

  /** Appends `rows` (`vec_id`, `qvec`, `centroid_id`: [[SCHEMA]], vectors
    * already quantized) to the index at `path` from the driver, with no
    * Spark job: the same task writer a Spark append runs
    * ([[IvfDataWriter]]) writes one sealed part file per list, named by a
    * driver-unique task id, and `_dim` is written as the batch write's
    * commit writes it. */
  def appendLocal(path: String, rows: Seq[org.apache.spark.sql.Row]): Unit = {
    val root = new Path(path)
    val rootFs = fs(root)
    rootFs.mkdirs(root)
    val w = new IvfDataWriter(path, SCHEMA, 0, driverAppends.decrementAndGet())
    val msg = try {
      rows.foreach(r => w.write(InternalRow(r.getLong(0), r.getAs[Array[Byte]](1), r.getInt(2))))
      w.commit()
    } catch { case e: Throwable => w.abort(); throw e }
    commitDim(path, Seq(msg))
    forget(rootFs, root, rows.map(_.getInt(2)).distinct)
  }

  /** The batch write's commit: records the vector width the writers
    * reported in `_dim`. */
  private[sources] def commitDim(path: String, messages: Seq[WriterCommitMessage]): Unit = {
    val dims = messages.collect { case IvfCommit(d) if d > 0 => d }
    val root = new Path(path)
    val rootFs = fs(root)
    val metaP = new Path(root, "_dim")
    // an all-empty append batch (streaming idle tick) must not clobber
    // an existing dim with 0
    if (dims.isEmpty && rootFs.exists(metaP)) return
    val dim = if (dims.isEmpty) 0 else dims.max
    val out = rootFs.create(metaP, true)
    try out.write(dim.toString.getBytes) finally out.close()
  }

  /** Drops the planning cache's listings of `lists`, which a rewrite or
    * an append changed on disk, rather than trusting mtime granularity to
    * do it. The cache is keyed by the qualified directory that
    * [[listDirs]] lists. */
  private def forget(rootFs: FileSystem, root: Path, lists: Iterable[Int]): Unit =
    lists.foreach(cid => dirCache.remove(rootFs.makeQualified(new Path(root, s"list=$cid")).toString))

  /** List-directory enumeration shared by scan planning and maintenance:
    * (centroid_id, dir, mtime) for every `list=` dir surviving `only`. */
  private[sources] def listDirs(rootFs: FileSystem, root: Path,
      only: Option[Set[Int]]): Array[(Int, Path, Long)] =
    if (!rootFs.exists(root)) Array.empty
    else rootFs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("list="))
      .map(st => (st.getPath.getName.stripPrefix("list=").toInt, st.getPath,
        st.getModificationTime))
      .filter { case (cid, _, _) => only.forall(_.contains(cid)) }

  /** Shared rewrite engine for [[compact]] and the deletes: each
    * selected list's part files stream into one new file, dropping the
    * rows `drop` accepts.
    * Idempotent under Spark task retries / speculation: the merged file's
    * name is a pure function of the input file set, so a second attempt
    * either finds it already swapped in (and only finishes deleting
    * leftovers) or loses the rename race and discards its own bytes;
    * input files that a prior attempt already deleted are skipped.
    * `onDriver` runs the rewrites in the calling thread instead of a
    * Spark job. Returns # lists rewritten. */
  private def rewriteLists(spark: SparkSession, path: String, minFiles: Int,
      drop: Long => Boolean, only: Option[Set[Int]], onDriver: Boolean = false): Long = {
    val root = new Path(path)
    val rootFs = fs(root)
    if (!rootFs.exists(root)) return 0L
    val width = rowWidth(readDim(path))
    val work = listDirs(rootFs, root, only)
      .map { case (cid, d, mtime) =>
        (cid, listBinFiles(rootFs, d, mtime).map(_._1).toSeq)
      }
      .filter(_._2.size >= minFiles)
      .toSeq
    if (work.isEmpty) return 0L
    if (onDriver) work.foreach { case (cid, files) =>
      rewriteOneList(path, cid, files, drop, width)
    } else {
      val bc = spark.sparkContext.broadcast(drop)
      spark.sparkContext
        .parallelize(work, math.min(work.size, spark.sparkContext.defaultParallelism))
        .foreach { case (cid, files) =>
          rewriteOneList(path, cid, files, bc.value, width)
        }
    }
    forget(rootFs, root, work.map(_._1))
    work.size.toLong
  }

  /** One list's rewrite — the task body of [[rewriteLists]], executed on
    * an executor and REPLAYABLE: any prefix of a previous attempt's
    * side effects (partial deletes, a completed swap) leads a re-run to
    * the same final state with no duplicated rows. `drop` picks the rows
    * to leave out; a `Set[Long]` of vec ids is one. Package-private so the
    * retry contract is unit-testable without staging task failures. */
  private[graft] def rewriteOneList(path: String, cid: Int,
      files: Seq[String], drop: Long => Boolean, width: Int): Unit = {
    val d = new Path(path, s"list=$cid")
    val efs = fs(d)
    // deterministic target name = hash of the input file set → a task
    // retry reproduces the same swap instead of adding a second copy.
    // The visible name ALSO carries the kept rows' vec_id zone map
    // (ids=min_max) so a rewritten list keeps skipping — and that range
    // is itself a pure function of (files, drop), so the name stays
    // retry-stable; "already swapped" is a base-name prefix test since
    // the range isn't known before the merge reads the rows.
    val gen = java.security.MessageDigest.getInstance("MD5")
      .digest(files.sorted.mkString("\n").getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString
    val base = s"part-00000-rw$gen"
    val swapped = Option(efs.globStatus(new Path(d, base + "*.bin")))
      .getOrElse(Array.empty).map(_.getPath).toSet
    if (swapped.nonEmpty) {
      // a prior attempt already swapped: only finish the cleanup
      files.foreach { f =>
        val p = new Path(f)
        if (!swapped.contains(p) && efs.exists(p)) efs.delete(p, false)
      }
    } else {
      val tmp = new Path(d, s"$base.tmp-" +
        java.util.UUID.randomUUID().toString.take(8))
      val out = new BufferedOutputStream(efs.create(tmp, true), 1 << 16)
      val rowBuf = new Array[Byte](width)
      var kept = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      try {
        // inputs deleted by a previous partial attempt are skipped —
        // their rows live in that attempt's merged file (which, when
        // any input is missing, must exist; see target check above)
        files.filter(f => efs.exists(new Path(f))).foreach { f =>
          val in = new BufferedInputStream(efs.open(new Path(f)), 1 << 16)
          try {
            var eof = false
            while (!eof) {
              val first = in.read(rowBuf, 0, width)
              if (first < 0) eof = true
              else {
                var off = first
                while (off < width) {
                  val m = in.read(rowBuf, off, width - off)
                  if (m < 0) throw new EOFException(f)
                  off += m
                }
                val id = ByteBuffer.wrap(rowBuf, 0, 8)
                  .order(ByteOrder.LITTLE_ENDIAN).getLong
                if (!drop(id)) {
                  out.write(rowBuf, 0, width)
                  kept += 1
                  if (id < mn) mn = id
                  if (id > mx) mx = id
                }
              }
            }
          } finally in.close()
        }
      } finally out.close()
      if (kept == 0) {
        // list fully deleted: drop its files and directory so
        // planning never opens it again
        efs.delete(tmp, false)
        files.foreach(f => efs.delete(new Path(f), false))
        efs.delete(d, false)
      } else {
        // swap order: merged file lands as .bin first, old files go
        // second — a crash in between duplicates rows, never loses
        // them; a lost rename race (concurrent speculative attempt,
        // which computed the IDENTICAL sealed name) discards this
        // attempt's bytes
        val target = new Path(d, statsName(base + ".bin", mn, mx))
        if (!efs.rename(tmp, target)) efs.delete(tmp, false)
        files.foreach(f => efs.delete(new Path(f), false))
      }
    }
  }
}

private[sources] class IvfTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_ivf(`$path`)"
  override def schema(): StructType = IvfBinarySource.SCHEMA
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IvfScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new IvfWriteBuilder(path, info.schema())
}

/** V2 write path (`df.write.format(FORMAT).mode("overwrite").save(path)`,
  * rows already quantized: vec_id, qvec, centroid_id). The Write declares
  * `RequiresDistributionAndOrdering`: clustering on `centroid_id`, so
  * SPARK plans the per-list shuffle — each task then holds whole lists
  * and writes one `part` file per (task, list). Task files are named by
  * (partition, task) id so an aborted task's files are deletable without
  * touching committed output; the driver writes `_dim` at commit from the
  * writers' reported vector widths. */
private[sources] class IvfWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new IvfWrite(path, schema, doTruncate)
}

private[sources] class IvfWrite(path: String, schema: StructType,
    truncate: Boolean) extends Write with RequiresDistributionAndOrdering {
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("centroid_id")))
  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val root = new Path(path)
      val rootFs = IvfBinarySource.fs(root)
      if (truncate && rootFs.exists(root)) rootFs.delete(root, true)
      rootFs.mkdirs(root)
      new IvfWriterFactory(path, schema)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      IvfBinarySource.commitDim(path, messages.toSeq)
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

private[sources] case class IvfCommit(dim: Int) extends WriterCommitMessage

private[sources] class IvfWriterFactory(path: String, schema: StructType)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IvfDataWriter(path, schema, partitionId, taskId)
}

private[sources] class IvfDataWriter(path: String, schema: StructType,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  private val iId = schema.fieldIndex("vec_id")
  private val iVec = schema.fieldIndex("qvec")
  private val iCid = schema.fieldIndex("centroid_id")
  private val efs = IvfBinarySource.fs(new Path(path))
  private val parts = scala.collection.mutable.Map[Int, IvfBinarySource.OpenPart]()
  private val files = scala.collection.mutable.ArrayBuffer[Path]()
  private val head = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
  private var dim = 0

  override def write(row: InternalRow): Unit = {
    val cid = row.getInt(iCid)
    val vec = row.getBinary(iVec)
    if (dim == 0) dim = vec.length - 8
    val p = parts.getOrElseUpdate(cid, {
      val d = new Path(path, s"list=$cid")
      efs.mkdirs(d)
      val f = new Path(d, f"part-$partitionId%05d-$taskId.bin")
      files += f
      IvfBinarySource.OpenPart(new BufferedOutputStream(efs.create(f, true)), f)
    })
    val id = row.getLong(iId)
    p.see(id)
    head.clear(); head.putLong(id)
    p.out.write(head.array())
    p.out.write(vec)
  }
  // commit seals each part's vec_id range into its name (same zone-map
  // encoding as the helper write path); abort deletes the UNSEALED names
  override def commit(): WriterCommitMessage = {
    parts.values.foreach { p =>
      p.out.close(); IvfBinarySource.sealStats(efs, p.path, p.mn, p.mx)
    }
    parts.clear()
    IvfCommit(dim)
  }
  override def abort(): Unit = { close(); files.foreach(efs.delete(_, false)) }
  override def close(): Unit = { parts.values.foreach(_.out.close()); parts.clear() }
}

private[sources] class IvfScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = IvfBinarySource.SCHEMA
  private var pushed: Array[Filter] = Array.empty
  // None = no list filter (scan all); Some(set) = probe exactly these
  private var lists: Option[Set[Int]] = None
  // zone-map bound from vec_id conjuncts: files whose name-encoded id
  // range misses [idLo, idHi] are never opened (reference analogue: the
  // B-tree id indexes of database/model.go:9-18)
  private var idLo: Long = Long.MinValue
  private var idHi: Long = Long.MaxValue
  // Some(grouped, kinds): COUNT(*)/MIN(vec_id)/MAX(vec_id) aggregation
  // fully answered from file sizes + name-encoded zone maps on the
  // driver — no task ever iterates rows
  private var aggPush: Option[(Boolean, Seq[IvfAggScan.Kind])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case EqualTo("centroid_id", _: Int) => true
      case In("centroid_id", vs) => vs.forall(_.isInstanceOf[Int])
      case _ => false
    }
    accepted.foreach {
      case EqualTo(_, v: Int) =>
        lists = Some(lists.getOrElse(Set.empty[Int]) ++ Set(v))
      case In(_, vs) =>
        lists = Some(lists.getOrElse(Set.empty[Int]) ++ vs.map(_.asInstanceOf[Int]))
      case _ =>
    }
    // vec_id conjuncts tighten the zone-map bound but STAY residual: the
    // skip is file-granular, rows inside surviving files still filter.
    // Strict bounds are kept inclusive — conservative, never over-skips.
    def lift(v: Any)(f: Long => Unit): Boolean = v match {
      case n: Number => f(n.longValue()); true
      case _ => false
    }
    val informative = rest.filter {
      case EqualTo("vec_id", v) =>
        lift(v)(x => { idLo = math.max(idLo, x); idHi = math.min(idHi, x) })
      case GreaterThan("vec_id", v) => lift(v)(x => idLo = math.max(idLo, x))
      case GreaterThanOrEqual("vec_id", v) => lift(v)(x => idLo = math.max(idLo, x))
      case LessThan("vec_id", v) => lift(v)(x => idHi = math.min(idHi, x))
      case LessThanOrEqual("vec_id", v) => lift(v)(x => idHi = math.min(idHi, x))
      case In("vec_id", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
        val ls = vs.map(_.asInstanceOf[Number].longValue())
        idLo = math.max(idLo, ls.min); idHi = math.min(idHi, ls.max); true
      case _ => false
    }
    pushed = accepted ++ informative // both prune classes visible in explain
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Fixed-width rows make COUNT(*) a pure metadata computation
    * (file_size ÷ row_width), the name-encoded zone maps are EXACT
    * per-file [min,max] of vec_id (sealed from the written rows, not
    * estimates), and the layout partitions by the only grouping key we
    * accept — so `COUNT(*) / MIN(vec_id) / MAX(vec_id) [GROUP BY
    * centroid_id]` is a COMPLETE pushdown: the driver answers it from
    * the (cached) file listing and the scan emits one row per group,
    * never per vector. MIN/MAX additionally require every planned file
    * to carry its zone segment and every planned group to be non-empty
    * (an unsealed legacy file or an empty group would need row reads /
    * a null the non-null schema can't express) — otherwise the pushdown
    * is refused and Spark aggregates normally. */
  private def pushableKinds(agg: Aggregation): Option[Seq[IvfAggScan.Kind]] = {
    // residual vec_id filters already stop Spark from attempting
    // aggregate pushdown; the guard makes the invariant local
    if (idLo != Long.MinValue || idHi != Long.MaxValue) return None
    def vecIdRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case f: NamedReference => f.fieldNames().sameElements(Array("vec_id"))
        case _ => false
      }
    val kinds = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(IvfAggScan.Count)
      case m: Min if vecIdRef(m.column()) => Some(IvfAggScan.MinId)
      case m: Max if vecIdRef(m.column()) => Some(IvfAggScan.MaxId)
      case _ => None
    }
    if (kinds.isEmpty || kinds.exists(_.isEmpty)) return None
    val gb = agg.groupByExpressions()
    val gbOk = gb.isEmpty || (gb.length == 1 && (gb(0) match {
      case f: NamedReference => f.fieldNames().sameElements(Array("centroid_id"))
      case _ => false
    }))
    if (!gbOk) return None
    val resolved = kinds.map(_.get)
    if (resolved.exists(_ != IvfAggScan.Count) && !zonesAnswerable) None
    else Some(resolved)
  }

  /** MIN/MAX precondition: every planned file sealed, no empty planned
    * group, index non-empty. Uses the same cached listing planning uses. */
  private def zonesAnswerable: Boolean =
    try {
      val root = new Path(path)
      val rootFs = IvfBinarySource.fs(root)
      if (!rootFs.exists(root)) return false
      val perList = IvfBinarySource.listDirs(rootFs, root, lists).map {
        case (_, d, mtime) => IvfBinarySource.listBinFiles(rootFs, d, mtime)
      }
      perList.nonEmpty && perList.forall(fs =>
        fs.nonEmpty && fs.forall { case (name, _) =>
          IvfBinarySource.idStats(new Path(name).getName).isDefined
        })
    } catch { case _: java.io.IOException => false }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    pushableKinds(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean =
    pushableKinds(agg) match {
      case Some(kinds) =>
        aggPush = Some((agg.groupByExpressions().nonEmpty, kinds)); true
      case None => false
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggPush match {
    case Some((grouped, kinds)) => new IvfAggScan(path, lists, grouped, kinds)
    case None => new IvfScan(path, lists, required, idLo, idHi)
  }
}

private[sources] object IvfAggScan {
  sealed trait Kind
  case object Count extends Kind
  case object MinId extends Kind
  case object MaxId extends Kind
}

/** Completely-pushed COUNT(*) / MIN(vec_id) / MAX(vec_id) [GROUP BY
  * centroid_id]: per-list row counts are file_size ÷ row_width and id
  * extremes fold the name-encoded zone maps, both over the (mtime-cached)
  * listing — computed on the DRIVER at planning time; the single input
  * partition just replays the precomputed group rows. The builder only
  * selects this scan when every planned file is sealed and every planned
  * group non-empty, so the folds below are total. */
private[sources] class IvfAggScan(path: String, lists: Option[Set[Int]],
    grouped: Boolean, kinds: Seq[IvfAggScan.Kind]) extends Scan with Batch {
  import IvfAggScan._

  override def readSchema(): StructType = {
    val aggFields = kinds.zipWithIndex.map { case (_, i) =>
      StructField(s"agg_$i", LongType, nullable = false)
    }
    if (grouped)
      StructType(StructField("centroid_id", IntegerType, nullable = false) +: aggFields)
    else StructType(aggFields)
  }
  override def toBatch: Batch = this
  override def description(): String = {
    val probed = lists.map(_.toSeq.sorted.mkString("[", ",", "]")).getOrElse("ALL")
    s"GraftIvfAggScan path=$path lists=$probed grouped=$grouped aggs=${kinds.mkString(",")}"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val root = new Path(path)
    val rootFs = IvfBinarySource.fs(root)
    // missing/empty index: a grouped agg has zero groups, but a pushed
    // GLOBAL count must still emit its single zero row (there is no
    // aggregate exec above to produce it; min/max never plan here — the
    // builder refused the pushdown on an empty index)
    if (!rootFs.exists(root))
      return Array(IvfAggPartition(
        if (grouped) Array.empty else Array((-1, kinds.map(_ => 0L).toArray))))
    val width = IvfBinarySource.rowWidth(IvfBinarySource.readDim(path)).toLong
    def fold(files: Array[(String, Long)], k: Kind): Long = k match {
      case Count => files.map(_._2 / width).sum
      case MinId => files.map { case (n, _) =>
        IvfBinarySource.idStats(new Path(n).getName).get._1 }.min
      case MaxId => files.map { case (n, _) =>
        IvfBinarySource.idStats(new Path(n).getName).get._2 }.max
    }
    val perList = IvfBinarySource.listDirs(rootFs, root, lists)
      .map { case (cid, d, mtime) =>
        cid -> IvfBinarySource.listBinFiles(rootFs, d, mtime)
      }
      .sortBy(_._1)
    val rows =
      if (grouped) perList.map { case (cid, fs) =>
        (cid, kinds.map(fold(fs, _)).toArray)
      }
      else {
        val all = perList.flatMap(_._2)
        Array((-1, kinds.map(fold(all, _)).toArray)) // global: one row
      }
    Array(IvfAggPartition(rows))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IvfAggReaderFactory(grouped)
}

private[sources] case class IvfAggPartition(rows: Array[(Int, Array[Long])])
    extends InputPartition

private[sources] class IvfAggReaderFactory(grouped: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rows = p.asInstanceOf[IvfAggPartition].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (cid, vals) = rows(i)
        val aggs: Seq[Any] = vals.toSeq
        if (grouped) InternalRow.fromSeq(cid +: aggs)
        else InternalRow.fromSeq(aggs)
      }
      override def close(): Unit = ()
    }
  }
}

private[sources] class IvfScan(path: String, lists: Option[Set[Int]],
    required: StructType, idLo: Long = Long.MinValue,
    idHi: Long = Long.MaxValue) extends Scan with Batch
    with SupportsReportPartitioning with SupportsRuntimeV2Filtering
    with SupportsReportStatistics {

  /** True byte/row counts of the PLANNED (pruned) file set — fixed-width
    * rows make both exact, and the listing is already cached. Without
    * this Spark assumes defaultSizeInBytes (effectively infinite) for a
    * V2 relation, so a one-list pruned scan could never be the broadcast
    * side of a join; with it, join strategy follows the pruned size, the
    * same way parquet relations shrink after partition pruning. */
  override def estimateStatistics(): Statistics =
    try {
      val width = IvfBinarySource.rowWidth(IvfBinarySource.readDim(path)).toLong
      val bytes = plannedPartitions.map(_.asInstanceOf[IvfInputPartition].length).sum
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes / width)
      }
    } catch {
      // missing/corrupt meta: report nothing and let Spark use defaults
      // rather than failing the whole query at planning
      case _: java.io.IOException => new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    }

  /** Runtime-narrowed probe set (the DPP shape): when this scan sits
    * under a join on centroid_id with a selective build side, Spark
    * executes the build side first and hands the observed key values
    * here as an IN predicate — so a batch join against the index prunes
    * to the joined lists with NO application-level collect step (the
    * foreachBatch workaround in Streams.runSemanticGateBinary predates
    * this). Intersected with the statically pushed lists. */
  @volatile private var runtimeLists: Option[Set[Int]] = None
  // runtime vec_id bound: an IN over join-observed ids (the delete
  // discovery / id point-read shape) tightens the zone-map window to
  // the set's min..max, composing with the statically pushed bound
  @volatile private var runtimeIdLo: Long = Long.MinValue
  @volatile private var runtimeIdHi: Long = Long.MaxValue

  private def effectiveLists: Option[Set[Int]] = (lists, runtimeLists) match {
    case (Some(a), Some(b)) => Some(a.intersect(b))
    case (a, b) => a.orElse(b)
  }
  private def effIdLo: Long = math.max(idLo, runtimeIdLo)
  private def effIdHi: Long = math.min(idHi, runtimeIdHi)

  override def filterAttributes(): Array[NamedReference] = {
    val cols = Seq("centroid_id", "vec_id").filter(required.fieldNames.contains)
    cols.map(Expressions.column).toArray
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    def inValues(p: org.apache.spark.sql.connector.expressions.filter.Predicate,
        field: String): Option[Seq[Long]] = {
      if (p.name() != "IN") return None
      val ch = p.children()
      val onField = ch.headOption.exists {
        case r: NamedReference => r.fieldNames().sameElements(Array(field))
        case _ => false
      }
      val lits = ch.drop(1)
      if (onField && lits.nonEmpty && lits.forall(
          _.isInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]]))
        Some(lits.toSeq.map(_.asInstanceOf[
          org.apache.spark.sql.connector.expressions.Literal[_]]
          .value.asInstanceOf[Number].longValue()))
      else None
    }
    // an unparsed predicate shape simply skips pruning — never unsound
    predicates.foreach { p =>
      inValues(p, "centroid_id").foreach(vs =>
        runtimeLists = Some(vs.map(_.toInt).toSet))
      inValues(p, "vec_id").foreach { vs =>
        runtimeIdLo = vs.min
        runtimeIdHi = vs.max
      }
    }
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val probed = effectiveLists.map(_.toSeq.sorted.mkString("[", ",", "]"))
      .getOrElse("ALL")
    val bound =
      if (effIdLo == Long.MinValue && effIdHi == Long.MaxValue) ""
      else s" ids=[$effIdLo,$effIdHi]"
    s"GraftIvfScan path=$path lists=$probed$bound cols=${required.fieldNames.mkString(",")}"
  }

  /** The layout IS hash-partitioned by list: every input partition (one
    * file) holds exactly one centroid_id, declared per-partition via
    * [[HasPartitionKey]]. With `spark.sql.sources.v2.bucketing.enabled`
    * Spark groups same-key files and plans per-list aggregations and
    * storage-partitioned joins WITHOUT an exchange — the maintenance
    * passes (recenter, per-list stats, list-blocked self-joins) stop
    * shuffling the corpus. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    // the key must be resolvable against the (pruned) output schema
    if (required.fieldNames.contains("centroid_id"))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.identity("centroid_id")), plannedPartitions.length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        plannedPartitions.length)

  // planning may run before runtime filtering (outputPartitioning sizes
  // the KeyGroupedPartitioning during EnsureRequirements, filter() fires
  // at execution prep) — so partitions are cached PER effective list set
  // and recomputed when a runtime predicate narrows it; the underlying
  // FS listing is dirCache-backed, so a re-plan costs no FS round-trips
  private var plannedKey: Option[(Option[Set[Int]], Long, Long)] = None
  private var plannedParts: Array[InputPartition] = _

  private def plannedPartitions: Array[InputPartition] = synchronized {
    val key = Some((effectiveLists, effIdLo, effIdHi))
    if (plannedKey != key) {
      plannedParts = computePartitions(effectiveLists)
      plannedKey = key
    }
    plannedParts
  }

  private def computePartitions(probe: Option[Set[Int]]): Array[InputPartition] = {
    val root = new Path(path)
    val rootFs = IvfBinarySource.fs(root)
    // connector-level partition prune: non-probed lists are never opened
    IvfBinarySource.listDirs(rootFs, root, probe).flatMap { case (cid, d, mtime) =>
      // file length rides along: readers derive row counts without a
      // second FS round-trip, and metaOnly scans never open the file
      IvfBinarySource.listBinFiles(rootFs, d, mtime)
        // vec_id zone-map skip: the range rides in the file name, so
        // this costs nothing beyond the listing the planner caches;
        // files without the segment (legacy / foreign) never skip
        .filter { case (f, _) =>
          IvfBinarySource.idStats(new Path(f).getName)
            .forall { case (mn, mx) => mx >= effIdLo && mn <= effIdHi }
        }
        .map { case (f, len) => IvfInputPartition(f, cid, len): InputPartition }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  override def createReaderFactory(): PartitionReaderFactory =
    new IvfReaderFactory(IvfBinarySource.readDim(path), required)
}

private[sources] case class IvfInputPartition(file: String, listId: Int,
    length: Long) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow(listId)
}

private[sources] class IvfReaderFactory(dim: Int, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[IvfInputPartition]
    new IvfPartitionReader(part.file, part.listId, part.length, dim, required)
  }
}

/** Streams one fixed-width spill file. Column pruning is physical:
  * unneeded fields are `skip`ped, and when only `centroid_id` survives
  * (GROUP BY list counts) the row count comes from the planned file
  * length with zero row bytes read. */
private[sources] class IvfPartitionReader(file: String, listId: Int,
    length: Long, dim: Int, required: StructType)
    extends PartitionReader[InternalRow] {

  private val width = IvfBinarySource.rowWidth(dim)
  private val vecLen = dim + 8
  private val needId = required.fieldNames.contains("vec_id")
  private val needVec = required.fieldNames.contains("qvec")
  private val metaOnly = !needId && !needVec

  private var remaining: Long = length / width
  private val in: InputStream =
    if (metaOnly) null
    else {
      val p = new Path(file)
      new BufferedInputStream(IvfBinarySource.fs(p).open(p), 1 << 16)
    }
  private val idBuf = new Array[Byte](8)
  private var row: InternalRow = _

  private def readFully(b: Array[Byte]): Unit = {
    var off = 0
    while (off < b.length) {
      val n = in.read(b, off, b.length - off)
      if (n < 0) throw new EOFException(file)
      off += n
    }
  }
  private def skipFully(n: Long): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s <= 0) { if (in.read() < 0) throw new EOFException(file); left -= 1 }
      else left -= s
    }
  }

  override def next(): Boolean = {
    if (remaining <= 0) return false
    remaining -= 1
    val values = new Array[Any](required.length)
    var id = 0L
    if (needId) {
      readFully(idBuf)
      id = ByteBuffer.wrap(idBuf).order(ByteOrder.LITTLE_ENDIAN).getLong
    } else if (!metaOnly) skipFully(8)
    var vec: Array[Byte] = null
    if (needVec) { vec = new Array[Byte](vecLen); readFully(vec) }
    else if (!metaOnly) skipFully(vecLen)
    var i = 0
    required.fieldNames.foreach { f =>
      values(i) = f match {
        case "vec_id" => id
        case "qvec" => vec
        case "centroid_id" => listId
      }
      i += 1
    }
    row = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (in != null) in.close()
}
