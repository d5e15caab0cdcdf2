package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ParquetStore

/** S6/S7/S8 sinks: bucket-partitioned create / upsert / cascading delete,
  * with the partition-pruning guarantee (untouched buckets' files are not
  * rewritten) checked via file modification times. */
class ParquetStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("store").toString

  private def docs = Tables.load(spark, SparkSuite.sf0001, "documents")
    .select("doc_id", "text", "lang", "source")

  test("create + read round-trips") {
    val store = ParquetStore(tmp(), "doc_id", nBuckets = 8)
    store.create(docs)
    assert(store.read(spark).count() == docs.count())
    assert(store.bucketDirs.nonEmpty && store.bucketDirs.forall(_.startsWith("_bucket=")))
  }

  test("upsert replaces matched keys, inserts new, rewrites only touched buckets") {
    import spark.implicits._
    val store = ParquetStore(tmp(), "doc_id", nBuckets = 8)
    store.create(docs)
    val before = filesWithMtime(store.path)
    val updates = Seq(
      (0L, "REWRITTEN", "en", "srcU"), // existing key
      (999999L, "INSERTED", "de", "srcU")) // new key
      .toDF("doc_id", "text", "lang", "source")
    store.upsert(updates)
    val out = store.read(spark)
    assert(out.count() == docs.count() + 1)
    assert(out.filter(col("doc_id") === 0L).head().getString(1) == "REWRITTEN")
    assert(out.filter(col("doc_id") === 999999L).head().getString(1) == "INSERTED")
    // buckets not containing either key must keep their original files
    val touched = Set(0L, 999999L).map(k =>
      s"_bucket=${spark.range(1).select(pmod(xxhash64(lit(k)), lit(8))).head().getLong(0)}")
    val after = filesWithMtime(store.path)
    before.filter { case (f, _) => !touched.exists(f.contains) }
      .foreach { case (f, m) => assert(after.get(f).contains(m), s"untouched bucket rewritten: $f") }
  }

  test("upsert with an evolved schema: new column appears, old rows read null") {
    import spark.implicits._
    val store = ParquetStore(tmp(), "doc_id", nBuckets = 4)
    store.create(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
    // the update carries a column the stored rows predate
    store.upsert(Seq((2L, "b2", 0.9), (3L, "c", 0.5))
      .toDF("doc_id", "text", "quality"))
    val out = store.read(spark).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(out(0).isNullAt(2)) // old row: quality null
    assert(out(1).getString(1) == "b2" && out(1).getDouble(2) == 0.9)
    assert(out(2).getDouble(2) == 0.5)
  }

  test("delete clears fully-doomed buckets (dynamic overwrite can't) and survives a full wipe") {
    import spark.implicits._
    // 3 keys in 16 buckets → each key is almost surely alone in its
    // bucket, so a delete dooms ENTIRE buckets: the regression regime
    // for the dynamic-partition-overwrite no-op (a bucket with no
    // surviving rows emits no output partition and kept its old files)
    val store = ParquetStore(tmp(), "k", nBuckets = 16)
    store.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.deleteKeys(Seq(1L, 2L).toDF("k"))
    assert(store.read(spark).select("k").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // deleting the last row empties the store but keeps it READABLE
    // (schema-bearing zero-row file) and reports uninitialized
    store.deleteKeys(Seq(3L).toDF("k"))
    assert(store.read(spark).count() == 0)
    assert(!store.isInitialized)
    // and the store comes back to life through the create path
    store.upsertOrCreate(Seq((9L, "z")).toDF("k", "v"))
    assert(store.read(spark).select("v").collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  test("an upsert whose write fails leaves every stored row in place") {
    import spark.implicits._
    val rows = (1L to 40L).map(k => (k, s"v$k"))
    val store = ParquetStore(tmp(), "k", nBuckets = 8)
    store.create(rows.toDF("k", "v"))
    // parquet cannot store a calendar interval: the merge and its pin
    // succeed, the write of the touched buckets fails
    intercept[Exception](store.upsert(Seq((5L, "new"), (41L, "ins")).toDF("k", "v")
      .withColumn("bad", expr("make_interval(0, 0, 0, 1)"))))
    assert(store.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet == rows.toSet)
  }

  test("compact folds multi-file buckets to one file; sparse buckets untouched") {
    import spark.implicits._
    val store = ParquetStore(tmp(), "doc_id", nBuckets = 4)
    // the corpus in one partition writes one file into every bucket; the
    // three late rows, a partition each, add files to at most three of
    // the four (two single-partition sides would union into one)
    val late = (1 to 3).map(i => (200000L + i, s"late doc $i", "en", "srcZ"))
      .toDF("doc_id", "text", "lang", "source")
    store.create(docs.coalesce(1).unionByName(late.repartition(3)))
    val rowsBefore = store.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def filesPerBucket: Map[String, Int] =
      store.bucketDirs.map { d =>
        d -> new java.io.File(store.path, d).listFiles()
          .count(_.getName.endsWith(".parquet"))
      }.toMap
    val before = filesPerBucket
    assert(before.values.exists(_ > 1), "the late rows must have split buckets")
    val sparse = before.filter(_._2 == 1).keySet
    val sparseMtimes = filesWithMtime(store.path)
      .filter { case (p, _) => sparse.exists(d => p.contains(s"/$d/")) }
    val n = store.compact(spark)
    assert(n == before.values.count(_ >= 2).toLong)
    assert(filesPerBucket.values.forall(_ == 1), "every bucket must be one file")
    // row set byte-identical, sparse buckets' files untouched
    val rowsAfter = store.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rowsAfter == rowsBefore)
    sparseMtimes.foreach { case (p, m) =>
      assert(new java.io.File(p).lastModified() == m, s"sparse file $p rewritten")
    }
    assert(store.compact(spark) == 0L, "already-compact store is a no-op")
  }

  private def filesWithMtime(path: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("a delete on a store that was never written runs no job and creates no directory") {
    import spark.implicits._
    val path = s"${tmp()}/never-written"
    val store = ParquetStore(path, "k", nBuckets = 8)
    // driver-local keys and a distributed key frame
    val jobs = SparkSuite.jobsOf {
      store.deleteKeys(Seq(1L, 2L).toDF("k"))
      store.deleteKeys(spark.range(3).toDF("k"))
    }
    assert(jobs.isEmpty, s"a delete on an unwritten store ran jobs: $jobs")
    assert(!new java.io.File(path).exists(), s"$path was created by a delete")
  }

  test("driver-local keys on a known schema: delete in two jobs, upsert in three, same rows") {
    import spark.implicits._
    val rows = (1L to 40L).map(k => (k, s"v$k"))
    val known = ParquetStore(tmp(), "k", nBuckets = 8, schema = Some(rows.toDF("k", "v").schema))
    val merged = ParquetStore(tmp(), "k", nBuckets = 8)
    // one input partition: every bucket starts as one file
    Seq(known, merged).foreach(_.create(rows.toDF("k", "v").repartition(1)))
    val del = SparkSuite.jobsOf(known.deleteKeys(Seq(3L, 17L, 29L).toDF("k")))
    assert(del.size == 2, s"a local-key delete on a known schema runs the pin and the write: $del")
    val up = SparkSuite.jobsOf(known.upsert(Seq((5L, "new"), (41L, "ins")).toDF("k", "v")))
    assert(up.size <= 3, s"a local upsert on a known schema runs the merge and the write: $up")
    // the same mutations through the footer-merging, distributed-key path
    merged.deleteKeys(Seq(3L, 17L, 29L).toDF("k").localCheckpoint(true))
    merged.upsert(Seq((5L, "new"), (41L, "ins")).toDF("k", "v").localCheckpoint(true))
    def contents(st: ParquetStore) =
      st.read(spark).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(contents(known) == contents(merged))
    assert(contents(known) == (rows.toMap -- Seq(3L, 17L, 29L) + (5L -> "new") + (41L -> "ins")).toSet)
    // a delete keeps a one-file bucket one file; the upsert's merge writes
    // each bucket it touches as one file
    known.bucketDirs.foreach { d =>
      assert(new java.io.File(known.path, d).listFiles().count(_.getName.endsWith(".parquet")) == 1, d)
    }
  }

  test("the driver's bucket of a key is the _bucket directory a write puts it in") {
    import spark.implicits._
    val rnd = new scala.util.Random(12)
    val keys = (Seq(0L, 1L, -1L, Long.MinValue, Long.MinValue + 1, Long.MaxValue,
      Long.MaxValue - 1) ++ (-500L to 500L) ++ Seq.fill(10000)(rnd.nextLong())).distinct
    assert(keys.size >= 10000)
    val store = ParquetStore(tmp(), "k", nBuckets = 16,
      schema = Some(StructType(Seq(StructField("k", LongType)))))
    store.create(keys.toDF("k"))
    val onDisk = spark.read.parquet(store.path).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("_bucket").longValue).toMap
    val jobs = SparkSuite.jobsOf(assert(keys.zip(store.buckets(spark, keys)).toMap == onDisk))
    assert(jobs.isEmpty, s"the driver's buckets ran jobs: $jobs")
  }

  test("replaceBuckets writes the touched buckets from driver rows in one job") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val store = ParquetStore(tmp(), "k", nBuckets = 8, schema = Some(schema))
    def rows(kvs: Iterable[(Long, String)]) = kvs.map { case (k, v) => Row(k, v) }
    var held = (1L to 60L).map(k => k -> s"v$k").toMap
    // several input partitions: buckets start as several files each
    store.create(spark.createDataFrame(rows(held).toSeq.asJava, schema).repartition(3))
    def contents = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def filesIn(d: String) = new java.io.File(store.path, d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val touched = store.buckets(spark, Seq(5L, 61L)).map(b => s"_bucket=$b").toSet
    val before = filesWithMtime(store.path)
    // an upsert: one changed row and one new one
    held = held + (5L -> "five") + (61L -> "new")
    val up = SparkSuite.jobsOf(store.replaceBuckets(spark, Seq(5L, 61L), rows(held)))
    assert(up.size == 1, s"a driver-planned upsert runs its write only: $up")
    assert(contents == held)
    touched.foreach(d => assert(filesIn(d) == 1, d))
    before.filter { case (f, _) => !touched.exists(d => f.contains(s"/$d/")) }
      .foreach { case (f, m) =>
        assert(new java.io.File(f).lastModified() == m, s"untouched bucket rewritten: $f")
      }
    // a delete that empties a bucket removes its directory
    val (emptied, doomed) = held.keys.groupBy(k => store.buckets(spark, Seq(k)).head).minBy(_._2.size)
    held = held -- doomed
    val del = SparkSuite.jobsOf(store.replaceBuckets(spark, doomed, rows(held)))
    assert(del.size == 1, s"a driver-planned delete runs its write only: $del")
    assert(contents == held)
    assert(!store.bucketDirs.contains(s"_bucket=$emptied"))
    // deleting every row leaves the zero-row file, and the next replace
    // creates the store again
    store.replaceBuckets(spark, held.keys, Nil)
    assert(!store.isInitialized && store.read(spark).count() == 0)
    store.replaceBuckets(spark, Seq(7L), rows(Seq(7L -> "back")))
    assert(contents == Map(7L -> "back"))
  }
}
