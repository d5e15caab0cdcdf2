package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorKernels
import graft.index.IvfIndex
import graft.streaming.Streams

/** Structured Streaming: ingest, dedup, windowed aggs, sessionization —
  * each fed through MemoryStream and checked against its batch twin. */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark


  private val model = IvfIndex.Model(Array(
    VectorKernels.l2Normalize(Array.fill(64)(1f)),
    VectorKernels.l2Normalize(Array.tabulate(64)(i => if (i % 2 == 0) 1f else -1f))))

  test("streaming ingest equals batch ingest and partitions by centroid") {
    import spark.implicits._
    val docs = Seq(
      (1L, """{"title": "alpha doc", "body": "some words here"}"""),
      (2L, """{"title": "beta doc", "body": "other words live here"}""")).toDF("doc_id", "text")

    val batchOut = Streams.ingestChunks(docs, model)
      .select("doc_id", "chunk_id", "chunk", "centroid_id")
      .collect().map(_.toSeq).toSet

    val mem = MemoryStream[(Long, String)](spark)
    mem.addData((1L, """{"title": "alpha doc", "body": "some words here"}"""),
      (2L, """{"title": "beta doc", "body": "other words live here"}"""))
    val out = java.nio.file.Files.createTempDirectory("ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    Streams.runIngest(mem.toDF().toDF("doc_id", "text"), model, out, ckpt)

    val written = spark.read.parquet(out)
    assert(written.select("doc_id", "chunk_id", "chunk", "centroid_id")
      .collect().map(_.toSeq).toSet == batchOut)
    // physical layout: one directory per IVF list
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.forall(_.startsWith("centroid_id=")), dirs.mkString(","))
  }

  test("streaming ingest into the binary index equals the batch chunks") {
    import spark.implicits._
    val d1 = (1L, """{"title": "alpha doc", "body": "some words here"}""")
    val d2 = (2L, """{"title": "beta doc", "body": "other words live here"}""")
    val batch = Streams.ingestChunks(Seq(d1, d2).toDF("doc_id", "text"), model)
      .select((col("doc_id") * 100000 + col("chunk_id")).as("vec_id"),
        col("qvec"), col("centroid_id"))
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2)))
      .toSet

    val mem = MemoryStream[(Long, String)](spark)
    val idx = java.nio.file.Files.createTempDirectory("ingest_bin").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_bin").toString
    // two separate micro-batches: the second V2-appends next to the
    // first's files and must not clobber them (or the _dim meta)
    mem.addData(d1)
    Streams.runIngestBinary(mem.toDF().toDF("doc_id", "text"), model, idx, ckpt)
    mem.addData(d2)
    Streams.runIngestBinary(mem.toDF().toDF("doc_id", "text"), model, idx, ckpt)

    val got = spark.read.format(graft.sources.IvfBinarySource.FORMAT).load(idx)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2)))
      .toSet
    assert(got == batch)

    // compactAfter folds the per-batch files back to one per list while
    // the drained stream is stopped, preserving the exact row set
    mem.addData((3L, """{"title": "gamma doc", "body": "a third document"}"""))
    Streams.runIngestBinary(mem.toDF().toDF("doc_id", "text"), model, idx, ckpt,
      compactAfter = true)
    val dirs = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(dirs.nonEmpty)
    assert(dirs.forall(_.listFiles().count(_.getName.endsWith(".bin")) == 1))
    val all = spark.read.format(graft.sources.IvfBinarySource.FORMAT).load(idx)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2)))
      .toSet
    assert(all.size > batch.size && batch.subsetOf(all))
  }

  test("streaming near-dup pairs equal the batch LSH candidate relation") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    // the real corpus, fed in two batches to prove bucket state persists
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (first, second) = docs.splitAt(docs.length / 2)

    val mem = MemoryStream[(Long, String)](spark)
    val out = Streams.streamingNeardupPairs(mem.toDF().toDF("doc_id", "text"))
    val q = out.writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    mem.addData(first.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(second.toIndexedSeq: _*)
    q.processAllAvailable()
    val pairs = spark.table("neardup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    q.stop()

    // batch relation: (doc, bucket) band table + the q21 pair graph
    val bandOf = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id"), explode(graft.functions.gf.lsh_bands(
        graft.functions.gf.minhash(col("text"), 3, 16), 4)).as("bucket"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // soundness: every emitted pair shares the claimed bucket, canonical first
    pairs.foreach { case (d, c, b) =>
      assert(c < d, s"canonical $c not earlier than $d")
      assert(bandOf((d, b)) && bandOf((c, b)), s"pair ($d,$c) fabricated bucket $b")
    }
    // completeness: exactly the docs that share a band with an earlier doc
    // are flagged (q21's doc_b set — docs fed in ascending doc_id order)
    val batchDupDocs = DedupQueries.q21MinhashLsh(spark, SparkSuite.sf0001)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    assert(pairs.map(_._1).toSet == batchDupDocs)
    assert(pairs.nonEmpty, "corpus should contain near-dups at sf0.001")
  }

  test("streaming exact dedup keeps one row per fingerprint") {
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
    val q = Streams.streamingExactDedup(
        mem.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    mem.addData((t0, 1L, "hello world"), (t0, 2L, "Hello  World"), (t0, 3L, "hello world"))
    q.processAllAvailable()
    mem.addData((t1, 4L, "hello world"), (t1, 5L, "brand new text"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
    // doc 3 (same-batch dup) and doc 4 (cross-batch dup) are dropped;
    // doc 2 survives: "Hello  World" normalizes to "hello  world" (double
    // space), a distinct fingerprint from "hello world".
    assert(rows == Set(1L, 2L, 5L), rows)
  }

  test("stream-static dedup drops docs already in the historical corpus") {
    import spark.implicits._
    // historical corpus: fingerprints of docs 0/1; doc 1's text arrives
    // again in the stream and must be dropped
    val corpus = Seq("old doc one", "old doc two").toDF("text")
      .select(md5(lower(trim(col("text")))).as("fp"))
    val dir = java.nio.file.Files.createTempDirectory("corpus_fp").toString
    corpus.write.mode("overwrite").parquet(dir)
    val corpusFps = spark.read.parquet(dir)
    val mem = MemoryStream[(Long, String)](spark)
    val q = Streams.dedupAgainstCorpus(
        mem.toDF().toDF("doc_id", "text"), corpusFps)
      .writeStream.format("memory").queryName("ssdedup_out")
      .outputMode(OutputMode.Append).start()
    mem.addData((10L, "Old Doc One"), (11L, "fresh text"))
    q.processAllAvailable()
    // file-source snapshot semantics: a fingerprint appended AFTER stream
    // start is not in the frozen file listing, so a later duplicate of it
    // still passes — corpus growth needs a restart (operator Scaladoc)
    Seq("fresh text").toDF("text")
      .select(md5(lower(trim(col("text")))).as("fp"))
      .write.mode("append").parquet(dir)
    mem.addData((12L, "fresh text"), (13L, "old doc two"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssdedup_out").select("doc_id").as[Long].collect().toSet
    // 10 dropped (historical dup, case-normalized); 11 passes; 12 passes
    // (frozen listing predates its fingerprint); 13 dropped (historical,
    // seen first in a later batch — the static join works every batch)
    assert(rows == Set(11L, 12L), rows)
    // a restarted stream sees the appended fingerprint and drops the dup
    val corpusFps2 = spark.read.parquet(dir)
    val mem2 = MemoryStream[(Long, String)](spark)
    val q2 = Streams.dedupAgainstCorpus(
        mem2.toDF().toDF("doc_id", "text"), corpusFps2)
      .writeStream.format("memory").queryName("ssdedup_out2")
      .outputMode(OutputMode.Append).start()
    mem2.addData((20L, "fresh text"), (21L, "never seen"))
    q2.processAllAvailable()
    q2.stop()
    val rows2 = spark.table("ssdedup_out2").select("doc_id").as[Long].collect().toSet
    assert(rows2 == Set(21L), rows2)
  }

  test("streaming MG candidates cover every frequent token across batches") {
    import spark.implicits._
    implicit val s = spark
    // skewed corpus: 5 hot tokens woven through a uniform tail, split
    // over three micro-batches so state must survive the round trips
    val rnd = new scala.util.Random(5)
    val docs = IndexedSeq.tabulate(120) { i =>
      val words = IndexedSeq.fill(25) {
        if (rnd.nextInt(100) < 35) s"hot${rnd.nextInt(5)}"
        else s"cold${rnd.nextInt(400)}"
      }
      (i.toLong, words.mkString(" "))
    }
    val k = 19
    val mem = MemoryStream[(Long, String)](spark)
    val q = Streams.frequentTokenCandidates(
        mem.toDF().toDF("doc_id", "text"), k = k, buckets = 4)
      .writeStream.format("memory").queryName("mg_out")
      .outputMode(OutputMode.Update).start()
    docs.grouped(41).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    // current view = each bucket's highest-n emission
    val view = spark.table("mg_out")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy(col("n").desc)))
      .filter(col("r") === 1)
    val cands = view.select(explode(col("candidates")))
      .as[String].collect().toSet
    val perBucket = view.select("candidates").as[Seq[String]].collect()
    assert(perBucket.forall(_.size <= k), "state must stay k-bounded")
    // exact frequent tokens of the WHOLE stream at the global threshold
    val toks = docs.flatMap(_._2.split("\\s+"))
    val exact = toks.groupBy(identity).view.mapValues(_.size).toMap
    val thr = toks.size.toDouble / (k + 1)
    val frequent = exact.filter { case (_, f) => f > thr }.keySet
    assert(frequent.nonEmpty, "threshold must bite on the test stream")
    assert(frequent.subsetOf(cands),
      s"missing frequent tokens: ${frequent -- cands}")
  }

  test("streaming contamination gate flags every doc the batch sweep catches") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, dir, "documents")
    val benchSh = docs.filter(col("doc_id") < 10)
      .select(explode(array_distinct(
        graft.functions.gf.shingles(col("text"), 3))).as("s"))
      .select(xxhash64(col("s")).as("h"))
    val bf = benchSh.rdd.map(_.getLong(0)).treeAggregate(
      org.apache.spark.util.sketch.BloomFilter.create(1 << 16, 0.01))(
      (f, h) => { f.putLong(h); f }, (a, b) => { a.mergeInPlace(b); a })
    val bc = spark.sparkContext.broadcast(bf)
    // exact batch verdicts: corpus docs sharing >=3 shingles with ANY
    // single benchmark doc (q55's per-pair semantics — a SUBSET of the
    // gate's union-of-benchmark count, so the gate must flag them all)
    val exact = SparkEntry.queries("q55_contamination")(spark, dir)
      .select("corpus_doc").as[Long].collect().toSet
    val corpus = docs.filter(col("doc_id") >= 10)
      .select("doc_id", "text").as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)](spark)
    val q = Streams.contaminationGate(mem.toDF().toDF("doc_id", "text"), bc)
      .select("doc_id", "hits", "contaminated")
      .writeStream.format("memory").queryName("contam_out")
      .outputMode(OutputMode.Append).start()
    corpus.grouped(200).foreach { b => mem.addData(b); q.processAllAvailable() }
    q.stop()
    val flagged = spark.table("contam_out")
      .filter(col("contaminated")).select("doc_id").as[Long].collect().toSet
    assert(exact.nonEmpty, "sweep must catch planted overlaps")
    assert(exact.subsetOf(flagged),
      s"gate missed contaminated docs: ${exact -- flagged}")
    // the bloom can only overcount: unflagged docs are certainly below
    // the threshold even against the union of ALL benchmark shingles
    val unflaggedSample = spark.table("contam_out")
      .filter(!col("contaminated")).count()
    assert(unflaggedSample > 0, "gate should clear most of the corpus")
  }

  test("streaming quality gate scores identically to batch q78") {
    import spark.implicits._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").limit(40)
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)](spark)
    val q = Streams.qualityGate(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("qgate_out")
      .outputMode(OutputMode.Append).start()
    val (a, b) = docs.splitAt(17) // two micro-batches
    mem.addData(a.toIndexedSeq); q.processAllAvailable()
    mem.addData(b.toIndexedSeq); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("qgate_out")
      .select("doc_id", "n_toks", "qscore", "keep")
      .as[(Long, Int, Double, Boolean)].collect().toSet
    val batch = CurationQueries
      .q78QualityClassifier(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id").isin(docs.map(_._1): _*))
      .as[(Long, Int, Double, Boolean)].collect().toSet
    assert(streamed == batch)
    assert(streamed.exists(_._4) && streamed.exists(!_._4),
      "gate should both pass and reject in the sample")
  }

  test("windowed event stats emit closed windows only, late data dropped") {
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = Streams.windowedEventStats(
        mem.toDF().toDF("ts", "event_type", "value"),
        window_ = "1 hour", lateness = "30 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      (ts("2026-01-01 10:10:00"), "click", 1.0),
      (ts("2026-01-01 10:40:00"), "click", 2.0),
      (ts("2026-01-01 10:50:00"), "view", 5.0))
    q.processAllAvailable()
    // advance watermark past 11:30 so the 10:00 window closes
    mem.addData((ts("2026-01-01 12:30:00"), "click", 7.0))
    q.processAllAvailable()
    // a straggler inside the closed window must be dropped
    mem.addData((ts("2026-01-01 10:20:00"), "click", 99.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows == Set(
      ("2026-01-01 10:00:00.0", "click", 2L, 3.0),
      ("2026-01-01 10:00:00.0", "view", 1L, 5.0)), rows)
  }

  test("file-source streaming dedup over the real documents table") {
    import spark.implicits._
    // stage the parquet file as a streaming source directory
    val srcDir = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(SparkSuite.sf0001, "documents.parquet"),
      srcDir.resolve("part-0.parquet"))
    val schema = Tables.load(spark, SparkSuite.sf0001, "documents").schema
    val stream = spark.readStream.schema(schema).parquet(srcDir.toString)
      .withColumn("ts", current_timestamp())
    val q = Streams.streamingExactDedup(stream)
      .writeStream.format("memory").queryName("file_dedup_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("file_dedup_out")
    // one survivor per distinct fingerprint, same fingerprint set as batch
    val batchFps = Queries.q18ExactDedup(spark, SparkSuite.sf0001)
      .select("fp").as[String].collect().toSet
    assert(got.count() == batchFps.size.toLong)
    assert(got.select("fp").as[String].collect().toSet == batchFps)
  }

  test("semantic gate flags corpus near-dups, passes novel vectors, statelessly") {
    import spark.implicits._
    // corpus: 32 orthogonal basis vectors (dim 64) — any copy is sim 1,
    // any unused basis direction is sim 0 to every member
    def basis(b: Int, scale: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == b) scale else 0f)
    val corpusDf = (0 until 32)
      .map(i => (i.toLong, basis(i, 2f))).toDF("vec_id", "embedding")
    val (indexed, model) = graft.index.IvfIndex.build(corpusDf, "embedding",
      graft.index.IvfIndex.Params(listSize = 8, sampleSize = 32))
    val corpus = indexed.select("centroid_id", "embedding")
      .localCheckpoint(true)
    // arrivals: 5 copies of corpus members (dups), 5 novel directions
    val srcDir = java.nio.file.Files.createTempDirectory("sem_gate")
    ((0 until 5).map(i => (100L + i, basis(i, 3f))) ++
      (0 until 5).map(j => (200L + j, basis(40 + j, 1f))))
      .toDF("vec_id", "embedding")
      .write.parquet(srcDir.resolve("b0").toString)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .option("path", srcDir.resolve("b0").toString).format("parquet").load()
    val gated = Streams.semanticGate(stream, model, corpus)
    val q = gated.writeStream.format("memory").queryName("sem_gate_out")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sem_gate_out")
      .select("vec_id", "dup").as[(Long, Boolean)].collect().toMap
    assert(got.size == 10)
    (0 until 5).foreach(i => assert(got(100L + i), s"copy of member $i must flag"))
    (0 until 5).foreach(j => assert(!got(200L + j), s"novel ${200 + j} must pass"))
    // stateless: the physical plan carries no stateful operator
    val progress = q.lastProgress
    assert(progress.stateOperators.isEmpty,
      s"gate must be stateless, got ${progress.stateOperators.length} state ops")
  }

  test("binary-index semantic gate prunes to the batch's probe lists") {
    import spark.implicits._
    def basis(b: Int, scale: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == b) scale else 0f)
    val corpusDf = (0 until 32)
      .map(i => (i.toLong, basis(i, 2f))).toDF("vec_id", "embedding")
    val (indexed, model) = graft.index.IvfIndex.build(corpusDf, "embedding",
      graft.index.IvfIndex.Params(listSize = 8, sampleSize = 32))
    val idxPath = java.nio.file.Files.createTempDirectory("sem_bin_idx").toString
    graft.sources.IvfBinarySource.write(indexed, "vec_id", "embedding", idxPath)
    val srcDir = java.nio.file.Files.createTempDirectory("sem_bin_src")
    ((0 until 3).map(i => (100L + i, basis(i, 3f))) ++
      (0 until 3).map(j => (200L + j, basis(40 + j, 1f))))
      .toDF("vec_id", "embedding")
      .write.parquet(srcDir.resolve("b0").toString)
    val stream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .parquet(srcDir.resolve("b0").toString)
    val outDir = java.nio.file.Files.createTempDirectory("sem_bin_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sem_bin_ck").toString
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    Streams.runSemanticGateBinary(stream, model, idxPath, outDir, ckpt,
      onBatchPlan = plans += _)
    val got = spark.read.parquet(outDir)
      .select("vec_id", "dup").as[(Long, Boolean)].collect().toMap
    assert(got.size == 6)
    (0 until 3).foreach(i => assert(got(100L + i), s"copy of member $i must flag"))
    (0 until 3).foreach(j => assert(!got(200L + j), s"novel ${200 + j} must pass"))
    // the batch plan scanned ONLY the probed lists (pushed In filter),
    // never the whole index
    assert(plans.size == 1)
    val scans = plans.head.linesIterator
      .filter(_.contains("GraftIvfScan")).toSeq
    assert(scans.nonEmpty && scans.forall(s =>
      s.contains("lists=[") && !s.contains("lists=ALL")),
      s"corpus scan must be list-pruned:\n${scans.mkString("\n")}")
  }

  test("windowed stats on the real events stream equal the batch computation") {
    val srcDir = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(SparkSuite.sf0001, "events.parquet"),
      srcDir.resolve("part-0.parquet"))
    val batchEv = Tables.load(spark, SparkSuite.sf0001, "events")
    // stream the same file, normalizing ts exactly like the batch loader:
    // nanos-as-long generations narrow to micros, NTZ generations cast LTZ
    val rawSchema = spark.read.parquet(srcDir.toString).schema
    val raw = spark.readStream.schema(rawSchema).parquet(srcDir.toString)
    val stream = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
    val q = Streams.windowedEventStats(stream, window_ = "1 hour", lateness = "0 seconds")
      .writeStream.format("memory").queryName("win_parity_out")
      .outputMode(OutputMode.Complete).start()
    q.processAllAvailable()
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("sum_value"), 2).as("sv"))
      .collect().map(r =>
        (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val streamed = canon(spark.table("win_parity_out"))
    val batch = canon(Streams.windowedEventStats(batchEv, "1 hour", "0 seconds"))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("checkpointed upsert-sink ingest: restart resumes, replay is idempotent") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("upsert_src")
    val ckpt = java.nio.file.Files.createTempDirectory("upsert_ckpt").toString
    val store = graft.sources.ParquetStore(
      java.nio.file.Files.createTempDirectory("chunk_store").toString,
      "chunk_key", nBuckets = 4)

    def addFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("stage")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite")
        .parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(name))
    }
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING").parquet(srcDir.toString)
      Streams.runIngestUpsert(stream, model, store, ckpt)
    }

    addFile("a.parquet", Seq((1L, """{"t": "first doc"}"""), (2L, """{"t": "second doc"}""")))
    run()
    val afterA = store.read(spark).count()
    assert(afterA >= 2)

    // restart with the same checkpoint: only the new file is processed
    addFile("b.parquet", Seq((3L, """{"t": "third doc"}""")))
    run()
    val afterB = store.read(spark)
    assert(afterB.count() > afterA)
    assert(afterB.select("doc_id").distinct().count() == 3)

    // replay everything (wipe the checkpoint): key-idempotent upsert
    // leaves the store byte-for-byte equivalent, no duplicates
    def snapshot() = store.read(spark)
      .select(col("chunk_key"), col("doc_id"), col("chunk"), base64(col("qvec")))
      .collect().map(_.toSeq).toSet
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    val before = snapshot()
    run()
    assert(snapshot() == before)

    // post-drain compaction: after several upserting batches, one more
    // drained run with compactAfter folds every bucket to one file and
    // changes no row
    addFile("c.parquet", Seq((4L, """{"t": "fourth doc"}""")))
    val stream2 = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(srcDir.toString)
    Streams.runIngestUpsert(stream2, model, store, ckpt, compactAfter = true)
    store.bucketDirs.foreach { d =>
      val files = new java.io.File(store.path, d).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(files == 1, s"$d not compacted ($files files)")
    }
    assert(store.read(spark).select("doc_id").distinct().count() == 4)
  }

  test("stream-stream join pairs events within the time bound only") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val buys = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val q = Streams.joinWithinWindow(
        clicks.toDF().toDF("user_id", "ts"),
        buys.toDF().toDF("user_id", "ts"),
        "user_id", withinSeconds = 600)
      .select(col("l_ts").as("click_ts"), col("r_ts").as("buy_ts"),
        col("l_user_id"))
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    clicks.addData((1L, ts("2026-01-01 10:00:00")), (2L, ts("2026-01-01 10:00:00")))
    buys.addData(
      (1L, ts("2026-01-01 10:05:00")), // within 10 min -> joins
      (1L, ts("2026-01-01 10:20:00")), // outside bound -> dropped
      (2L, ts("2026-01-01 09:55:00"))) // before the click -> dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_out")
      .collect().map(r => (r.getLong(2), r.getTimestamp(1).toString)).toSet
    assert(rows == Set((1L, "2026-01-01 10:05:00.0")), rows)
  }

  test("built-in session_window agrees with the hand-rolled sessionization") {
    // batch check on the real events table: per-user session count from
    // groupBy(session_window(ts, 30 min)) must equal q29's n_sessions
    val ev = Tables.load(spark, SparkSuite.sf0001, "events")
    val viaBuiltin = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .count()
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaManual = PipelineQueries.q29Sessionize(spark, SparkSuite.sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBuiltin == viaManual)
  }

  test("stateful sessionization closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val s = spark
    val mem = MemoryStream[Streams.Ev](spark)
    val base = 1767225600000000L // 2026-01-01 00:00:00 UTC in micros
    val min = 60L * 1000000L
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    // user 1: two sessions separated by a 40-min gap inside one batch;
    // user 2: one session that only the event-time timeout can close
    mem.addData(
      Streams.Ev(1L, 1L, base),
      Streams.Ev(1L, 2L, base + 5 * min),
      Streams.Ev(1L, 3L, base + 45 * min),
      Streams.Ev(2L, 4L, base + 10 * min))
    q.processAllAvailable()
    // push the watermark far past every open session's gap horizon
    mem.addData(Streams.Ev(99L, 9L, base + 300 * min))
    q.processAllAvailable()
    mem.addData(Streams.Ev(99L, 10L, base + 600 * min))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .select("user_id", "start_us", "end_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(rows.contains((1L, base, base + 5 * min, 2)), rows) // closed by gap
    assert(rows.contains((1L, base + 45 * min, base + 45 * min, 1)), rows) // closed by timeout
    assert(rows.contains((2L, base + 10 * min, base + 10 * min, 1)), rows) // closed by timeout
  }

  test("streaming bounded history: snapshots equal the batch operator; TTL drops state") {
    import spark.implicits._
    implicit val s = spark
    val mem = MemoryStream[Streams.Ev](spark)
    val base = 1767225600000000L // 2026-01-01 00:00:00 UTC in micros
    val min = 60L * 1000000L
    val snaps =
      scala.collection.mutable.ArrayBuffer.empty[Set[(Long, Long, Long)]]
    def handle(df: org.apache.spark.sql.Dataset[Streams.Ev], id: Long): Unit = {
      val rows = df.collect().map(e => (e.user_id, e.event_id, e.ts_us)).toSet
      if (rows.nonEmpty) snaps.synchronized { snaps += rows }
    }
    val q = Streams.streamingBoundedHistory(mem.toDS(), maxEvents = 3,
        ttlMinutes = 120)
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch(handle _)
      .start()
    def batchOp(evs: Seq[Streams.Ev], users: Set[Long]): Set[(Long, Long, Long)] =
      graft.operators.RankOps.boundedUserHistory(
        evs.toDF("user_id", "event_id", "ts_us"),
        "user_id", "ts_us", "event_id", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter(t => users.contains(t._1)).toSet
    def lastSnap(): Set[(Long, Long, Long)] = snaps.synchronized { snaps.last }

    // batch 1: user 1 overflows the bound INSIDE one batch (5 events,
    // 2 evicted by the k=3 buffer); user 2 is under it (keep-all)
    val b1 = Seq(Streams.Ev(1, 1, base), Streams.Ev(1, 2, base + 1 * min),
      Streams.Ev(1, 3, base + 2 * min), Streams.Ev(1, 4, base + 3 * min),
      Streams.Ev(1, 5, base + 4 * min),
      Streams.Ev(2, 10, base), Streams.Ev(2, 11, base + 1 * min))
    mem.addData(b1: _*); q.processAllAvailable()
    assert(lastSnap() == batchOp(b1, Set(1, 2)),
      s"batch-1 snapshot diverged: ${lastSnap()}")

    // batch 2: a LATE arrival below user 1's surviving window (must not
    // enter the top-3) plus a fresh user-2 event — every emitted
    // snapshot still equals the batch operator over the full prefix
    val b2 = Seq(Streams.Ev(1, 6, base + 90L * 1000000L),
      Streams.Ev(2, 12, base + 5 * min))
    mem.addData(b2: _*); q.processAllAvailable()
    assert(lastSnap() == batchOp(b1 ++ b2, Set(1, 2)),
      s"batch-2 snapshot diverged: ${lastSnap()}")

    // TTL: a far-future event (user 99) pushes the watermark past both
    // users' newest-event + 120 min horizon; the next batch fires their
    // EventTimeTimeout and drops the buffers...
    mem.addData(Streams.Ev(99, 90, base + 600 * min)); q.processAllAvailable()
    mem.addData(Streams.Ev(99, 91, base + 601 * min)); q.processAllAvailable()
    // ...so user 1's next arrival starts a FRESH history: the snapshot
    // holds only the new event (un-dropped state would have kept
    // events 4 and 5 alongside it — k=3 has room)
    mem.addData(Streams.Ev(1, 7, base + 602 * min)); q.processAllAvailable()
    q.stop()
    val afterTtl = lastSnap()
    assert(afterTtl == Set((1L, 7L, base + 602 * min)),
      s"TTL should have dropped user 1's pre-expiry history: $afterTtl")
  }

  test("mergeHistory order is exact for ALL Longs, including MinValue/MaxValue") {
    // the r16 shape sorted by (-t, -i): -Long.MinValue overflows back to
    // Long.MinValue, so a MinValue timestamp sorted as the NEWEST event
    // and the batch-twin equality held only for "realistic" inputs.
    // Reference = full descending (ts, id) sort with no negation.
    def ref(evs: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
      evs.sorted.reverse.take(k)
    val bnd = Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L,
      Long.MaxValue - 1, Long.MaxValue)
    // exhaustive boundary grid: every (ts, id) pair drawn from the
    // boundary set, merged in every prev/arrival split
    val all = for (t <- bnd; i <- bnd) yield (t, i)
    val rnd = new scala.util.Random(17)
    (0 until 50).foreach { _ =>
      val evs = rnd.shuffle(all).take(3 + rnd.nextInt(all.size - 3)).distinct
      val (prev, arr) = evs.splitAt(rnd.nextInt(evs.size + 1))
      val k = 1 + rnd.nextInt(evs.size)
      // prev is itself a survivor set (sorted desc), as the state keeps it
      val got = Streams.mergeHistory(
        ref(prev, prev.size).toArray, arr.iterator, k).toSeq
      assert(got == ref(evs, k),
        s"k=$k prev=$prev arr=$arr: $got != ${ref(evs, k)}")
    }
    // the exact r16 counterexample, pinned: MinValue must sort OLDEST
    val got = Streams.mergeHistory(Array((0L, 1L)),
      Iterator((Long.MinValue, 2L)), 1).toSeq
    assert(got == Seq((0L, 1L)),
      s"MinValue ts must not evict a newer event: $got")
  }

  test("streaming drift monitor: closed windows equal the batch twin; late drops; timeout closes") {
    import spark.implicits._
    implicit val s = spark
    val winMin = 10
    val winUs = winMin * 60L * 1000000L
    val base = 1767225600000000L // 2026-01-01 00:00 UTC — window-aligned
    val min = 60L * 1000000L
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = Streams.streamingDriftMonitor(
        mem.toDF().toDF("source", "ts_us", "q"), winMin, latenessMinutes = 5)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode(OutputMode.Append).start()

    // q values exactly representable in binary so the stream's fold
    // order and the batch twin's partial-aggregate order sum identically
    val b1 = Seq(("a", base + 1 * min, 0.5), ("a", base + 2 * min, 1.0),
      ("a", base + 11 * min, 0.25), ("b", base + 3 * min, 0.75))
    val b2 = Seq(("a", base + 21 * min, 1.0))
    val b3 = Seq(("a", base + 31 * min, 0.5))
    // base+4min falls in source a's window 0, which closes before this
    // batch runs — beyond-watermark late, must be dropped AND must not
    // poison the cumulative mean of every later window
    val b4 = Seq(("a", base + 4 * min, 0.25), ("a", base + 61 * min, 0.75))
    val b5 = Seq(("a", base + 120 * min, 1.0))
    val b6 = Seq(("a", base + 180 * min, 0.25))
    Seq(b1, b2, b3, b4, b5, b6).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("drift_out")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // append finality: a closed window is emitted exactly once
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length,
      s"a window row was emitted twice: ${got.toSeq}")
    // source b's only close had NO later b arrivals — the
    // EventTimeTimeout fired it as other sources advanced the watermark
    assert(got.exists(t => t._1 == "b" && t._2 == base / winUs),
      s"b's window must close by timeout alone: ${got.toSeq}")
    // every emitted row equals the batch twin on the KEPT events (the
    // dropped-late row is outside both engines' input by contract)
    val kept = (b1 ++ b2 ++ b3 ++ b4.drop(1) ++ b5 ++ b6)
      .toDF("source", "ts_us", "q")
    val twin = AuditQueries.driftWindows(kept, expr(s"ts_us div $winUs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got.toSet.subsetOf(twin),
      s"streamed rows diverge from the batch twin:\n  got ${got.toSet}\n" +
        s"  twin $twin")
    // and the closes actually happened: both sources' first windows and
    // a's multi-window backlog are all in
    val closed = got.map(t => (t._1, t._2)).toSet
    assert(Set(("a", base / winUs), ("a", base / winUs + 1),
      ("b", base / winUs)).subsetOf(closed),
      s"expected early windows to have closed: $closed")
  }

  test("drift alert sink: each drifting window pages exactly once, none missed") {
    // the scaladoc's alerting example, executed: filter + foreachBatch
    // IS the pager — append-final rows mean no dedup tier, and the
    // paged set must equal the batch twin's drifting windows exactly
    import spark.implicits._
    implicit val s = spark
    val winMin = 10
    val winUs = winMin * 60L * 1000000L
    val base = 1767225600000000L
    val min = 60L * 1000000L
    val tau = 0.1
    val paged = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = Streams.streamingDriftMonitor(
        mem.toDF().toDF("source", "ts_us", "q"), winMin,
        latenessMinutes = 5)
      .filter(col("drift") > tau)
      .writeStream
      .foreachBatch {
        (alerts: org.apache.spark.sql.Dataset[Streams.DriftWin],
         _: Long) =>
        // foreachBatch runs driver-side; alert rows are final and
        // dimension-sized (drifting windows), so collect IS the pager
        paged ++= alerts.collect().map(a => (a.source, a.bucket))
        ()
      }
      .outputMode(OutputMode.Append).start()
    // window 0 mean 0.75 (drift 0); window 1 mean 0.25 (cum 7/12 ->
    // drift 1/3: pages); window 2 mean 0.75 (cum 7/12: pages); window
    // 3 mean 0.5625 -> |0.5625 - 0.578125| ~ 0.0156: quiet
    val batches = Seq(
      Seq(("a", base + 1 * min, 0.5), ("a", base + 2 * min, 1.0)),
      Seq(("a", base + 11 * min, 0.25)),
      Seq(("a", base + 21 * min, 0.75)),
      Seq(("a", base + 31 * min, 0.5), ("a", base + 32 * min, 0.625)),
      Seq(("a", base + 99 * min, 1.0)))
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // exactly once: no window paged twice
    assert(paged.distinct.size == paged.size,
      s"a window paged more than once: $paged")
    // completeness + precision: the paged set IS the batch twin's
    // drifting-window set over the closed windows
    val twin = AuditQueries.driftWindows(
        batches.flatten.toDF("source", "ts_us", "q"),
        expr(s"ts_us div $winUs"))
      .filter(col("drift") > tau)
      .filter(col("bucket") < (base + 99 * min) / winUs) // last stays open
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(twin.nonEmpty, "test data produced no drifting windows")
    assert(paged.toSet == twin,
      s"paged $paged != drifting windows $twin")
  }

  test("drift monitor replays q137's event-time windows on the real events table") {
    import spark.implicits._
    implicit val s = spark
    val dir = SparkSuite.sf0001
    val winMin = 360
    val latenessMin = 5
    val winUs = winMin * 60L * 1000000L
    // exactly q137's feed: (event_type, ts, value in integral
    // hundredths) — the scaladoc's claim that the monitor replays a
    // live stream of the TVF's shape window-for-window, executed
    val rows = Tables.load(spark, dir, "events")
      .select(col("event_type").as("source"),
        expr("unix_micros(ts)").as("ts_us"),
        round(col("value") * 100, 0).as("q"))
      .as[(String, Long, Double)].collect().sortBy(_._2)
    val mem = MemoryStream[(String, Long, Double)](spark)
    val q = Streams.streamingDriftMonitor(
        mem.toDF().toDF("source", "ts_us", "q"), winMin, latenessMin)
      .writeStream.format("memory").queryName("drift_ts_out")
      .outputMode(OutputMode.Append).start()
    // three in-order batches: the watermark advances between them, so
    // windows close incrementally, not in one final sweep
    rows.grouped(math.max(rows.length / 3, 1)).foreach { b =>
      mem.addData(b.toSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("drift_ts_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    // expected = the q137 registry pipeline, restricted to the windows
    // the final watermark (max event time − lateness, ms floor) closed
    val finalWmUs =
      (rows.map(_._2).max / 1000L - latenessMin * 60L * 1000L) * 1000L
    val twin = AuditQueries.q137DriftWindowsTs(spark, dir)
      .filter((col("bucket") + 1) * winUs <= finalWmUs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(twin.nonEmpty, "no closable windows — widen the test data")
    assert(got == twin,
      s"streamed windows diverge from q137: ${(got -- twin).take(3)} " +
        s"extra, ${(twin -- got).take(3)} missing " +
        s"(got ${got.size}, twin ${twin.size})")
  }

  /** Deterministic GroupState stub so driftStep's invariants can be
    * checked batch-by-batch without MemoryStream timing. */
  private class StubState[S](var opt: Option[S], wmMs: Long)
      extends org.apache.spark.sql.streaming.GroupState[S] {
    var timeoutMs: Long = Long.MinValue
    override def exists: Boolean = opt.isDefined
    override def get: S = opt.get
    override def getOption: Option[S] = opt
    override def update(s: S): Unit = opt = Some(s)
    override def remove(): Unit = opt = None
    override def hasTimedOut: Boolean = false
    override def setTimeoutDuration(ms: Long): Unit = ()
    override def setTimeoutDuration(d: String): Unit = ()
    override def setTimeoutTimestamp(ms: Long): Unit = timeoutMs = ms
    override def setTimeoutTimestamp(ms: Long, add: String): Unit = ()
    override def setTimeoutTimestamp(ts: java.sql.Date): Unit = ()
    override def setTimeoutTimestamp(ts: java.sql.Date, add: String): Unit = ()
    override def getCurrentWatermarkMs(): Long = wmMs
    override def getCurrentProcessingTimeMs(): Long = 0L
  }

  test("driftStep invariants: close order, inclusive cumulative, frontier drop, exact-end close") {
    val winUs = 600L * 1000000L // 10 min
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def ev(tsUs: Long, q: Double) = ("s", tsUs, q, ts)
    // batch 1 at watermark 0: windows 0 and 2 accumulate, NOTHING
    // closes, timeout armed past the watermark
    val st1 = new StubState[Streams.DriftState](None, 0L)
    val out1 = Streams.driftStep(winUs)("s", Iterator(
      ev(1L * winUs / 2, 0.5), ev(1L * winUs / 4, 1.0),
      ev(2L * winUs + 1, 0.25)), st1).toList
    assert(out1.isEmpty, s"nothing may close at wm=0: $out1")
    assert(st1.opt.get.openStarts.toSeq == Seq(0L, 2 * winUs))
    assert(st1.timeoutMs == winUs / 1000L,
      s"timeout must arm at the earliest open end: ${st1.timeoutMs}")
    // batch 2: watermark EXACTLY at window 0's end — end <= wm closes
    // (the boundary is inclusive); window 2 stays open
    val st2 = new StubState[Streams.DriftState](st1.opt, winUs / 1000L)
    val out2 = Streams.driftStep(winUs)("s", Iterator.empty, st2).toList
    assert(out2 == List(Streams.DriftWin("s", 0L, 2, 0.75, 0.0)),
      s"window 0 must close exactly at its end: $out2")
    assert(st2.opt.get.lastClosedStart == 0L)
    // batch 3: a LATE arrival for closed window 0 is dropped (no
    // output, no state change beyond what the batch adds) and must not
    // poison the cumulative mean; two more windows close IN ORDER with
    // the cumulative inclusive at each step
    val st3 = new StubState[Streams.DriftState](st2.opt, 4 * winUs / 1000L)
    val out3 = Streams.driftStep(winUs)("s", Iterator(
      ev(1L, 100.0), // late: window 0 is at-or-before the frontier
      ev(3L * winUs + 2, 1.0)), st3).toList
    // close order: window 2 (mean 0.25; cum (1.5+0.25)/3) then window
    // 3 (mean 1.0; cum (1.75+1.0)/4)
    assert(out3 == List(
      Streams.DriftWin("s", 2L, 1, 0.25, Streams.round4(
        math.abs(0.25 - 1.75 / 3))),
      Streams.DriftWin("s", 3L, 1, 1.0, Streams.round4(
        math.abs(1.0 - 2.75 / 4)))), s"ordered closes diverged: $out3")
    val fin = st3.opt.get
    assert(fin.openStarts.isEmpty && fin.closedN == 4 &&
      fin.closedSum == 2.75,
      s"the late row must not enter any aggregate: $fin")
  }

  test("drift monitor refuses a lateness >> window misconfig at construction") {
    implicit val s = spark
    import spark.implicits._
    val df = Seq(("a", 0L, 1.0)).toDF("source", "ts_us", "q")
    val e = intercept[IllegalArgumentException] {
      // 2048 open 1-min windows per source — over MaxOpenDriftWindows
      Streams.streamingDriftMonitor(df, windowMinutes = 1,
        latenessMinutes = 2048)
    }
    assert(e.getMessage.contains("window partials live per source"),
      e.getMessage)
    // the bound itself is fine: lateness/window + 2 == the cap passes
    Streams.streamingDriftMonitor(df, windowMinutes = 1,
      latenessMinutes = Streams.MaxOpenDriftWindows - 2)
  }

  test("growth tracker: incremental HLL merge equals one-shot sketch, bounded state") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("growth_store").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("growth_ckpt").toString
    val mem = MemoryStream[(Long, String, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "source", "text")
    def drain(): Unit = Streams.runGrowthTracker(stream, store, ckpt, lgK = 12)

    // three micro-batches with cross-batch duplicates (same text reappears)
    val b1 = (0L until 200L).map(i => (i, s"src${i % 3}", s"text number ${i % 150}"))
    val b2 = (200L until 350L).map(i => (i, s"src${i % 3}", s"text number ${i % 120}"))
    val b3 = (350L until 400L).map(i => (i, s"src${i % 3}", s"text number $i"))
    mem.addData(b1.toIndexedSeq: _*); drain()
    mem.addData(b2.toIndexedSeq: _*); drain()
    mem.addData(b3.toIndexedSeq: _*); drain()

    val got = Streams.growthReport(spark, store)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    // HLL register merge is associative+commutative ⇒ the incrementally
    // maintained sketch must equal sketching the WHOLE corpus at once —
    // exact equality, not a tolerance band
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "source", "text")
    val oneShot = all
      .select(col("source"), md5(lower(trim(col("text")))).as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        hll_sketch_estimate(hll_sketch_agg(col("fp"), lit(12))).as("d"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == oneShot, s"$got vs $oneShot")

    // the estimate is honest: within 2% of the true distinct count
    val exact = all.select(col("source"), md5(lower(trim(col("text")))).as("fp"))
      .groupBy("source").agg(countDistinct("fp").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (src, d) =>
      assert(math.abs(got(src)._2 - d).toDouble / d < 0.02, s"$src: ${got(src)._2} vs $d")
    }
    // stored state is |sources| rows — independent of stream length
    assert(spark.read.parquet(store).count() == 3)
  }

  test("validation gate: clean batches append, dirty batches quarantine whole") {
    import spark.implicits._
    import graft.operators.Expectations._
    val out = java.nio.file.Files.createTempDirectory("vgate_out").toString + "/o"
    val quar = java.nio.file.Files.createTempDirectory("vgate_q").toString
    val ckpt = java.nio.file.Files.createTempDirectory("vgate_ckpt").toString
    val mem = MemoryStream[(Long, String, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text", "lang")
    val checks = Seq(notNull("text"), unique("doc_id"),
      inSet("lang", Seq("en", "de")))
    def drain(): Unit =
      Streams.runValidationGate(stream, checks, out, quar, ckpt)

    mem.addData((1L, "ok one", "en"), (2L, "ok two", "de")); drain()
    // dup id + bad lang: the whole batch must quarantine
    mem.addData((3L, "bad", "xx"), (3L, "dup", "en")); drain()
    mem.addData((4L, "ok three", "en")); drain()

    val kept = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L), s"kept $kept")

    val qBatches = new java.io.File(quar).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(qBatches.size == 1, s"quarantined $qBatches")
    val qRows = spark.read.parquet(s"$quar/${qBatches.head}")
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(qRows == Seq(3L, 3L))

    // the report names exactly the violated checks
    val rep = new java.io.File(quar).listFiles()
      .filter(_.getName.startsWith("report-")).toSeq
    assert(rep.size == 1)
    val js = new String(java.nio.file.Files.readAllBytes(rep.head.toPath))
    assert(js.contains(""""check":"unique(doc_id)","n_rows":2,"violations":1,"pass":false"""), js)
    assert(js.contains(""""check":"in_set(lang)","n_rows":2,"violations":1,"pass":false"""), js)
    assert(js.contains(""""check":"not_null(text)","n_rows":2,"violations":0,"pass":true"""), js)
  }

  test("streaming decontamination gate quarantines a planted leaked arrival") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // eval example: 7 tokens → 5 distinct 3-shingles (the q130 fixture)
    val benchText = "qq1 qq2 qq3 qq4 qq5 qq6 qq7"
    val bench = Seq((9000L, benchText)).toDF("doc_id", "text")
    def leak(id: Long, k: Int): (Long, String) = {
      val bt = benchText.split(" ").take(k + 2)
      (id, (bt ++ (1 to 12).map(j => s"u${id}x$j")).mkString(" "))
    }
    val out = java.nio.file.Files.createTempDirectory("dgate_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("dgate_ckpt").toString
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    def drain(): Unit =
      Streams.runDecontaminationGate(stream, bench, out, ckpt)

    mem.addData(
      leak(10L, 5), // C = 1.0 → contaminated
      leak(11L, 4), // C = 0.8 → contaminated (boundary)
      (12L, (1 to 15).map(j => s"cl12w$j").mkString(" "))) // clean
    drain()
    // a later batch gates against the same static suite
    mem.addData(leak(13L, 3), // C = 0.6 → review band, NOT contaminated
      (14L, (1 to 15).map(j => s"cl14w$j").mkString(" ")))
    drain()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L, 14L))
    assert(got(10L) == ((1.0, 1L, true)))
    assert(got(11L) == ((0.8, 1L, true)))
    assert(got(12L) == ((0.0, 0L, false)))
    assert(got(13L) == ((0.6, 1L, false)))
    assert(got(14L) == ((0.0, 0L, false)))
    // the quarantine split is the contaminated filter, receipts intact
    assert(spark.read.parquet(out).filter(col("contaminated"))
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(10L, 11L))
  }

  test("streaming decontamination REWRITE cuts leaked spans on ingest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bench = Seq((9000L, (1 to 8).map(j => s"bb$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("drw_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("drw_ckpt").toString
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    def drain(): Unit =
      Streams.runDecontaminationRewrite(stream, bench, out, ckpt)

    val kept8 = (1 to 8).map(j => s"keep$j").mkString(" ")
    mem.addData(
      (10L, (1 to 8).map(j => s"bb$j").mkString(" ") + " " + kept8), // half leaked
      (11L, (1 to 8).map(j => s"bb$j").mkString(" ")), // fully leaked
      (12L, (1 to 12).map(j => s"cl$j").mkString(" "))) // clean
    drain()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.keySet == Set(10L, 11L, 12L))
    assert(got(10L) == ((kept8, 1L, false)), s"half-leaked: ${got(10L)}")
    assert(got(11L)._3 && got(11L)._2 == 1L, s"fully-leaked: ${got(11L)}")
    assert(got(12L) == (((1 to 12).map(j => s"cl$j").mkString(" "), 0L, false)))
  }

  test("decontamination gates prepare the suite ONCE across micro-batches") {
    import spark.implicits._
    // instrument the suite source with an accumulator: the r10 shape
    // re-ran the suite explode+broadcast inside foreachBatch, so an
    // AvailableNow catch-up over thousands of batches paid thousands of
    // identical suite jobs — prepared+pinned, the source reads once
    val benchText = "qq1 qq2 qq3 qq4 qq5 qq6 qq7"
    val acc = spark.sparkContext.longAccumulator("benchSourceReads")
    val benchRdd = spark.sparkContext
      .parallelize(Seq((9000L, benchText)), 1)
      .map { r => acc.add(1); org.apache.spark.sql.Row(r._1, r._2) }
    val bench = spark.createDataFrame(benchRdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    // three arrivals land as THREE files → maxFilesPerTrigger=1 gives
    // three micro-batches inside ONE AvailableNow gate run
    val in = java.nio.file.Files.createTempDirectory("dgate1_in").toString
    Seq((20L, benchText)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    Seq((21L, "clean one " + (1 to 10).map(j => s"a$j").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((22L, "clean two " + (1 to 10).map(j => s"b$j").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val out = java.nio.file.Files.createTempDirectory("dgate1_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("dgate1_ck").toString
    Streams.runDecontaminationGate(stream, bench, out, ckpt)
    // ≥3 committed micro-batches in one run…
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .count(_.getName.forall(_.isDigit))
    assert(commits >= 3, s"expected ≥3 micro-batches, got $commits")
    // …but the suite source was scanned exactly once (the prepare pin)
    assert(acc.value == 1L, s"suite source read ${acc.value} times")
    val got = spark.read.parquet(out)
      .select("doc_id", "contaminated").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(20L -> true, 21L -> false, 22L -> false), s"$got")
    // the REWRITE gate over the same three files: ≥3 micro-batches in
    // one run, one receipt row per arrival, one more suite read (its
    // own prepare pin)
    val rwOut = java.nio.file.Files.createTempDirectory("dgate1_rw").toString + "/o"
    val rwCkpt = java.nio.file.Files.createTempDirectory("dgate1_rwck").toString
    Streams.runDecontaminationRewrite(stream, bench, rwOut, rwCkpt)
    val rwCommits = new java.io.File(s"$rwCkpt/commits").listFiles()
      .count(_.getName.forall(_.isDigit))
    assert(rwCommits >= 3, s"expected ≥3 micro-batches, got $rwCommits")
    assert(acc.value == 2L, s"suite source read ${acc.value} times")
    assert(spark.read.parquet(rwOut).count() == 3)
  }

  test("decontamination gate: a NULL doc_id arrival gets its own verdict") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val benchText = "qq1 qq2 qq3 qq4 qq5 qq6 qq7"
    val bench = Seq((9000L, benchText)).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("dgate2_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("dgate2_ck").toString
    val mem = MemoryStream[(Option[Long], String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    // the contaminated arrival has NO doc_id: the old doc_id join-back
    // detached its verdict and coalesced it to contaminated=false — a
    // silent false-clean from a safety gate (r10 ADVICE)
    mem.addData(
      (None, benchText + " pad1 pad2 pad3"),
      (Some(30L), benchText + " pad1 pad2 pad3"),
      (Some(31L), "clean " + (1 to 12).map(j => s"c$j").mkString(" ")))
    Streams.runDecontaminationGate(stream, bench, out, ckpt)
    val rows = spark.read.parquet(out)
      .select("doc_id", "contaminated").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) ->
        r.getBoolean(1)).toMap
    assert(rows == Map(None -> true, Some(30L) -> true, Some(31L) -> false),
      s"$rows")
  }

  test("decontamination rewrite: null-id arrivals land, duplicates stay linear") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val bench = Seq((9000L, (1 to 8).map(j => s"bb$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("drw2_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("drw2_ck").toString
    val mem = MemoryStream[(Option[Long], String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    val leaked = (1 to 8).map(j => s"bb$j").mkString(" ") + " " +
      (1 to 8).map(j => s"keep$j").mkString(" ")
    // an at-least-once source replays doc 40 three times in one batch:
    // the old per-doc_id join-back emitted 3×3 rows (and dropped the
    // null-id arrival entirely via its inner join)
    mem.addData(
      (Some(40L), leaked), (Some(40L), leaked), (Some(40L), leaked),
      (None, leaked),
      (Some(41L), (1 to 10).map(j => s"cl$j").mkString(" ")))
    Streams.runDecontaminationRewrite(stream, bench, out, ckpt)
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 5, s"expected 5 receipt rows, got ${rows.length}")
    val kept8 = (1 to 8).map(j => s"keep$j").mkString(" ")
    val byId = rows.groupBy(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(byId(Some(40L)).length == 3 &&
      byId(Some(40L)).forall(_.getString(1) == kept8))
    assert(byId(None).length == 1 && byId(None).head.getString(1) == kept8,
      "the null-id arrival must land with its leaked span cut")
    assert(byId(Some(41L)).head.getLong(3) == 0L)
  }
}
