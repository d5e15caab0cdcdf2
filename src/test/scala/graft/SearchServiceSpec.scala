package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{gf, VectorKernels}
import graft.index.IvfIndex
import graft.sources.ParquetStore
import graft.SearchService.SearchRequest

/** The /api/search read path and the centroid-refresh job as operators. */
class SearchServiceSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // chunk table: 2 chunks per document (vec and its negation ⇒ distinct sims)
  private lazy val corpus = {
    val e = Tables.load(spark, SparkSuite.sf0001, "embeddings")
      .select(col("vec_id").as("document_id"), col("embedding"))
    val flipped = e.select(col("document_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    e.unionByName(flipped)
  }
  private lazy val built = IvfIndex.build(corpus, "embedding",
    IvfIndex.Params(listSize = 100, sampleSize = 2000))

  test("clamp mirrors the reference parameter rules") {
    import graft.SearchService.clamp
    assert(clamp(SearchRequest("q", count = 0), 5).count == 1)
    assert(clamp(SearchRequest("q", count = 99), 5).count == 20)
    assert(clamp(SearchRequest("q", offset = -3), 5).offset == 0)
    assert(clamp(SearchRequest("q", centroids = 0), 5).nprobe == 1)
    assert(clamp(SearchRequest("q", centroids = -1), 5).nprobe == 5)
    assert(clamp(SearchRequest("q", centroids = 3), 5).nprobe == 3)
  }

  test("search dedups per document, orders by similarity, paginates") {
    val (indexed, model) = built
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id").as("document_id"), col("text"))
    val page1 = SearchService.search(spark, indexed, docs, model,
      SearchRequest("find me things", count = 5, offset = 0, centroids = -1))
      .collect()
    assert(page1.length == 5)
    // one row per document, ordered by similarity desc
    assert(page1.map(_.getLong(0)).distinct.length == 5)
    val sims = page1.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    // payload joined
    assert(page1.forall(r => r.getString(2) != null))

    val page2 = SearchService.search(spark, indexed, docs, model,
      SearchRequest("find me things", count = 5, offset = 5, centroids = -1))
      .collect()
    assert(page2.length == 5)
    assert(page1.map(_.getLong(0)).toSet.intersect(page2.map(_.getLong(0)).toSet).isEmpty)
    assert(page1.last.getDouble(1) >= page2.head.getDouble(1))
  }

  test("searchBatch equals independent single searches per request") {
    val (indexed, model) = built
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id").as("document_id"), col("lang"))
    val reqs = Seq(
      SearchRequest("alpha query", count = 5, offset = 0, centroids = 2),
      SearchRequest("beta query", count = 3, offset = 2, centroids = 1),
      SearchRequest("gamma query", count = 4, offset = 0, centroids = -1),
      // repeated text: scored once, paged per request (count/offset vary)
      SearchRequest("alpha query", count = 3, offset = 5, centroids = 2),
      SearchRequest("alpha query", count = 5, offset = 0, centroids = 2))
    val batch = SearchService.searchBatch(spark, indexed, docs, model, reqs)
      .collect()
      .groupBy(_.getAs[Int]("qid"))
      .map { case (qid, rows) =>
        qid -> rows.map(r => (r.getAs[Long]("document_id"),
          r.getAs[Double]("similarity"), r.getAs[String]("lang"))).toSeq
      }
    reqs.zipWithIndex.foreach { case (req, qid) =>
      val single = SearchService.search(spark, indexed, docs, model, req)
        .collect()
        .map(r => (r.getAs[Long]("document_id"),
          r.getAs[Double]("similarity"), r.getAs[String]("lang"))).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single, s"request $qid")
    }
  }

  test("searchLocal returns exactly what search returns, with no Spark job") {
    val (indexed, model) = built
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id").as("document_id"), col("lang"))
    val reqs = Seq(
      SearchRequest("hot alpha", count = 5, offset = 0, centroids = 2),
      SearchRequest("hot beta", count = 3, offset = 2, centroids = 1),
      SearchRequest("hot gamma", count = 4, offset = 0, centroids = -1))
    val local = SearchService.LocalCorpus(
      SearchService.LocalCorpus.lists(indexed), SearchService.LocalCorpus.docs(docs))
    // a scope keeps the documents whose row it accepts; the Spark path
    // gets the same scope as a semi-joined index and filtered documents
    val en = docs.filter(col("lang") === "en")
    val inEn = Some((r: org.apache.spark.sql.Row) => r.getAs[String]("lang") == "en")
    for (req <- reqs; scoped <- Seq(false, true)) {
      val twoPhase = SearchService.search(spark,
        if (scoped) indexed.join(en.select("document_id"), Seq("document_id"), "left_semi")
        else indexed, if (scoped) en else docs, model, req).collect()
        .map(r => (r.getAs[Long]("document_id"),
          r.getAs[Double]("similarity"), r.getAs[String]("lang"))).toSeq
      var onDriver = Seq.empty[(Long, Double, String)]
      val jobs = SparkSuite.jobsOf {
        onDriver = SearchService.searchLocal(local, model, req, if (scoped) inEn else None)
          .map(h => (h.documentId, h.similarity, h.doc.map(_.getAs[String]("lang")).orNull))
      }
      assert(twoPhase.nonEmpty, s"request '${req.text}' scoped=$scoped")
      assert(onDriver == twoPhase, s"request '${req.text}' scoped=$scoped")
      assert(jobs.isEmpty, s"the driver path ran jobs: $jobs")
    }
  }

  test("search keeps left-join backfill semantics: missing ids null, duplicate ids fan out") {
    val (indexed, model) = built
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id").as("document_id"), col("lang"))
    val req = SearchRequest("backfill gaps", count = 5, centroids = -1)
    val full = SearchService.search(spark, indexed, docs, model, req).collect()
    assert(full.length == 5 && full.forall(!_.isNullAt(2)))
    val (gone, twice) = (full(1).getLong(0), full(3).getLong(0))
    val holey = docs.filter(col("document_id") =!= gone)
      .unionByName(docs.filter(col("document_id") === twice))
    val got = SearchService.search(spark, indexed, holey, model, req)
    assert(got.schema.fieldNames.toSeq == Seq("document_id", "similarity", "lang"))
    assert(got.schema("lang").nullable)
    val rows = got.collect()
    // page order is kept; the duplicated id repeats in its place
    assert(rows.map(_.getLong(0)).toSeq ==
      full.map(_.getLong(0)).toSeq.flatMap(id => if (id == twice) Seq(id, id) else Seq(id)))
    assert(rows.filter(_.getLong(0) == gone).forall(_.isNullAt(2)),
      "a hit without its document must keep null payload columns")
    val lang = full.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.filter(_.getLong(0) != gone).forall(r => r.getString(2) == lang(r.getLong(0))))
    // an empty page returns an empty frame of the same schema
    val empty = SearchService.search(spark, indexed.filter(lit(false)), docs, model, req)
    assert(empty.schema == got.schema)
    assert(empty.collect().isEmpty)
  }

  test("search runs the page and the backfill jobs; collecting its result runs none") {
    val (indexed, model) = built
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id").as("document_id"), col("lang"))
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf[A](body: => A): (A, Int) = {
      org.apache.spark.graftsync.ListenerSync.waitUntilEmpty(sc)
      jobs.set(0)
      val a = body
      org.apache.spark.graftsync.ListenerSync.waitUntilEmpty(sc)
      (a, jobs.get())
    }
    sc.addSparkListener(listener)
    try {
      // a serving probe (nprobe ≤ 8) pages in one exchange-free job; an
      // all-list probe pages through a shuffle, so only its collect counts
      Seq(SearchRequest("job probe", count = 5, centroids = 1),
          SearchRequest("job probe", count = 5, centroids = -1)).foreach { req =>
        val (df, built) = jobsOf(SearchService.search(spark, indexed, docs, model, req))
        if (req.centroids == 1) assert(built == 2, s"search submitted $built jobs for $req")
        val (rows, collected) = jobsOf(df.collect())
        assert(rows.length == 5)
        assert(collected == 0, s"collecting the search result submitted $collected jobs")
      }
      val (empty, _) = jobsOf(SearchService.search(spark, indexed.filter(lit(false)),
        docs, model, SearchRequest("job probe")))
      assert(jobsOf(empty.collect())._2 == 0)
    } finally sc.removeSparkListener(listener)
  }

  test("search with nprobe=all equals a brute-force per-document ranking") {
    val (indexed, model) = built
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id").as("document_id"), col("text"))
    val got = SearchService.search(spark, indexed, docs, model,
      SearchRequest("oracle check", count = 10, centroids = -1))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qvec = VectorKernels.dequantize(
      VectorKernels.noopEmbed("search_query: oracle check", 64))
    val brute = corpus
      .select(col("document_id"),
        gf.cosine_sim(col("embedding"), lit(qvec).cast("array<float>")).as("sim"))
      .groupBy("document_id").agg(max("sim").as("similarity"))
      .orderBy(col("similarity").desc, col("document_id").asc)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute)
  }

  test("category-scoped search through the ownership tree stays in scope") {
    // the reference builds centroids PER CATEGORY (dnc/dnc.go:35) and
    // every search runs inside one (owner, category) scope
    // (server/search.go:130-160). Engine shape: resolve the scope via the
    // broadcast-sized ownership tree, left-semi the fact corpus down to
    // the scope, build that scope's own model, search it.
    val docsRaw = Tables.load(spark, SparkSuite.sf0001, "documents")
    val store = OwnershipStore(
      java.nio.file.Files.createTempDirectory("own_search").toString)
    store.getOrCreate(docsRaw.select(col("source").as("owner_name"),
      col("lang").as("category_name")))
    val row = store.tree(spark).orderBy("owner_id", "category_id")
      .limit(1).collect().head
    val (ownerName, catName) = (row.getString(1), row.getString(3))
    val scopedDocs = docsRaw
      .filter(col("source") === ownerName && col("lang") === catName)
      .select(col("doc_id").as("document_id"))
    val scoped = corpus.join(scopedDocs, Seq("document_id"), "left_semi")
    val (indexed, model) = IvfIndex.build(scoped, "embedding",
      IvfIndex.Params(listSize = 100, sampleSize = 2000))
    val got = SearchService.search(spark, indexed,
      docsRaw.select(col("doc_id").as("document_id"), col("source"), col("lang")),
      model, SearchRequest("scoped query", count = 10, centroids = -1)).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getAs[String]("source") == ownerName &&
      r.getAs[String]("lang") == catName), "search leaked outside its category")
    // parity: scoped index search == brute force over the scoped corpus
    val qvec = VectorKernels.dequantize(
      VectorKernels.noopEmbed("search_query: scoped query", 64))
    val brute = scoped
      .select(col("document_id"),
        gf.cosine_sim(col("embedding"), lit(qvec).cast("array<float>")).as("sim"))
      .groupBy("document_id").agg(max("sim").as("similarity"))
      .orderBy(col("similarity").desc, col("document_id").asc)
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq == brute)
  }

  test("refreshIndex reassigns through the store, rewriting moved rows only") {
    val store = ParquetStore(
      java.nio.file.Files.createTempDirectory("emb_store").toString,
      "vec_id", nBuckets = 8)
    store.create(Tables.load(spark, SparkSuite.sf0001, "embeddings")
      .select("vec_id", "embedding")
      .withColumn("centroid_id", lit(-1)))
    val model = SearchService.refreshIndex(spark, store, "embedding",
      IvfIndex.Params(listSize = 100, sampleSize = 1000))
    assert(model.k >= 2)
    val after = store.read(spark)
    assert(after.filter(col("centroid_id") === -1).count() == 0)
    assert(after.count() == 500)
    // assignments must agree with a fresh assign pass under the same model
    val expect = IvfIndex.assign(
        Tables.load(spark, SparkSuite.sf0001, "embeddings"), "embedding", model)
      .select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    after.select("vec_id", "centroid_id").collect()
      .foreach(r => assert(expect(r.getLong(0)) == r.getInt(1)))
    // idempotent refresh: second run moves nothing
    val filesBefore = store.bucketDirs
    SearchService.refreshIndex(spark, store, "embedding",
      IvfIndex.Params(listSize = 100, sampleSize = 1000))
    assert(store.read(spark).count() == 500)
    assert(store.bucketDirs == filesBefore)
  }

  test("deleteDocuments cascades stores and index; survivors untouched") {
    import graft.sources.IvfBinarySource
    import graft.streaming.Streams
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val docStore = ParquetStore(tmp("docs"), "doc_id", nBuckets = 8)
    docStore.create(docs)
    // chunk table ingested through the real chunk pipeline, chunk store
    // keyed (and co-bucketed) by the owning doc FK
    val (_, model) = built
    val chunks = Streams.ingestChunks(docs, model)
      .select(col("doc_id"),
        (col("doc_id") * Streams.ChunkVecIdBase + col("chunk_id"))
          .cast("long").as("vec_id"),
        col("qvec"), col("centroid_id").cast("int").as("centroid_id"))
      .localCheckpoint(true)
    val chunkStore = ParquetStore(tmp("chunks"), "doc_id", nBuckets = 8)
    chunkStore.create(chunks)
    val idx = tmp("idx")
    chunks.select("vec_id", "qvec", "centroid_id").write
      .format(IvfBinarySource.FORMAT).mode("overwrite").save(idx)
    val doomed = Set(3L, 7L, 11L)
    val expectRemoved = chunks
      .filter(col("doc_id").isin(doomed.toSeq: _*)).count()
    val keepIndex = spark.read.format(IvfBinarySource.FORMAT).load(idx)
      .filter(!(col("vec_id") / Streams.ChunkVecIdBase).cast("long")
        .isin(doomed.toSeq: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val removed = SearchService.deleteDocuments(
      spark, docStore, chunkStore, idx, doomed)
    assert(removed == expectRemoved)
    assert(docStore.read(spark)
      .filter(col("doc_id").isin(doomed.toSeq: _*)).count() == 0)
    assert(chunkStore.read(spark)
      .filter(col("doc_id").isin(doomed.toSeq: _*)).count() == 0)
    val after = spark.read.format(IvfBinarySource.FORMAT).load(idx)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after == keepIndex, "index must keep exactly the survivors")
    // empty-id call is a no-op
    assert(SearchService.deleteDocuments(
      spark, docStore, chunkStore, idx, Set.empty[Long]) == 0L)
  }

  test("DataFrame-victims deleteDocuments equals the Set path, with the gate forced to merge") {
    import spark.implicits._
    import graft.sources.IvfBinarySource
    import graft.streaming.Streams
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val docStore = ParquetStore(tmp("docs2"), "doc_id", nBuckets = 8)
    docStore.create(docs)
    val (_, model) = built
    val chunks = Streams.ingestChunks(docs, model)
      .select(col("doc_id"),
        (col("doc_id") * Streams.ChunkVecIdBase + col("chunk_id"))
          .cast("long").as("vec_id"),
        col("qvec"), col("centroid_id").cast("int").as("centroid_id"))
      .localCheckpoint(true)
    val idx = tmp("idx2")
    chunks.select("vec_id", "qvec", "centroid_id").write
      .format(IvfBinarySource.FORMAT).mode("overwrite").save(idx)
    val doomed = Set(3L, 7L, 11L)
    val expectRemoved = chunks
      .filter(col("doc_id").isin(doomed.toSeq: _*)).count()
    // broadcastRowLimit=1 pins the large-tenant regime: victims resolve
    // through the merge-hinted semi join, never a driver-held set
    val removed = SearchService.deleteDocuments(
      spark, docStore, idx, doomed.toSeq.toDF("doc_id"), broadcastRowLimit = 1L)
    assert(removed == expectRemoved)
    assert(docStore.read(spark)
      .filter(col("doc_id").isin(doomed.toSeq: _*)).count() == 0)
    assert(spark.read.format(IvfBinarySource.FORMAT).load(idx)
      .filter((col("vec_id") / Streams.ChunkVecIdBase).cast("long")
        .isin(doomed.toSeq: _*)).count() == 0)
    // empty-victims call is a no-op
    assert(SearchService.deleteDocuments(spark, docStore, idx,
      spark.emptyDataFrame.select(lit(0L).as("doc_id")).filter(lit(false))) == 0L)
  }

  /** A served corpus in miniature: documents `ids`, three chunks each,
    * chunk c of document d in list (d + c) % 3, with both stores knowing
    * their columns as the server's stores do. Returns the stores and the
    * index path. */
  private def miniCascade(ids: Seq[Long]): (ParquetStore, ParquetStore, String) = {
    import spark.implicits._
    import graft.sources.IvfBinarySource
    import graft.streaming.Streams
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString
    val docs = ids.map(d => (d, s"doc $d")).toDF("document_id", "doc_json")
    val docStore = ParquetStore(tmp("mini-docs"), "document_id", nBuckets = 4,
      schema = Some(docs.schema))
    docStore.create(docs)
    val chunks = ids.flatMap(d => (0 until 3).map(c => (d, c, s"chunk $c of $d")))
      .toDF("doc_id", "chunk_id", "chunk")
    val chunkStore = ParquetStore(tmp("mini-chunks"), "doc_id", nBuckets = 4,
      schema = Some(chunks.schema))
    chunkStore.create(chunks)
    val idx = tmp("mini-idx")
    ids.flatMap(d => (0 until 3).map(c =>
        (d * Streams.ChunkVecIdBase + c, Seq.fill(8)((d * 10 + c).toFloat), ((d + c) % 3).toInt)))
      .toDF("vec_id", "embedding", "centroid_id")
      .select(col("vec_id"), gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
      .write.format(IvfBinarySource.FORMAT).mode("overwrite").save(idx)
    (docStore, chunkStore, idx)
  }

  /** name -> mtime of every index part file under `idx`. */
  private def listFiles(idx: String): Map[String, Long] =
    new java.io.File(idx).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".bin"))
      .map(f => s"${f.getParentFile.getName}/${f.getName}" -> f.lastModified()).toMap

  test("deleting an id nothing holds returns 0 and rewrites no list file") {
    val (docStore, chunkStore, idx) = miniCascade(Seq(1L, 2L, 4L, 5L))
    val before = listFiles(idx)
    // 3 sits inside every list file's vec_id zone map, so discovery scans
    // the files and finds no row
    assert(SearchService.deleteDocuments(spark, docStore, chunkStore, idx, Set(3L)) == 0L)
    assert(listFiles(idx) == before, "a delete that matched nothing rewrote list files")
    assert(docStore.read(spark).count() == 4 && chunkStore.read(spark).count() == 12)
  }

  test("deleting every document leaves both stores readable, each with its zero-row file") {
    val ids = Seq(1L, 2L, 3L)
    val (docStore, chunkStore, idx) = miniCascade(ids)
    assert(SearchService.deleteDocuments(spark, docStore, chunkStore, idx, ids.toSet) == 9L)
    Seq(docStore, chunkStore).foreach { st =>
      assert(st.read(spark).count() == 0, st.path)
      assert(!st.isInitialized, st.path)
      assert(new java.io.File(st.path).listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${st.path} must keep one schema-bearing zero-row file")
    }
    assert(docStore.read(spark).columns.toSeq == Seq("document_id", "doc_json"))
    assert(spark.read.format(graft.sources.IvfBinarySource.FORMAT).load(idx).count() == 0)
  }
}
