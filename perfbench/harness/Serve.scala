package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SearchService
import graft.functions.VectorKernels
import graft.index.IvfIndex
import graft.server.RestServer
import graft.sources.{IvfBinarySource, ParquetStore}
import graft.streaming.Streams

/** The serve-mixed workload: `RestServer` on localhost, loaded through
  * `/api/upload`, then one client running a seeded op sequence of 80%
  * searches with distinct texts, 10% uploads of 10 new documents and 10%
  * deletes.
  *
  * Every search answer is checked against the benchmark's own brute force
  * over the served corpus: all-list (`centroids` -1) answers must equal it
  * exactly, every returned similarity must be the document's true one, and
  * no deleted document may appear. */
object Serve {
  val Words: Array[String] = ("join hash row batch scan column customer filter small " +
    "slow merge order vector line table data agg value key stream window a spark " +
    "part group big sort query fast the").split(" ")
  val CorpusDocs = 1000
  val Dim = 64
  /** Untimed searches between set-up and the measuring window. */
  val WarmSearches = 5

  final case class Doc(id: Long, owner: String, category: String, json: String)

  /** The chunk vectors of each text, in chunk order, exactly as the server
    * stores them (`Streams.chunkEmbed` at the server's parameters). */
  def embed(spark: SparkSession, texts: Seq[String]): IndexedSeq[Array[Array[Float]]] = {
    import spark.implicits._
    val rows = Streams.chunkEmbed(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text"), 256, Dim).select("doc_id", "chunk_id", "qvec").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    texts.indices.map(i => byDoc(i.toLong).sortBy(_.getInt(1))
      .map(r => VectorKernels.dequantize(r.getAs[Array[Byte]](2))))
  }

  /** The benchmark's mirror of the served corpus: each live document and
    * its chunk vectors. */
  final class Mirror {
    val docs = mutable.LinkedHashMap[Long, Doc]()
    val vecs = mutable.HashMap[Long, Array[Array[Float]]]()
    val deleted = mutable.HashSet[Long]()

    def add(d: Doc, v: Array[Array[Float]]): Unit = { docs(d.id) = d; vecs(d.id) = v }

    def remove(id: Long): Unit = { docs.remove(id); vecs.remove(id); deleted += id }

    def sim(q: Array[Float], id: Long): Double =
      vecs(id).map(v => VectorKernels.cosine(q, v)).max

    /** Exact page: per-document best chunk, (similarity DESC, id ASC). */
    def page(q: Array[Float], scope: Doc => Boolean, offset: Int, count: Int): Seq[(Long, Double)] =
      docs.values.filter(scope).map(d => (d.id, sim(q, d.id))).toSeq
        .sortBy { case (id, s) => (-s, id) }.slice(offset, offset + count)
  }

  final case class Req(text: String, count: Int, offset: Int, centroids: Int,
      owner: String = "", category: String = "") {
    def json: String = Json.write(Map("text" -> text, "count" -> count, "offset" -> offset,
      "centroids" -> centroids, "owner" -> owner, "category" -> category, "no_documents" -> true))
    def scope(d: Doc): Boolean =
      (owner.isEmpty || d.owner == owner) && (category.isEmpty || d.category == category)
    def query: Array[Float] = VectorKernels.dequantize(VectorKernels.noopEmbed("search_query: " + text, Dim))
  }

  private def words(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(Words(rnd.nextInt(Words.length))).mkString(" ")

  private def docJson(rnd: scala.util.Random): String =
    Json.write(Map("text" -> words(rnd, 8 + rnd.nextInt(80)),
      "lang" -> Seq("en", "de", "fr")(rnd.nextInt(3))))

  /** Seeded documents under two tenants. Upload labels are per request,
    * so a tenant is one upload. The first, large one trains the server's
    * model (k = ceil(chunks/64)); the small one is the scope of owner- and
    * category-scoped searches. */
  private def corpusGroups(rnd: scala.util.Random): Seq[(String, String, Seq[String])] = {
    val small = CorpusDocs / 5
    Seq(("owner0", "cat0", CorpusDocs - small), ("owner1", "cat1", small))
      .map { case (o, c, n) => (o, c, Seq.fill(n)(docJson(rnd))) }
  }

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(path: String, body: String): (Int, String) = {
      val r = http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .header("Content-Type", "application/json")
        .timeout(java.time.Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
  }

  private def upload(c: Client, owner: String, category: String, docs: Seq[String]): Seq[Long] = {
    val body = s"""{"owner":${Json.write(owner)},"category":${Json.write(category)},""" +
      docs.map(d => s"""{"document":$d}""").mkString(""""documents":[""", ",", "]}")
    val (st, resp) = c.post("/api/upload", body)
    require(st == 200, s"upload status $st: ${resp.take(200)}")
    Json.read(resp).get("document_ids").elements().asScala.map(_.asLong()).toSeq
  }

  /** Check one search answer; returns the returned ids. */
  private def checkSearch(run: Main.Run, m: Mirror, q: Array[Float], r: Req,
      status: Int, body: String): Seq[Long] = {
    if (status != 200) { run.fail(s"search status $status: ${body.take(200)}"); return Nil }
    val got = Json.read(body).get("documents").elements().asScala
      .map(d => (d.get("document_id").asLong(), d.get("document_similarity").asDouble())).toSeq
    // a pruned search sees only the chunks in its probed lists, so a
    // document's similarity is that of one of its chunks, not always the best
    val bad = got.find { case (id, s) =>
      m.deleted(id) || !m.docs.get(id).exists(r.scope) ||
        !m.vecs(id).exists(v => math.abs(VectorKernels.cosine(q, v) - s) <= 1e-9)
    }
    val ordered = got.zip(got.drop(1)).forall { case ((i1, s1), (i2, s2)) =>
      s1 > s2 + 1e-12 || (math.abs(s1 - s2) <= 1e-12 && i1 < i2)
    }
    val exact = r.centroids >= 0 || {
      val want = m.page(q, r.scope, r.offset, r.count)
      want.size == got.size && want.zip(got).forall { case ((wi, ws), (gi, gs)) =>
        wi == gi || math.abs(ws - gs) <= 1e-12
      }
    }
    if (bad.nonEmpty || !ordered || !exact || got.size > r.count)
      run.fail(s"wrong search answer for $r: bad=$bad ordered=$ordered exact=$exact")
    got.map(_._1)
  }

  def run(spark: SparkSession, run: Main.Run): Map[String, Any] = {
    val rnd = new scala.util.Random(run.seed)
    val groups = corpusGroups(rnd)
    // set-up: start a server on an empty data directory and load the
    // corpus, Main.Setups times; the last server is the one measured. Every
    // set-up assigns the same document ids.
    val setups = (1 to Main.Setups).map { i =>
      val dir = s"${run.work}/serve-data-$i"
      run.timeSetup {
        val s = new RestServer(spark, dir)
        val c = new Client(s.start())
        (s, c, dir, groups.map { case (o, cat, docs) => upload(c, o, cat, docs) })
      }
    }
    setups.init.foreach(_._1.stop())
    val (server, client, dataDir, loadedIds) = setups.last
    run.check(setups.map(_._4).distinct.size == 1, "set-ups assigned different document ids")

    // The op sequence is fixed and only texts and documents are seeded, so
    // runs with different seeds do the same mix of work: whole rounds of
    // ten ops, with the upload at position 4 and the delete at 9.
    val opRnd = new scala.util.Random(run.seed * 31)
    val rounds = math.ceil(run.ops / 10.0).toInt
    val opCount = rounds * 10
    val texts = IndexedSeq.fill(WarmSearches + opCount)(s"${words(opRnd, 6)} ${opRnd.nextInt(1000000)}")
    val upDocs = IndexedSeq.fill(rounds)(Seq.fill(10)(docJson(opRnd)))
    // In every ten ops: five plain searches, one at offset 10, one at
    // `centroids` 4, and one scoped to the small tenant, by owner in even
    // rounds and by category in odd ones.
    def searchReq(i: Int, text: String): Req = i % 10 match {
      case 2 if i / 10 % 2 == 0 => Req(text, 10, 0, 1, owner = "owner1")
      case 2 => Req(text, 10, 0, 1, category = "cat1")
      case 3 => Req(text, 10, 10, 1)
      case 6 => Req(text, 10, 0, 4)
      case _ => Req(text, 10, 0, 1)
    }

    // the mirror: chunk vectors of the corpus and of every upload the loop
    // will make, embedded before the measuring window
    val allDocs = groups.flatMap(_._3) ++ upDocs.flatten
    val allVecs = embed(spark, allDocs)
    val upVecs = allVecs.drop(groups.map(_._3.size).sum).grouped(10).toIndexedSeq
    val mirror = new Mirror
    groups.zip(loadedIds).flatMap { case ((o, cat, docs), ids) =>
      ids.zip(docs).map { case (id, js) => Doc(id, o, cat, js) } }
      .zip(allVecs).foreach { case (d, v) => mirror.add(d, v) }
    val model = IvfIndex.loadModel(spark, s"$dataDir/model")
    run.values.put("IvfIndex.lists", model.k.toDouble)
    run.values.put("Streams.chunks_per_doc", allVecs.map(_.length).sum.toDouble / allVecs.size)
    val listRows = spark.read.format(IvfBinarySource.FORMAT).load(s"$dataDir/index")
      .groupBy("centroid_id").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    /** One search outside the measuring window, checked. */
    def checked(r: Req): Seq[Long] = {
      val (st, body) = client.post("/api/search", r.json)
      run.attempted.incrementAndGet()
      checkSearch(run, mirror, r.query, r, st, body)
    }

    val recall = mutable.ArrayBuffer[Double]()
    var scanned = 0L
    var returned = 0L
    val replay = mutable.ArrayBuffer[Req]()
    def search(r: Req): Unit =
      run.op("search")(client.post("/api/search", r.json)).foreach { case (st, body) =>
        run.untimed {
          val q = r.query
          val got = checkSearch(run, mirror, q, r, st, body)
          if (r.centroids == 1 && r.offset == 0 && r.owner.isEmpty && r.category.isEmpty) {
            val truth = mirror.page(q, _ => true, 0, 10).map(_._1).toSet
            recall += got.count(truth).toDouble / truth.size
          }
          // list sizes are those after set-up; the loop's writes shift them a little
          scanned += model.probe(q, math.min(r.centroids, model.k)).map(listRows.getOrElse(_, 0L)).sum
          returned += got.size
          if (replay.size < 5 && r.owner.isEmpty && r.category.isEmpty) replay += r
        }
      }

    // warm-up: one search of each kind the loop makes, checked
    Seq(0, 2, 3, 6, 12).zipWithIndex.foreach { case (j, i) => checked(searchReq(j, texts(opCount + i))) }

    val uploads = mutable.ArrayBuffer[(String, Seq[Long])]()
    val writeBytes = mutable.Map[String, Long]().withDefaultValue(0L)
    var logicalBytes = 0L
    run.startMeasure()
    (0 until opCount).foreach { j =>
      if (j % 10 != 4 && j % 10 != 9) search(searchReq(j, texts(j)))
      else {
        val before = run.untimed(if (Trace.on) snapshot(dataDir) else Map.empty[String, (Long, Long)])
        if (j % 10 == 4) {
          val owner = s"up${uploads.size}"
          val (docs, vecs) = (upDocs(j / 10), upVecs(j / 10))
          run.op("upload")(upload(client, owner, "new", docs)).foreach { ids =>
            run.untimed {
              ids.zip(docs).zip(vecs).foreach { case ((id, js), v) => mirror.add(Doc(id, owner, "new", js), v) }
              uploads += owner -> ids
              logicalBytes += docs.map(_.length).sum
            }
          }
        } else {
          val id = run.untimed { val live = mirror.docs.keys.toIndexedSeq; live(opRnd.nextInt(live.size)) }
          run.op("delete")(client.post("/api/delete/document", s"""{"document_id":$id}""")).foreach {
            case (200, _) => run.untimed(mirror.remove(id))
            case (st, b) => run.fail(s"delete status $st: ${b.take(200)}")
          }
        }
        run.untimed(if (Trace.on) diff(before, snapshot(dataDir)).foreach { case (k, v) => writeBytes(k) += v })
      }
    }
    run.endMeasure()

    // all-list answers equal the brute force exactly; checked after the
    // timed loop because they scan every file of the index
    val rc = new scala.util.Random(run.seed * 17)
    Seq(Req(words(rc, 6), 10, 10, -1), Req(words(rc, 6), 10, 0, -1, owner = "owner1")).foreach(checked)
    // read-your-writes: each upload's documents, and only those still live,
    // answer a search scoped to that upload's owner
    uploads.foreach { case (owner, ids) =>
      val (st, body) = client.post("/api/search", Req("read your writes", 20, 0, -1, owner = owner).json)
      val got = if (st == 200) Json.read(body).get("documents").elements().asScala
        .map(_.get("document_id").asLong()).toSet else Set(-1L)
      run.check(got == ids.filterNot(mirror.deleted).toSet, s"read-your-writes $owner: $got vs $ids")
    }
    run.values.put("IvfIndex.recall_at_10", if (recall.isEmpty) 0.0 else recall.sum / recall.size)
    val searches = run.samplesOf("search").size
    if (returned > 0) run.values.put("SearchService.rows_scanned_per_result", scanned.toDouble / returned)
    if (searches > 0) run.values.put("IvfIndex.rows_scanned_per_query", scanned.toDouble / searches)
    val liveBytes = mirror.docs.values.map(_.json.length.toLong).sum
    val sizes = snapshot(dataDir)
    def storeMb(pre: Seq[String]) =
      sizes.collect { case (p, (len, _)) if pre.exists(p.startsWith) => len }.sum / 1048576.0
    def storeFiles(pre: Seq[String]) = sizes.keys.count(p => pre.exists(p.startsWith)).toDouble
    val parquetDirs = Seq("documents/", "chunks/")
    run.values.put("serve.store_bytes_per_doc_byte", sizes.values.map(_._1).sum.toDouble / liveBytes)
    run.values.put("ParquetStore.files", storeFiles(parquetDirs))
    run.values.put("ParquetStore.mb", storeMb(parquetDirs))
    run.values.put("IvfBinarySource.files", storeFiles(Seq("index/")))
    run.values.put("IvfBinarySource.mb", storeMb(Seq("index/")))
    if (logicalBytes > 0) {
      run.values.put("ParquetStore.write_amp",
        parquetDirs.map(writeBytes).sum.toDouble / logicalBytes)
      run.values.put("IvfBinarySource.write_amp", writeBytes("index/").toDouble / logicalBytes)
    }

    if (Trace.on) layerReplay(spark, run, dataDir, model, replay.toSeq, mirror, upDocs)
    server.stop()
    Map("serve" -> Map("uploads" -> uploads.size, "live_docs" -> mirror.docs.size,
      "live_doc_bytes" -> liveBytes))
  }

  /** Traced runs only: the same requests through the facades the server
    * calls, without HTTP, JSON or the server's store listing. */
  private def layerReplay(spark: SparkSession, run: Main.Run, dataDir: String,
      model: IvfIndex.Model, reqs: Seq[Req], mirror: Mirror, upDocs: Seq[Seq[String]]): Unit = {
    val docs = ParquetStore(s"$dataDir/documents", "document_id", nBuckets = 16)
    val chunks = ParquetStore(s"$dataDir/chunks", "doc_id", nBuckets = 16)
    val indexed = spark.read.format(IvfBinarySource.FORMAT).load(s"$dataDir/index")
      .select(col("vec_id"), expr(s"vec_id div ${Streams.ChunkVecIdBase}").as("document_id"),
        graft.functions.gf.dequantize_vec(col("qvec")).as("embedding"), col("centroid_id"))
    val t0 = System.nanoTime()
    reqs.foreach { r =>
      Trace.span("SearchService.search") {
        SearchService.search(spark, indexed, docs.read(spark).select("document_id", "external_id", "doc_json"),
          model, SearchService.SearchRequest(r.text, r.count, r.offset, r.centroids)).collect()
      }
    }
    if (reqs.nonEmpty)
      run.values.put("SearchService.search_ms", (System.nanoTime() - t0) / 1e6 / reqs.size)
    val qs = reqs.map(_.query)
    if (qs.nonEmpty) {
      val n = 2000
      val t1 = System.nanoTime()
      (0 until n).foreach(i => model.probe(qs(i % qs.size), 1))
      run.values.put("IvfIndex.probe_us", (System.nanoTime() - t1) / 1e3 / n)
      // the same queries as one batch over the served index: every
      // returned chunk's similarity is its true one
      val batch = qs.zipWithIndex.map { case (q, i) => i.toLong -> q }
      val got = Trace.span("IvfIndex.searchBatch")(
        IvfIndex.searchBatch(indexed, model, "vec_id", "embedding", batch, 10, 1).collect())
      got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
        run.check(rows.length <= 10 && rows.forall { row =>
          val vecId = row.getLong(1)
          mirror.vecs.get(vecId / Streams.ChunkVecIdBase).exists { vs =>
            val c = (vecId % Streams.ChunkVecIdBase).toInt
            c < vs.length && math.abs(VectorKernels.cosine(qs(qid.toInt), vs(c)) - row.getDouble(2)) <= 1e-9
          }
        }, s"searchBatch query $qid: a chunk is unknown or its similarity is wrong")
      }
    }
    // the write path's embedding, one upload batch at a time as the server runs it
    val t2 = System.nanoTime()
    upDocs.foreach(batch => Trace.span("Streams.chunkEmbed")(embed(spark, batch)))
    run.values.put("Streams.chunkEmbed_ms", (System.nanoTime() - t2) / 1e6 / upDocs.size)
    // the index layer at this corpus: rebuild it from the served chunk
    // vectors with the server's parameters, and time the vector kernels
    import spark.implicits._
    val vecs = mirror.vecs.toSeq.flatMap { case (id, vs) =>
      vs.zipWithIndex.map { case (v, i) => (id * Streams.ChunkVecIdBase + i, v.toSeq) } }
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val (assigned, _) = Trace.span("IvfIndex.build")(
      IvfIndex.build(vecs, "embedding", IvfIndex.Params(listSize = 64, sampleSize = 50000)))
    Trace.span("IvfIndex.assign")(assigned.write.format("noop").mode("overwrite").save())
    Trace.span("IvfBinarySource.write")(
      IvfBinarySource.write(assigned, "vec_id", "embedding", s"${run.work}/rebuilt-index"))
    run.values.put("IvfBinarySource.write_mb",
      snapshot(s"${run.work}/rebuilt-index").values.map(_._1).sum / 1048576.0)
    val sizes = assigned.groupBy("centroid_id").count().collect().map(_.getLong(1)).sorted
    run.values.put("IvfIndex.list_rows_max", sizes.last.toDouble)
    run.values.put("IvfIndex.list_rows_p50", sizes(sizes.length / 2).toDouble)
    kernelMicros(run)
    val victims = mirror.docs.keys.take(2).toSeq
    val t3 = System.nanoTime()
    victims.foreach { id =>
      Trace.span("SearchService.deleteDocuments") {
        SearchService.deleteDocuments(spark, docs, chunks, s"$dataDir/index", Set(id))
      }
    }
    run.values.put("SearchService.deleteDocuments_ms", (System.nanoTime() - t3) / 1e6 / victims.size)
  }

  /** Per-call times of the vector kernels at the served dimension. */
  def kernelMicros(run: Main.Run): Unit = {
    val rnd = new scala.util.Random(7)
    val vs = Array.fill(512)(Array.fill(Dim)(rnd.nextFloat() * 2 - 1))
    val packed = vs.map(VectorKernels.quantize)
    var sink = 0.0
    def perCall(name: String, calls: Int, unit: Double)(f: Int => Double): Unit = {
      (0 until calls).foreach(i => sink += f(i)) // warm the JIT
      val t0 = System.nanoTime()
      (0 until calls).foreach(i => sink += f(i))
      run.values.put(name, (System.nanoTime() - t0) / unit / calls)
    }
    perCall("VectorKernels.cosine_ns", 400000, 1.0)(i => VectorKernels.cosine(vs(i & 511), vs((i * 7) & 511)))
    perCall("VectorKernels.cosineFast_ns", 400000, 1.0)(i => VectorKernels.cosineFast(vs(i & 511), vs((i * 7) & 511)))
    perCall("VectorKernels.quantize_ns", 200000, 1.0)(i => VectorKernels.quantize(vs(i & 511))(9).toDouble)
    perCall("VectorKernels.dequantize_ns", 200000, 1.0)(i => VectorKernels.dequantize(packed(i & 511))(0).toDouble)
    perCall("VectorKernels.noopEmbed_us", 50000, 1e3)(i => VectorKernels.noopEmbed(s"text $i", Dim)(8).toDouble)
    if (sink == 42.0) println(sink)
  }

  /** relative path -> (length, mtime) of every file under `dir`. */
  def snapshot(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
      val f = p.toFile
      root.relativize(p).toString -> (f.length, f.lastModified)
    }.toMap finally s.close()
  }

  /** Bytes of files new or changed between two snapshots, per store dir. */
  def diff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Map[String, Long] =
    after.toSeq.collect { case (p, v) if !before.get(p).contains(v) => p.takeWhile(_ != '/') + "/" -> v._1 }
      .groupMapReduce(_._1)(_._2)(_ + _)
}
