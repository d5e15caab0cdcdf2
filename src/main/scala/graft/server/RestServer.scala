package graft.server

import java.io.{ByteArrayOutputStream, InputStream, OutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.github.luben.zstd.{ZstdInputStream, ZstdOutputStream}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Jobs, SearchService}
import graft.SearchService.LocalCorpus
import graft.functions.{gf, EmbedProvider, GenerateProvider, NoopGenerateProvider, VectorKernels}
import graft.index.IvfIndex
import graft.operators.Pins
import graft.sources.{IvfBinarySource, ParquetStore}
import graft.streaming.Streams

/** The reference's HTTP serving tier (main.go:129-178, the server/ Go package) over
  * the engine's lifecycle facades — the last reference surface a user
  * could reach for: the openapi.yml routes, request/response shapes
  * (including the upload payload polymorphism, openapi.yml:163-174 —
  * `document` may be a string, array, or object; it is stored as its
  * JSON serialization and flattened by the byte-parity kernel), and the
  * zstd content-negotiation middleware (main.go:129-166, zstd-jni is
  * already on Spark's classpath).
  *
  *  - POST /api/upload          → flatten → chunk → embed → assign →
  *                                binary index + document store
  *                                (server/upload.go; Streams.chunkEmbed)
  *  - POST /api/search          → SearchService.search over the index
  *                                (server/search.go)
  *  - POST /api/chat            → SearchService.chat, text/plain reply
  *                                streamed chunk-by-chunk (server/chat.go)
  *  - POST /api/delete/document → SearchService.deleteDocuments cascade
  *  - POST /api/delete/owner    → same cascade over the owner's ids
  *  - POST /api/delete/category → same over the category's ids
  *  - POST /api/categories      → distinct category names (fetch.go)
  *
  * Providers are seams exactly as in the batch pipeline: the default
  * Noop pair keeps everything deterministic (tests, air-gapped runs);
  * wire Ollama/OpenAI providers for a live deployment.
  *
  * Scale notes: this is a THIN shell — every data decision stays in the
  * facades (nprobe-pruned scans, IN-pushed backfills, bucketed upserts,
  * distributed delete victims). A served corpus lives in the reference's
  * two tables: the IVF index (vec_id, quantized vector, centroid_id; no
  * chunk text, like the reference's `embeddings` rows) and the document
  * store. The server itself holds the IVF model
  * (centroid matrix, persisted under dataDir/model so restarts serve the
  * lists the writes landed in), a doc-id counter, and a read view. The
  * view's frames, the resolved documents and the decoded index, are lazy
  * plans over a file listing; chat, categories, the owner/category
  * deletes of a corpus not held and the restart bootstrap read them.
  * When the index and the document store together fit
  * `spark.sql.autoBroadcastJoinThreshold` on disk, the view also holds
  * the corpus on the driver, collected in two jobs (`view/index`,
  * `view/docs`) by the first search that reads it, and every search,
  * plain or scoped, answers from it with no Spark job
  * ([[SearchService.searchLocal]]). Writes keep a held corpus current: an
  * upload adds the rows it wrote to the index and the documents, a delete
  * removes its ids, and the next view holds the result, so no search
  * after a write runs a job either. A write never collects a corpus that
  * was not held; one that fails part-way drops the view, and one that
  * takes the stores over the bound hands search to the Spark path, where
  * a plain search costs two Spark jobs (page, backfill). The server is
  * the document store's only writer and declares its columns
  * ([[RestServer.DocSchema]]), so no read or rewrite merges parquet
  * footers. The writes run on keys the server minted and holds: a warm
  * /api/delete/document costs four (a discovery job and a list rewrite
  * in the index, a pin and a write in the document store) and a warm
  * /api/upload seven (the embed pin, the collect of the assigned batch,
  * the index append's two, the doc-store upsert's three). With a held corpus an owner or category delete
  * takes its ids from the held rows and costs what a document delete
  * does. Each Spark action a handler runs is named `"<route>/<step>"`
  * ([[graft.Jobs]]). Tenant scoping is size-gated, not driver-bounded:
  * over the bound, owner/category search filters ride a gateKnown semi
  * join (broadcast only when the scope is small), and owner/category
  * deletes keep their victim set a DataFrame end-to-end — a tenant
  * larger than driver memory still searches and deletes (the reference's
  * `WHERE owner_id=?` SQL has no driver bound either).
  *
  * Every reply goes out without Nagle's delay: the JDK server writes a
  * reply's headers and its body as two packets, and with Nagle on the
  * body waits for the client's delayed ACK (about 40 ms). The companion
  * object sets `sun.net.httpserver.nodelay` to true unless it is already
  * set; the JDK reads it once, so it holds for every JDK `HttpServer` in
  * the JVM, and only if none was created before this class. */
final class RestServer(spark: SparkSession, dataDir: String,
    dim: Int = 64, ctxNum: Int = 256,
    embedProvider: Option[EmbedProvider] = None,
    generateProvider: GenerateProvider = NoopGenerateProvider(),
    indexParams: IvfIndex.Params = IvfIndex.Params(listSize = 64, sampleSize = 50000),
    broadcastRowLimit: Long = graft.operators.DedupOps.BroadcastRowLimit) {

  private val mapper = new ObjectMapper()
  private val indexDir = s"$dataDir/index"
  private val modelDir = s"$dataDir/model"
  private val docStore = ParquetStore(s"$dataDir/documents", "document_id", nBuckets = 16,
    schema = Some(RestServer.DocSchema))

  // server-held state beyond config: the centroid matrix (driver-side,
  // nLists × dim floats) and the id counter, both rebuilt from storage on
  // restart, and the read view.
  @volatile private var model: Option[IvfIndex.Model] = None
  private val nextId = new AtomicLong(1L)
  private val writeLock = new Object

  @volatile private var view: Option[RestServer.ReadView] = None
  // bumped by every write, so a view resolved while a write ran is not
  // installed over the write's result; guarded by viewLock
  private var viewGen = 0L
  private val viewLock = new Object

  private def readView(): RestServer.ReadView = view.getOrElse {
    val gen = viewLock.synchronized(viewGen)
    val v = newView(None)
    viewLock.synchronized { if (viewGen == gen) view = Some(v) }
    v
  }

  /** A view over the stores as they are on disk, holding `held`; a view
    * that holds no corpus collects one, when the stores are
    * [[withinBound]], for the first search that reads it: one job
    * collects the index's quantized lists and one the documents. */
  private def newView(held: Option[LocalCorpus]): RestServer.ReadView =
    new RestServer.ReadView(
      Jobs.step(spark, "view/doc-schema")(docStore.read(spark)),
      spark.read.format(IvfBinarySource.FORMAT).load(indexDir)
        .withColumn("document_id", expr(s"vec_id div ${Streams.ChunkVecIdBase}")),
      held,
      v => if (!withinBound) None else Some(LocalCorpus(
        Jobs.step(spark, "view/index")(LocalCorpus.lists(v.indexRows, "qvec")),
        Jobs.step(spark, "view/docs")(LocalCorpus.docs(v.docs)))))

  /** Whether the index and the document store together hold at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes on disk (Spark's bound
    * for a side small enough to ship whole; -1 means never), summed from
    * the file listing with no job. */
  private def withinBound: Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(indexDir, docStore.path).map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum <= spark.sessionState.conf.autoBroadcastJoinThreshold
  }

  /** Runs a store mutation under the write lock. `body` gets the corpus
    * the current view holds, if it holds one, and returns its reply and
    * that corpus with the write's own change applied; the next view holds
    * it while the stores stay [[withinBound]]. A write that fails
    * part-way, or that returns no corpus, drops the view. */
  private def write[A](body: Option[LocalCorpus] =>
      (A, Option[LocalCorpus])): A = writeLock.synchronized {
    var next = Option.empty[LocalCorpus]
    try {
      val (reply, corpus) = body(view.flatMap(_.held))
      next = corpus.filter(_ => withinBound)
      reply
    } finally viewLock.synchronized {
      viewGen += 1
      view = next.map(c => newView(Some(c)))
    }
  }

  private def nonEmptyDir(d: String): Boolean = {
    val f = new java.io.File(d)
    f.exists() && f.listFiles() != null && f.listFiles().nonEmpty
  }
  private def hasIndex: Boolean = nonEmptyDir(indexDir)

  private def bootstrapFromStorage(): Unit = if (hasIndex) {
    // a store whose every document was deleted has no max: count from 1
    val maxId = Jobs.step(spark, "bootstrap/id-counter")(
      readView().docs.agg(max("document_id")).collect()(0))
    nextId.set((if (maxId.isNullAt(0)) 0L else maxId.getLong(0)) + 1)
    // serve the SAME model the corpus was indexed under: upload persists
    // the trained centroids (the reference's DB keeps centroid rows for
    // exactly this — restarts don't re-derive the index, dnc.go /
    // database.go persistence path), so a restart probes the lists the
    // writes landed in.
    model =
      if (nonEmptyDir(modelDir))
        Some(Jobs.step(spark, "bootstrap/model")(IvfIndex.loadModel(spark, modelDir)))
      else Jobs.step(spark, "bootstrap/model") {
        // pre-model-file layout fallback: quantized member means, keyed
        // by centroid_id (a delete-emptied list must not shift the rows
        // above it — the matrix row IS the stored centroid_id)
        val rows = spark.read.format(IvfBinarySource.FORMAT).load(indexDir)
          .select(col("centroid_id"), gf.dequantize_vec(col("qvec")).as("v"))
          .groupBy("centroid_id").agg(gf.vector_mean(col("v")).as("c"))
          .collect()
        if (rows.isEmpty) None
        else {
          val cents = Array.fill(rows.map(_.getInt(0)).max + 1)(new Array[Float](dim))
          rows.foreach(r => cents(r.getInt(0)) = r.getSeq[Float](1).toArray)
          Some(IvfIndex.Model(cents))
        }
      }
  }
  bootstrapFromStorage()

  private val server = HttpServer.create(new InetSocketAddress(0), 0)
  server.createContext("/api/upload", json(handleUpload, compress = true))
  server.createContext("/api/search", json(handleSearch, compress = true))
  server.createContext("/api/chat", plain(handleChat))
  server.createContext("/api/delete/document", json(handleDeleteDocument))
  server.createContext("/api/delete/owner", json(handleDeleteOwner))
  server.createContext("/api/delete/category", json(handleDeleteCategory))
  server.createContext("/api/categories", json(handleCategories))
  // held so stop() can end its (non-daemon) threads
  private val workers = Executors.newFixedThreadPool(8)
  server.setExecutor(workers)

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); workers.shutdown() }
  def port: Int = server.getAddress.getPort

  // ---------- middleware (main.go:129-166) ----------

  /** Body reader honoring `Content-Encoding: zstd`. */
  private def readBody(ex: HttpExchange): Array[Byte] = {
    val enc = Option(ex.getRequestHeaders.getFirst("Content-Encoding")).getOrElse("")
    val in: InputStream =
      if (enc.contains("zstd")) new ZstdInputStream(ex.getRequestBody)
      else ex.getRequestBody
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** Response writer honoring `Accept-Encoding: zstd` when the route
    * compresses (upload/search — chat streams plain, like the
    * reference's middleware wiring). */
  private def writeBody(ex: HttpExchange, status: Int, body: Array[Byte],
      compress: Boolean): Unit = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept-Encoding")).getOrElse("")
    if (compress && accept.contains("zstd")) {
      ex.getResponseHeaders.set("Content-Encoding", "zstd")
      ex.sendResponseHeaders(status, 0)
      val z = new ZstdOutputStream(ex.getResponseBody)
      z.write(body); z.close()
    } else {
      ex.sendResponseHeaders(status, body.length)
      val os = ex.getResponseBody
      os.write(body); os.close()
    }
  }

  private def json(handler: JsonNode => (Int, String), compress: Boolean = false)
      : com.sun.net.httpserver.HttpHandler = { ex: HttpExchange =>
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      if (ex.getRequestMethod != "POST" && ex.getRequestMethod != "GET") {
        ex.getResponseHeaders.set("Allow", "POST")
        writeBody(ex, 405, """{"error":"Invalid request method"}""".getBytes(UTF_8), compress)
      } else {
        val parsed =
          try Right(mapper.readTree(new String(readBody(ex), UTF_8) match {
            case "" => "{}"
            case s => s
          }))
          catch { case _: Exception => Left(()) }
        parsed match {
          case Left(_) =>
            writeBody(ex, 400, """{"error":"Invalid request"}""".getBytes(UTF_8), compress)
          case Right(node) =>
            val (status, body) = handler(node)
            writeBody(ex, status, body.getBytes(UTF_8), compress)
        }
      }
    } catch {
      case e: Exception =>
        writeBody(ex, 500,
          s"""{"error":${quote(s"Server exception: ${e.getMessage}")}}""".getBytes(UTF_8),
          compress)
    } finally ex.close()
  }

  private def plain(handler: JsonNode => (Int, Iterator[String]))
      : com.sun.net.httpserver.HttpHandler = { ex: HttpExchange =>
    // once the streaming headers are out, a mid-stream provider failure
    // can only close the connection — sendResponseHeaders is one-shot
    var headersSent = false
    try {
      ex.getResponseHeaders.set("Content-Type", "text/plain")
      if (ex.getRequestMethod != "POST") {
        ex.getResponseHeaders.set("Allow", "POST")
        writeBody(ex, 405, "Invalid request method".getBytes(UTF_8), compress = false)
        headersSent = true
      } else {
        val node =
          try mapper.readTree(new String(readBody(ex), UTF_8))
          catch { case _: Exception => null }
        if (node == null) {
          writeBody(ex, 400, "Invalid request".getBytes(UTF_8), compress = false)
          headersSent = true
        } else {
          val (status, chunks) = handler(node)
          // stream the reply as the provider yields it (chat.go streams
          // runes to the client as they decode) — chunked encoding
          ex.sendResponseHeaders(status, 0)
          headersSent = true
          val os: OutputStream = ex.getResponseBody
          chunks.foreach(c => { os.write(c.getBytes(UTF_8)); os.flush() })
          os.close()
        }
      }
    } catch {
      case e: Exception if !headersSent =>
        writeBody(ex, 500, s"Server exception: ${e.getMessage}".getBytes(UTF_8),
          compress = false)
      case _: Exception => () // stream already open: finally closes it
    } finally ex.close()
  }

  // ---------- /api/upload (server/upload.go) ----------

  private def handleUpload(req: JsonNode): (Int, String) = {
    val docsNode = req.get("documents")
    if (docsNode == null || !docsNode.isArray || docsNode.isEmpty)
      (400, """{"error":"no documents provided"}""")
    else write(upload(req, docsNode))
  }

  /** Writes the batch to both stores and returns `held` with the batch
    * added: the index rows are collected once, so the index and the
    * corpus get the same rows. */
  private def upload(req: JsonNode, docsNode: JsonNode)(held: Option[LocalCorpus])
      : ((Int, String), Option[LocalCorpus]) = {
    val owner = textOr(req, "owner", "")
    val category = textOr(req, "category", "")
    // reference upload.go:121-123: prefix joins the section text before
    // the "search_document: " marker, canonicalized "<p>. "
    val prefix = textOr(req, "prefix", "") match {
      case "" => ""
      case p => p.trim.stripSuffix(".") + ". "
    }
    val docRows: Seq[Row] = docsNode.elements().asScala.toSeq.map { d =>
      val doc = d.get("document")
      new GenericRowWithSchema(Array(nextId.getAndIncrement(), textOr(d, "external_id", ""),
        owner, category, if (doc == null) "null" else mapper.writeValueAsString(doc)),
        RestServer.DocSchema)
    }
    import spark.implicits._
    val df = docRows.map(r => (r.getLong(0), r.getString(4))).toDF("doc_id", "text")
    // pin the embedded batch: the assignment and (on cold bootstrap)
    // IvfIndex.build each run an action over this frame, and re-deriving
    // it would re-invoke the embed provider per action
    val emb = Jobs.step(spark, "upload/embed")(Pins.pin(Streams.chunkEmbed(df, ctxNum, dim,
      embedProvider, chunkPrefix = "search_document: " + prefix)))
    val assigned = model match {
      case Some(m) => IvfIndex.assign(emb, "embedding", m)
      case None =>
        // cold bootstrap: the first batch trains the model it is
        // assigned against (the reference boots with RefreshCentroids),
        // and the model persists so a restart serves the same lists
        val (a, m) = Jobs.step(spark, "upload/model-build") {
          val built = IvfIndex.build(emb, "embedding", indexParams)
          IvfIndex.saveModel(spark, built._2, modelDir)
          built
        }
        model = Some(m)
        a
    }
    val batch = assigned.select((col("doc_id") * Streams.ChunkVecIdBase + col("chunk_id"))
        .cast("long").as("vec_id"),
      col("qvec"), col("centroid_id").cast("int").as("centroid_id"))
    val indexRows = Jobs.step(spark, "upload/assign")(batch.collect())
    Jobs.step(spark, "upload/index-write")(
      spark.createDataFrame(indexRows.toSeq.asJava, batch.schema)
        .write.format(IvfBinarySource.FORMAT).mode("append").save(indexDir))
    // the ids are fresh, but an append would add a file per touched
    // bucket per upload: the upsert's bucket rewrite keeps one file per
    // bucket for the search backfill's full-store scan
    Jobs.step(spark, "upload/doc-store")(
      docStore.upsertOrCreate(spark.createDataFrame(docRows.asJava, RestServer.DocSchema)))
    val ids = docRows.map(_.getLong(0)).mkString("[", ",", "]")
    ((200, s"""{"document_ids":$ids}"""), held.map(_.add(docRows, indexRows.toSeq.map(r =>
      (r.getInt(2), r.getLong(0) / Streams.ChunkVecIdBase,
        VectorKernels.dequantize(r.getAs[Array[Byte]](1)))))))
  }

  // ---------- /api/search (server/search.go) ----------

  private def handleSearch(req: JsonNode): (Int, String) = {
    val text = textOr(req, "text", null)
    if (text == null) return (400, """{"error":"Invalid request"}""")
    // a held corpus was read from the index, so a search on one lists no
    // directory
    if (model.isEmpty || (view.forall(_.held.isEmpty) && !hasIndex))
      return (200, """{"documents":[]}""")
    val owner = textOr(req, "owner", "")
    val category = textOr(req, "category", "")
    val noDocs = req.has("no_documents") && req.get("no_documents").asBoolean(false)
    val sreq = SearchService.SearchRequest(
      text = textOr(req, "prefix", "") match {
        case "" => text
        case p => p.trim.stripSuffix(".") + ". " + text
      },
      count = intOr(req, "count", 10),
      offset = intOr(req, "offset", 0),
      centroids = intOr(req, "centroids", 1))
    val v = readView()
    // (document_id, similarity, external_id, doc_json) in page order
    val hits = v.local match {
      case Some(corpus) =>
        val scope =
          if (owner.isEmpty && category.isEmpty) None
          else Some((d: Row) => (owner.isEmpty || d.getAs[String]("owner") == owner) &&
            (category.isEmpty || d.getAs[String]("category") == category))
        SearchService.searchLocal(corpus, model.get, sreq, scope, dim).map { h =>
          (h.documentId, h.similarity, h.doc.map(_.getAs[String]("external_id")).orNull,
            h.doc.map(_.getAs[String]("doc_json")).orNull)
        }
      case None => clusterSearch(v, owner, category, sreq)
    }
    val arr = mapper.createArrayNode()
    hits.foreach { case (id, similarity, externalId, docJson) =>
      val o: ObjectNode = arr.addObject()
      o.put("document_id", id)
      o.put("external_id", externalId)
      o.put("document_similarity", similarity)
      if (!noDocs) o.set[JsonNode]("document", mapper.readTree(docJson))
    }
    val res = mapper.createObjectNode()
    res.set("documents", arr)
    (200, mapper.writeValueAsString(res))
  }

  /** A search over the view's frames, for a corpus too large to hold on
    * the driver: the page and the backfill, plus the scope's pin and
    * count for an owner or category search. */
  private def clusterSearch(v: RestServer.ReadView, owner: String, category: String,
      sreq: SearchService.SearchRequest): Seq[(Long, Double, String, String)] = {
    val scoped = Seq(
      Option(owner).filter(_.nonEmpty).map(o => col("owner") === o),
      Option(category).filter(_.nonEmpty).map(c => col("category") === c)
    ).flatten.foldLeft(v.docs)((d, p) => d.filter(p))
    // tenant scope: size-gated semi filter — broadcast only when the
    // scope is small (DedupOps.gateKnown), sort-merge for a large owner;
    // a tenant whose corpus outgrows the broadcast limit must not OOM
    // the driver (the reference's WHERE owner_id=? has no such bound)
    val scopeIds =
      if (owner.isEmpty && category.isEmpty) None
      else Some(Jobs.step(spark, "search/scope")(Pins.pin(scoped.select("document_id"))))
    val rows = try {
      val indexed = scopeIds match {
        case None => v.index
        case Some(ids) => RestServer.scopedIndex(v.index, ids,
          Jobs.step(spark, "search/scope")(ids.count()), broadcastRowLimit)
      }
      SearchService.search(spark, indexed,
        scoped.select("document_id", "external_id", "doc_json"),
        model.get, sreq, dim = dim).collect()
    } finally scopeIds.foreach(graft.operators.DedupOps.releaseCheckpoint)
    rows.toSeq.map(r => (r.getAs[Long]("document_id"), r.getAs[Double]("similarity"),
      r.getAs[String]("external_id"), r.getAs[String]("doc_json")))
  }

  // ---------- /api/chat (server/chat.go) ----------

  private def handleChat(req: JsonNode): (Int, Iterator[String]) = {
    val text = textOr(req, "text", null)
    if (text == null) return (400, Iterator("Invalid request"))
    val history = Option(req.get("history")).filter(_.isArray)
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val ids = Option(req.get("document_ids")).filter(_.isArray)
      .map(_.elements().asScala.map(_.asLong()).toSeq).getOrElse(Nil)
    val inline = Option(req.get("documents")).filter(_.isArray)
      .map(_.elements().asScala.map(mapper.writeValueAsString(_): String).toSeq)
      .getOrElse(Nil)
    val docs =
      if (ids.isEmpty) spark.emptyDataFrame
        .withColumn("document_id", lit(0L)).withColumn("doc_json", lit(""))
      else readView().docs.select("document_id", "doc_json")
    val creq = SearchService.ChatRequest(text = text,
      prefix = textOr(req, "prefix", ""), history = history,
      documentIds = ids, documents = inline)
    (200, Jobs.step(spark, "chat/fetch")(
      SearchService.chatStream(spark, docs, creq, generateProvider)))
  }

  // ---------- /api/delete/* (server/delete.go) ----------

  /** The cascade for ids the server holds; a held corpus loses them. */
  private def deleteIds(ids: Set[Long], held: Option[LocalCorpus])
      : ((Int, String), Option[LocalCorpus]) = {
    if (ids.nonEmpty)
      SearchService.deleteDocuments(spark, docStore, indexDir, ids)
    ((200, "{}"), held.map(_.remove(ids))) // delete.go:79 responds `{}`
  }

  private def handleDeleteDocument(req: JsonNode): (Int, String) = {
    val id = Option(req.get("document_id")).map(_.asLong())
    id match {
      case None => (400, """{"error":"Invalid request"}""")
      case Some(i) => write(deleteIds(Set(i), _))
    }
  }

  /** Owner/category cascade over the documents whose `field` is `value`.
    * A held corpus names them from its rows, and they go as a document
    * delete's ids do. Otherwise the victims stay a DataFrame end-to-end —
    * a large tenant's id set never collects to the driver (the engine's
    * answer to delete.go's `DELETE WHERE owner_id=?`) — and the view is
    * dropped. */
  private def deleteWhere(field: String, value: String): (Int, String) = write {
    case Some(corpus) =>
      deleteIds(corpus.docs.collect {
        case (id, d) if d.getAs[String](field) == value => id
      }.toSet, Some(corpus))
    case None =>
      if (docStore.isInitialized)
        SearchService.deleteDocuments(spark, docStore, indexDir,
          readView().docs.filter(col(field) === value).select("document_id"),
          broadcastRowLimit)
      ((200, "{}"), None)
  }

  private def handleDeleteOwner(req: JsonNode): (Int, String) =
    textOr(req, "owner", "") match {
      case "" => (400, """{"error":"Invalid request"}""")
      case o => deleteWhere("owner", o)
    }

  private def handleDeleteCategory(req: JsonNode): (Int, String) =
    textOr(req, "category", "") match {
      case "" => (400, """{"error":"Invalid request"}""")
      case c => deleteWhere("category", c)
    }

  // ---------- /api/categories (server/fetch.go) ----------

  private def handleCategories(req: JsonNode): (Int, String) = {
    if (!docStore.isInitialized) return (200, """{"category_names":[]}""")
    val owner = textOr(req, "owner", "")
    val base = readView().docs
    val scoped = if (owner.isEmpty) base else base.filter(col("owner") === owner)
    val names = Jobs.step(spark, "categories/distinct")(scoped.select("category")
      .distinct().collect()).map(_.getString(0)).sorted
    (200, s"""{"category_names":${names.map(quote).mkString("[", ",", "]")}}""")
  }

  // ---------- helpers ----------

  private def textOr(n: JsonNode, field: String, dflt: String): String =
    Option(n.get(field)).filter(_.isTextual).map(_.asText()).getOrElse(dflt)

  private def intOr(n: JsonNode, field: String, dflt: Int): Int =
    Option(n.get(field)).filter(_.isNumber).map(_.asInt()).getOrElse(dflt)

  private def quote(s: String): String = mapper.writeValueAsString(s)
}

object RestServer {
  // read once by the JDK's server config, so before the class body's
  // HttpServer.create (the class reads DocSchema first); see the class doc
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  /** What every read resolves from storage: the documents frame, the
    * index frame as stored (`indexRows`: vec_id, qvec, centroid_id,
    * document_id) and decoded (`index`), plans over a file listing made
    * when a frame is first read; and `local`, the corpus on the driver
    * when it is small. A view holds the corpus a write derived for it,
    * or collects one with `collect` for the first search that reads it,
    * so a write that drops the view never pays for it. */
  private final class ReadView(loadDocs: => DataFrame, loadIndex: => DataFrame,
      held0: Option[LocalCorpus],
      collect: ReadView => Option[LocalCorpus]) {
    lazy val docs: DataFrame = loadDocs
    lazy val indexRows: DataFrame = loadIndex
    lazy val index: DataFrame = indexRows.select(col("vec_id"), col("document_id"),
      gf.dequantize_vec(col("qvec")).as("embedding"), col("centroid_id"))
    @volatile private var resolved: Option[Option[LocalCorpus]] = held0.map(Some(_))
    def local: Option[LocalCorpus] = resolved.getOrElse(synchronized {
      if (resolved.isEmpty) resolved = Some(collect(this))
      resolved.get
    })
    /** The corpus if this view already has it, without collecting it. */
    def held: Option[LocalCorpus] = resolved.flatten
  }

  /** The document store's columns, as the upload writes them. */
  val DocSchema: StructType = StructType(Seq(
    StructField("document_id", LongType), StructField("external_id", StringType),
    StructField("owner", StringType), StructField("category", StringType),
    StructField("doc_json", StringType)))

  /** Index rows semi-filtered to a tenant scope, size-gated
    * ([[graft.operators.DedupOps.gateKnown]]): broadcast only when the
    * scope is known-small; above the gate, a merge-hinted shuffled semi
    * join with NO BroadcastExchange regardless of AQE's runtime stats —
    * a tenant larger than the broadcast limit must not land its id set
    * on the driver. Factored out so the spec can pin the physical plan
    * on both sides of the gate. */
  def scopedIndex(base: DataFrame, scopeIds: DataFrame, knownCount: Long,
      rowLimit: Long = graft.operators.DedupOps.BroadcastRowLimit): DataFrame =
    base.join(
      graft.operators.DedupOps.gateKnown(scopeIds, knownCount, rowLimit),
      Seq("document_id"), "left_semi")
}
