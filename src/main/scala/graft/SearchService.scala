package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.{gf, VectorKernels}
import graft.index.IvfIndex
import graft.sources.ParquetStore

/** The reference's three entry-point lifecycles (SURVEY §3) as first-class
  * engine operators over persistent stores:
  *
  *  - [[search]] — /api/search (server/search.go:45-333): embed the query
  *    text, clamp params, probe nprobe centroids, scan only those lists,
  *    per-document best-chunk dedup, deterministic top-k with offset
  *    pagination, document payload backfill.
  *  - [[refreshIndex]] — RefreshCentroids → KMeansDivideAndConquer
  *    (server/centroids.go:17-83): rebuild the centroid model from the
  *    current embeddings and persist re-assignments through the keyed
  *    store (only touched buckets rewrite).
  *  - upload (§3.2) lives in [[graft.streaming.Streams.ingestChunks]].
  */
object SearchService {

  /** Reference request semantics (search.go:73-122). */
  final case class SearchRequest(
      text: String,
      count: Int = 10, // clamped to [1, 20] (search.go:116)
      offset: Int = 0, // clamped to >= 0
      centroids: Int = 1) // 0 -> 1; negative -> all (search.go:118-122)

  final case class Clamped(count: Int, offset: Int, nprobe: Int)

  def clamp(req: SearchRequest, nLists: Int): Clamped = Clamped(
    count = math.max(1, math.min(20, req.count)),
    offset = math.max(0, req.offset),
    nprobe =
      if (req.centroids == 0) 1
      else if (req.centroids < 0) nLists
      else math.min(req.centroids, nLists))

  /** Full read path. `indexed` must carry (chunk embeddings, document_id,
    * centroid_id); `documents` carries (document_id, payload columns).
    * Returns count rows from `offset` in (similarity DESC, document_id
    * ASC) order: per-document best-chunk similarity (A6), paginated
    * top-k (T2/T3), payload backfill (J5) with left-join semantics — a
    * hit whose document is missing keeps null payload columns, and a
    * document id stored twice fans its hit out.
    *
    * Cost: a serving probe (nprobe ≤ 8) runs two Spark jobs, the page
    * and the backfill point read. The result is a driver-held local
    * frame, so collecting it runs none. A corpus small enough to hold on
    * the driver answers the same search with no job through
    * [[searchLocal]]. */
  def search(spark: SparkSession, indexed: DataFrame, documents: DataFrame,
      model: IvfIndex.Model, req: SearchRequest,
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    val p = clamp(req, model.k)
    val page = pageGraph(indexed, model, p, req.text, vecCol, dim)
    val hits = Jobs.step(spark, "search/page")(page.collect())
    // J5 backfill, reference-shaped (database.go WHERE id IN (...)): the
    // page is ≤ count rows by construction, so push its ids as an IN-list
    // filter down to the doc store scan, collect the matching rows, and
    // merge them onto the page on the driver. A cluster-side join would
    // cost two more jobs per query: a broadcast of the filtered
    // documents, then a one-task stage to order ≤ count rows.
    val payloadCols = documents.columns.filterNot(_ == "document_id")
    val payload =
      if (hits.isEmpty) Map.empty[Long, Array[Row]]
      else Jobs.step(spark, "search/backfill") {
        documents.filter(col("document_id").isin(hits.map(_.getLong(0)).toSeq: _*))
          .select(col("document_id").cast("long") +: payloadCols.map(col): _*)
          .collect()
      }.groupBy(_.getLong(0))
    val missing = Seq.fill(payloadCols.length)(null)
    val rows = hits.toSeq.flatMap { h =>
      payload.get(h.getLong(0)) match {
        case Some(docs) => docs.toSeq.map(d => Row.fromSeq(h.toSeq ++ d.toSeq.tail))
        case None => Seq(Row.fromSeq(h.toSeq ++ missing))
      }
    }
    val schema = StructType(page.schema.fields ++ payloadCols.map(c =>
      documents.schema(c).copy(nullable = true)))
    // LocalRelation: the rows are already on the driver in page order
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** A served corpus held on the driver: each IVF list's
    * (document_id, vector) rows by centroid_id, and each document's row,
    * (document_id, payload columns…), by document_id. Immutable: a write
    * derives a new corpus with [[add]] or [[remove]], and a search that
    * holds the old one finishes on it. */
  final case class LocalCorpus(lists: Map[Int, Array[(Long, Array[Float])]],
      docs: Map[Long, Row]) {
    /** This corpus plus `rows`, document rows keyed by their first column,
      * and `vectors`, (centroid_id, document_id, vector) chunk rows. */
    def add(rows: Seq[Row], vectors: Seq[(Int, Long, Array[Float])]): LocalCorpus =
      LocalCorpus(
        vectors.groupBy(_._1).foldLeft(lists) { case (ls, (cid, vs)) =>
          ls.updated(cid, ls.getOrElse(cid, Array.empty[(Long, Array[Float])]) ++
            vs.map { case (_, id, v) => (id, v) })
        },
        docs ++ rows.map(r => r.getLong(0) -> r))

    /** This corpus without the documents `ids` and their chunks. */
    def remove(ids: Set[Long]): LocalCorpus =
      LocalCorpus(lists.map { case (cid, rows) => cid -> rows.filterNot(r => ids(r._1)) },
        docs -- ids)
  }

  object LocalCorpus {
    /** Collects the (centroid_id, document_id, `vecCol`) rows of
      * `indexed` in one job. `vecCol` holds float vectors or the index's
      * quantized bytes, which decode on the driver with
      * [[VectorKernels.dequantize]], the kernel `dequantize_vec` runs. */
    def lists(indexed: DataFrame, vecCol: String = "embedding")
        : Map[Int, Array[(Long, Array[Float])]] =
      indexed.select(col("centroid_id").cast("int"), col("document_id").cast("long"), col(vecCol))
        .collect().groupBy(_.getInt(0)).map { case (cid, rows) =>
          cid -> rows.map(r => (r.getLong(1), r.get(2) match {
            case q: Array[Byte] => VectorKernels.dequantize(q)
            case v: scala.collection.Seq[_] => v.map(_.asInstanceOf[Float]).toArray
          }))
        }

    /** Collects `documents` (document_id first) in one job, keyed by the
      * document id; a row keeps its schema, so payload columns read by
      * name. */
    def docs(documents: DataFrame): Map[Long, Row] =
      documents.select(col(documents.columns.head).cast("long").as("document_id") +:
        documents.columns.tail.toSeq.map(col): _*)
        .collect().map(r => r.getLong(0) -> r).toMap
  }

  /** One [[searchLocal]] hit: the document's best-chunk similarity and
    * its row, None when the corpus holds no row for it. */
  final case class LocalHit(documentId: Long, similarity: Double, doc: Option[Row])

  /** [[search]]'s page from a [[LocalCorpus]], with no Spark job: the
    * same probe, per-chunk scores from the scalar [[VectorKernels.cosine]]
    * that `cosine_sim` runs (never a float-lane kernel, so every score is
    * the Spark path's to the bit), each document's best chunk,
    * (similarity DESC, document_id ASC) order, then offset and count.
    * A `scope` keeps only the documents whose row it accepts; a document
    * without a row is outside every scope. */
  def searchLocal(corpus: LocalCorpus, model: IvfIndex.Model, req: SearchRequest,
      scope: Option[Row => Boolean] = None, dim: Int = 64): Seq[LocalHit] = {
    val p = clamp(req, model.k)
    val qvec = queryVector(req.text, dim)
    val inScope: Long => Boolean = scope match {
      case None => _ => true
      case Some(accept) => id => corpus.docs.get(id).exists(accept)
    }
    val best = scala.collection.mutable.HashMap.empty[Long, Double]
    for {
      cid <- model.probe(qvec, p.nprobe)
      (id, v) <- corpus.lists.getOrElse(cid, Array.empty[(Long, Array[Float])])
      if inScope(id)
    } {
      val sim = VectorKernels.cosine(v, qvec)
      if (best.get(id).forall(_ < sim)) best(id) = sim
    }
    best.toSeq
      .sortWith { case ((i1, s1), (i2, s2)) => s1 > s2 || (s1 == s2 && i1 < i2) }
      .slice(p.offset, p.offset + p.count)
      .map { case (id, sim) => LocalHit(id, sim, corpus.docs.get(id)) }
  }

  /** The query text's embedding; the reference prefixes
    * "search_query: " before embedding (search.go:128). */
  private def queryVector(text: String, dim: Int): Array[Float] =
    VectorKernels.dequantize(VectorKernels.noopEmbed("search_query: " + text, dim))

  /** The probe → pruned scan → per-doc best-chunk → paginated top-k
    * subgraph shared by the Spark read-path shapes. */
  private def pageGraph(indexed: DataFrame, model: IvfIndex.Model,
      p: Clamped, text: String, vecCol: String, dim: Int): DataFrame = {
    val qvec = queryVector(text, dim)
    val probeIds = model.probe(qvec, p.nprobe)
    val pruned = indexed
      .filter(col("centroid_id").isin(probeIds: _*)) // pruned scan (S4)
    // Serving probes are small (reference default nprobe=1, count ≤ 20):
    // nprobe × listSize rows fit one task, so collapse to a single
    // partition and the scan → per-doc max → top-k pipeline runs as ONE
    // exchange-free stage (partition/batch pruning still applies below
    // the coalesce). Analytic probes (centroids < 0 → all lists) keep the
    // distributed aggregation.
    val scanBase = if (p.nprobe <= 8) pruned.coalesce(1) else pruned
    scanBase
      .select(col("document_id"),
        gf.cosine_sim(col(vecCol), lit(qvec).cast("array<float>")).as("sim"))
      .groupBy("document_id") // A6: best chunk per document
      .agg(max("sim").as("similarity"))
      .orderBy(col("similarity").desc, col("document_id").asc)
      .limit(p.offset + p.count) // T2: distributed partial top-k
      .offset(p.offset) // T3: native offset — no window pass
  }

  /** Batched read path — the Spark-honest serving shape. A single-query
    * DataFrame job pays ~100-300 ms of planning + scheduling regardless
    * of data size; a service amortizes it by draining its request queue
    * into one job. One scan of the index serves every request: the
    * (request × probed-centroid) table — tiny, rows = Σ nprobe — is
    * broadcast and hash-joined against the index on centroid_id, so each
    * request still only scores its own probed lists. Per-request dedup /
    * top-k / offset run in a window partitioned by request id (bounded
    * partitions — never a global window), and payload backfill is ONE
    * join for the whole batch. Results carry `qid` = the request's index
    * in `reqs`.
    *
    * Latency note (measured, local[32], sf0.1): ~300 ms/query unbatched
    * vs < 40 ms/query at batch 30. Serving deployments should also
    * consider `spark.sql.adaptive.enabled=false` — adaptive re-planning
    * buys nothing on point queries and costs ~25%. */
  def searchBatch(spark: SparkSession, indexed: DataFrame, documents: DataFrame,
      model: IvfIndex.Model, reqs: Seq[SearchRequest],
      vecCol: String = "embedding", dim: Int = 64): DataFrame = {
    import spark.implicits._
    require(reqs.nonEmpty, "empty request batch")
    // Repeated request texts are common in serving (hot queries,
    // pagination pages of one query): score each UNIQUE (text, nprobe)
    // once — scan cost follows distinct queries — and fan the scored
    // lists back out per request for its own count/offset page.
    val clamped = reqs.zipWithIndex.map { case (req, qid) =>
      (qid, req.text, clamp(req, model.k))
    }
    val uniques = clamped.map { case (_, text, p) => (text, p.nprobe) }
      .distinct.zipWithIndex
    val uOf = uniques.toMap
    val probes = uniques.flatMap { case ((text, nprobe), uqid) =>
      val qvec = queryVector(text, dim)
      model.probe(qvec, nprobe).map(cid => (uqid, cid, qvec.toSeq))
    }
    val qdf = probes.toDF("uqid", "probe_cid", "qvec")
    val reqDf = clamped.map { case (qid, text, p) =>
      (qid, uOf((text, p.nprobe)), p.count, p.offset)
    }.toDF("qid", "uqid", "count", "offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("similarity").desc, col("document_id").asc)
    val hits = indexed
      .join(broadcast(qdf), col("centroid_id") === col("probe_cid"))
      .select(col("uqid"), col("document_id"),
        gf.cosine_sim(col(vecCol), col("qvec")).as("sim"))
      .groupBy(col("uqid"), col("document_id"))
      .agg(max("sim").as("similarity"))
      .join(broadcast(reqDf), "uqid")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > col("offset") &&
        col("_rn") <= col("offset") + col("count"))
      .select(col("qid"), col("document_id"), col("similarity"))
    hits.join(documents, Seq("document_id"), "left")
      .orderBy(col("qid").asc, col("similarity").desc, col("document_id").asc)
  }

  /** Chat request semantics (reference server/chat.go:24-30): optional
    * question prefix, alternating user/assistant history, the question
    * text, plus context documents — inline JSON blobs and/or store ids
    * to fetch. */
  final case class ChatRequest(
      text: String,
      prefix: String = "",
      history: Seq[String] = Nil,
      documentIds: Seq[Long] = Nil,
      documents: Seq[String] = Nil) // inline JSON docs, kept FIRST (chat.go:120-123)

  final case class ChatResult(messages: Seq[(String, String)], reply: String)

  /** The /api/chat lifecycle (server/chat.go:109-181): fetch the context
    * documents by id, assemble the RAG prompt — history turns, a
    * `"""flattened"""` block per document, the prefixed question — and
    * call the generate provider. The id fetch is the same bounded
    * point-read shape as [[search]]'s backfill: an IN-list filter pushed
    * to the document store scan, never a full-table pass; a chat context
    * is dozens of documents, so the collect is driver-bounded by
    * construction. Returns the assembled messages (spec'd byte-exact
    * against the reference's builder) and the provider's reply.
    *
    * `documents` must carry (`idCol`, `jsonCol`) where `jsonCol` is the
    * stored document JSON (the reference keeps uploads as JSON blobs,
    * database/model.go; relational tables get there via
    * `to_json(struct(...))`). Fetched docs append after inline ones in
    * id order — GORM's `Find(&docs, ids)` primary-key order. */
  def chat(spark: SparkSession, documents: DataFrame, req: ChatRequest,
      provider: graft.functions.GenerateProvider,
      idCol: String = "document_id", jsonCol: String = "doc_json"): ChatResult = {
    val messages = chatPrompt(documents, req, idCol, jsonCol)
    ChatResult(messages, provider.chat(messages))
  }

  /** Streaming twin of [[chat]] — token chunks in arrival order
    * (server/chat.go streams runes to the client as they decode). */
  def chatStream(spark: SparkSession, documents: DataFrame, req: ChatRequest,
      provider: graft.functions.GenerateProvider,
      idCol: String = "document_id", jsonCol: String = "doc_json"): Iterator[String] =
    provider.chatStream(chatPrompt(documents, req, idCol, jsonCol))

  /** RAG facade: the reference client's two-call flow (/api/search then
    * /api/chat with the hit ids) as one engine call — search the index,
    * feed the page's document ids to [[chat]]. */
  def ragChat(spark: SparkSession, indexed: DataFrame, documents: DataFrame,
      model: IvfIndex.Model, req: ChatRequest,
      provider: graft.functions.GenerateProvider, topK: Int = 3,
      nprobe: Int = 1, vecCol: String = "embedding", dim: Int = 64,
      idCol: String = "document_id", jsonCol: String = "doc_json"): ChatResult = {
    val page = pageGraph(indexed, model,
      Clamped(count = topK, offset = 0, nprobe = clamp(
        SearchRequest(req.text, count = topK, centroids = nprobe), model.k).nprobe),
      req.text, vecCol, dim)
    val hitIds = page.collect().map(_.getLong(0)).toSeq
    chat(spark, documents,
      req.copy(documentIds = (req.documentIds ++ hitIds).distinct),
      provider, idCol, jsonCol)
  }

  private def chatPrompt(documents: DataFrame, req: ChatRequest,
      idCol: String, jsonCol: String): Seq[(String, String)] = {
    val fetched =
      if (req.documentIds.isEmpty) Seq.empty[String]
      else documents
        .filter(col(idCol).isin(req.documentIds: _*)) // IN-pushed point read
        .select(col(idCol), col(jsonCol))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getString(1))
        .toSeq
    graft.functions.TextKernels.chatMessages(
      req.history, req.documents ++ fetched, req.prefix, req.text)
  }

  /** Full document DELETE lifecycle (reference server/delete.go:214-288)
    * for ids the caller holds, as a request does. The cascade covers the
    * reference's two tables: the index half
    * ([[graft.sources.IvfBinarySource.deleteDocs]] — a discovery job over
    * the doc ids' vec_id envelope that reads no vector bytes, then a
    * rewrite of only the lists holding their chunks, via the ingest
    * path's vec_id = doc_id·10⁵ + chunk_id encoding,
    * [[graft.streaming.Streams.ChunkVecIdBase]]), then the document
    * store, where only touched buckets rewrite. The ids reach the store as
    * a driver-local frame, so its delete runs two Spark jobs when it knows
    * its schema ([[ParquetStore.deleteKeys]]): four for the whole cascade.
    * Returns the number of index rows deleted. */
  def deleteDocuments(spark: SparkSession, docStore: ParquetStore,
      indexPath: String, docIds: Set[Long]): Long = {
    if (docIds.isEmpty) return 0L
    import spark.implicits._
    val removed = Jobs.step(spark, "delete/index")(
      graft.sources.IvfBinarySource.deleteDocs(spark, indexPath, docIds,
        graft.streaming.Streams.ChunkVecIdBase))
    Jobs.step(spark, "delete/doc-store")(
      docStore.deleteKeys(docIds.toSeq.toDF(docStore.keyCol)))
    removed
  }

  /** The four-argument cascade, then the same ids out of a second store
    * keyed by the document id (a child table co-bucketed on that key).
    * The server keeps no such store; this form serves callers that do.
    * A store that was never written is left alone. */
  def deleteDocuments(spark: SparkSession, docStore: ParquetStore,
      chunkStore: ParquetStore, indexPath: String, docIds: Set[Long]): Long = {
    import spark.implicits._
    val removed = deleteDocuments(spark, docStore, indexPath, docIds)
    Jobs.step(spark, "delete/chunk-store")(
      chunkStore.deleteKeys(docIds.toSeq.toDF(chunkStore.keyCol)))
    removed
  }

  /** [[deleteDocuments]] with the doomed doc ids as a DataFrame — the
    * tenant-scale path (reference delete.go's `DELETE WHERE owner_id=?`
    * has no driver bound, so neither does this): a large owner's victim
    * set never lands on the driver. The first column of `doomedDocs` is
    * the doc id. The distinct ids are pinned, and one aggregate job reads
    * their [lo, hi] envelope and count. The count size-gates the ids
    * ([[graft.operators.DedupOps.gateKnown]] — broadcast when the scope is
    * request-sized, sort-merge when tenant-sized) for
    * [[graft.sources.IvfBinarySource.deleteDocs]]'s DataFrame form, which
    * reads the index once inside the envelope. The document store then
    * anti-joins the pinned ids. */
  def deleteDocuments(spark: SparkSession, docStore: ParquetStore,
      indexPath: String, doomedDocs: DataFrame,
      broadcastRowLimit: Long = graft.operators.DedupOps.BroadcastRowLimit): Long = {
    import graft.operators.{DedupOps, Pins}
    def victimStep[A](body: => A): A = Jobs.step(spark, "delete/victims")(body)
    val doomed = victimStep(Pins.pin(doomedDocs
      .select(col(doomedDocs.columns.head).cast("long").as("document_id"))
      .distinct()))
    try {
      val stats = victimStep(
        doomed.agg(min("document_id"), max("document_id"), count(lit(1))).collect()(0))
      if (stats.isNullAt(0)) return 0L
      val removed = Jobs.step(spark, "delete/index")(
        graft.sources.IvfBinarySource.deleteDocs(spark, indexPath,
          DedupOps.gateKnown(doomed, stats.getLong(2), broadcastRowLimit),
          stats.getLong(0), stats.getLong(1), graft.streaming.Streams.ChunkVecIdBase))
      Jobs.step(spark, "delete/doc-store")(docStore.deleteKeys(doomed))
      removed
    } finally DedupOps.releaseCheckpoint(doomed)
  }

  /** Index refresh as a batch job: rebuild the model from the embedding
    * store's current rows, write re-assignments back through the bucketed
    * upsert — like the reference's changed-rows-only UPDATE
    * (dnc.go:223-247), only buckets holding moved rows rewrite. The store
    * must carry a `centroid_id` column (use -1 for never-assigned rows).
    * Returns the refreshed model. */
  def refreshIndex(spark: SparkSession, embStore: ParquetStore,
      vecCol: String, params: IvfIndex.Params = IvfIndex.Params()): IvfIndex.Model = {
    val current = embStore.read(spark)
    require(current.columns.contains("centroid_id"),
      "embedding store must have a centroid_id column (-1 when unassigned)")
    // IvfIndex.assign's withColumn replaces the stale centroid_id
    val (assigned, model) = IvfIndex.build(current, vecCol, params)
    val changed = assigned
      .join(current.select(col(embStore.keyCol),
        col("centroid_id").as("_old")), Seq(embStore.keyCol), "left")
      .filter(col("_old").isNull || col("_old") =!= col("centroid_id"))
      .drop("_old")
    embStore.upsert(changed.drop("centroid_sim"))
    model
  }
}
