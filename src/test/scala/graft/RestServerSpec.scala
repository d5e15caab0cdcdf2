package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite.jobsOf

/** Integration gate for the REST serving tier: the reference's
  * upload → search → chat → delete lifecycle driven END TO END through
  * real HTTP against the stub providers, plus the openapi payload
  * polymorphism (document = string | array | object) and the zstd
  * middleware round-trip. */
object RestServerSpec {
  /** JVM-static so executor-side invocations land in the same counter
    * under local mode; counts TEXTS embedded, not batches. */
  val embedCalls = new java.util.concurrent.atomic.AtomicLong(0)

  final case class CountingProvider(dim: Int) extends graft.functions.EmbedProvider {
    private val inner = graft.functions.NoopProvider(dim)
    def embedBatch(texts: Seq[String]): Seq[Array[Byte]] = {
      embedCalls.addAndGet(texts.size.toLong)
      inner.embedBatch(texts)
    }
  }

  /** Embeds as the noop provider does, and fails every batch that holds
    * a text containing "poison". */
  final case class PoisonProvider(dim: Int) extends graft.functions.EmbedProvider {
    private val inner = graft.functions.NoopProvider(dim)
    def embedBatch(texts: Seq[String]): Seq[Array[Byte]] = {
      require(!texts.exists(_.contains("poison")), "poisoned batch")
      inner.embedBatch(texts)
    }
  }
}

class RestServerSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  /** A session on the suite's context whose broadcast threshold is -1:
    * a server on it never holds its corpus on the driver. */
  private lazy val overBound = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }
  private val mapper = new ObjectMapper()
  private val client = HttpClient.newHttpClient()

  private lazy val server = {
    val dir = java.nio.file.Files.createTempDirectory("rest").toString
    val s = new graft.server.RestServer(spark, dir)
    s.start()
    s
  }
  private def url(p: String) = s"http://localhost:${server.port}$p"

  private def post(path: String, body: String,
      headers: Seq[(String, String)] = Nil): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(url(path)))
      .POST(HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def json(r: HttpResponse[Array[Byte]]) =
    mapper.readTree(new String(r.body(), UTF_8))

  test("upload -> search -> chat -> delete lifecycle over HTTP") {
    // upload: all three payload shapes from openapi.yml's example
    val up = post("/api/upload",
      """{"owner":"o1","category":"stories","documents":[
        |{"external_id":"abc123","document":"Once upon a time there was a hidden kingdom"},
        |{"document":["In a galaxy far, far away","ships sailed the void"]},
        |{"document":{"story":"The Force Awakens","author":"jj"}}
        |]}""".stripMargin)
    assert(up.statusCode() == 200)
    val ids = json(up).get("document_ids").elements()
    val idSeq = Iterator.continually(ids).takeWhile(_.hasNext).map(_.next().asLong()).toSeq
    assert(idSeq == Seq(1L, 2L, 3L))

    // search: self-text must find its own document first (noop embed is
    // deterministic in the text)
    val sr = post("/api/search",
      """{"text":"Once upon a time there was a hidden kingdom","count":2}""")
    assert(sr.statusCode() == 200)
    val docs = json(sr).get("documents")
    assert(docs.size() == 2)
    assert(docs.get(0).get("document_id").asLong() == 1L)
    assert(docs.get(0).get("external_id").asText() == "abc123")
    assert(docs.get(0).get("document").asText().contains("Once upon a time"))
    assert(docs.get(0).get("document_similarity").asDouble() >
      docs.get(1).get("document_similarity").asDouble() - 1e-9)

    // no_documents omits the payload
    val srNd = post("/api/search",
      """{"text":"Once upon a time there was a hidden kingdom","count":1,"no_documents":true}""")
    assert(!json(srNd).get("documents").get(0).has("document"))

    // object payload round-trips as an OBJECT, not a string
    val srObj = post("/api/search",
      """{"text":"story: The Force Awakens","count":3}""")
    val objHit = json(srObj).get("documents").elements().asScala
      .find(_.get("document_id").asLong() == 3L).get
    assert(objHit.get("document").isObject)
    assert(objHit.get("document").get("story").asText() == "The Force Awakens")

    // chat: stub provider echoes the assembled prompt's last message;
    // context doc 1 is fetched by id into the prompt
    val ch = post("/api/chat",
      """{"text":"Tell me about the document","document_ids":[1]}""")
    assert(ch.statusCode() == 200)
    val reply = new String(ch.body(), UTF_8)
    assert(reply.nonEmpty)

    // categories
    val cats = post("/api/categories", """{"owner":"o1"}""")
    assert(json(cats).get("category_names").get(0).asText() == "stories")

    // delete document 1 -> search must not return it anymore
    val del = post("/api/delete/document", """{"document_id":1}""")
    assert(del.statusCode() == 200 &&
      new String(del.body(), UTF_8) == "{}")
    val sr2 = post("/api/search",
      """{"text":"Once upon a time there was a hidden kingdom","count":3}""")
    val left = json(sr2).get("documents").elements().asScala
      .map(_.get("document_id").asLong()).toSet
    assert(!left.contains(1L) && left.nonEmpty)

    // delete by owner wipes the rest
    val delO = post("/api/delete/owner", """{"owner":"o1"}""")
    assert(delO.statusCode() == 200)
    val sr3 = post("/api/search", """{"text":"anything","count":5}""")
    assert(json(sr3).get("documents").size() == 0)
  }

  test("zstd content negotiation round-trips requests and responses") {
    import com.github.luben.zstd.Zstd
    val body =
      """{"documents":[{"external_id":"z1","document":"compressed zebra stripes pattern"}]}"""
    val compressed = Zstd.compress(body.getBytes(UTF_8))
    val req = HttpRequest.newBuilder(URI.create(url("/api/upload")))
      .header("Content-Encoding", "zstd")
      .header("Accept-Encoding", "zstd")
      .POST(HttpRequest.BodyPublishers.ofByteArray(compressed))
      .build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Encoding").orElse("") == "zstd")
    val decompressed = {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(r.body()))
      new String(in.readAllBytes(), UTF_8)
    }
    val node = mapper.readTree(decompressed)
    assert(node.get("document_ids").size() == 1)
  }

  test("upload embeds each chunk exactly once (batch pinned across writes)") {
    // the upload handler runs TWO actions over the embedded batch (index
    // write, and k-means on cold bootstrap); without the pin each action
    // re-invokes the embed provider
    val dir = java.nio.file.Files.createTempDirectory("rest-embed").toString
    RestServerSpec.embedCalls.set(0)
    val s = new graft.server.RestServer(spark, dir,
      embedProvider = Some(RestServerSpec.CountingProvider(64)))
    s.start()
    try {
      def up(body: String) = {
        val r = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}/api/upload"))
            .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
        assert(r.statusCode() == 200)
      }
      // cold path: first batch also trains the IVF model it is assigned to
      up("""{"documents":[{"document":"first short doc"},{"document":"second short doc"}]}""")
      assert(RestServerSpec.embedCalls.get() == 2L,
        s"cold upload re-embedded: ${RestServerSpec.embedCalls.get()} calls for 2 chunks")
      // warm path: model exists, and the assignment's collect embeds the
      // batch with no pin
      val warm = jobsOf(up("""{"documents":[{"document":"third short doc"}]}"""))
      assert(!warm.contains("upload/embed"), s"a warm upload pinned its batch: $warm")
      assert(RestServerSpec.embedCalls.get() == 3L,
        s"warm upload re-embedded: ${RestServerSpec.embedCalls.get()} calls for 3 chunks")
    } finally s.stop()
  }

  test("restart on the same dataDir rebuilds model + id counter from storage") {
    // the server's only in-memory state (centroid matrix, id counter) must
    // be recoverable: a restarted instance serves the old corpus and
    // continues the id sequence without collisions
    val dir = java.nio.file.Files.createTempDirectory("rest-restart").toString
    def post2(port: Int, path: String, body: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    // capture a search page as (id, similarity) pairs — the full served
    // ranking, not just the winner
    def page(port: Int, text: String, count: Int = 3,
        centroids: Int = 1): Seq[(Long, Double)] = {
      val r = post2(port, "/api/search",
        s"""{"text":${mapper.writeValueAsString(text)},"count":$count,"no_documents":true,"centroids":$centroids}""")
      assert(r.statusCode() == 200)
      json(r).get("documents").elements().asScala
        .map(d => (d.get("document_id").asLong(),
          d.get("document_similarity").asDouble())).toSeq
    }
    // a corpus big enough for MULTIPLE lists (150 docs / listSize 64 →
    // k=3): with one list any centroid matrix serves the same rows, so
    // only a multi-list corpus can detect a restart that rebuilds a
    // DIFFERENT model (default nprobe=1 would probe different lists)
    val nDocs = 150
    val docsJson = (1 to nDocs)
      .map(i => s"""{"document":"document number $i about topic ${i % 17} in register ${i % 5}"}""")
      .mkString("[", ",", "]")
    val a = new graft.server.RestServer(spark, dir)
    a.start()
    val upA = post2(a.port, "/api/upload",
      s"""{"owner":"o2","documents":$docsJson}""")
    assert(upA.statusCode() == 200)
    val queries = Seq("alpha probe", "beta probe", "gamma probe",
      "document number 7 about topic 7 in register 2", "register 4")
    val before = queries.map(q => page(a.port, q))
    assert(before.forall(_.nonEmpty))
    a.stop()

    val b = new graft.server.RestServer(spark, dir)
    b.start()
    try {
      // the restart contract: the persisted model is the SAME model the
      // corpus was indexed under, so every search probes the same lists
      // and serves bit-identical pages (the noop embed is deterministic)
      val after = queries.map(q => page(b.port, q))
      assert(after == before,
        s"restarted server served a different ranking:\n  before=$before\n  after =$after")
      // the id sequence continues past the stored max — no collision
      val upB = post2(b.port, "/api/upload",
        """{"documents":[{"document":"a wholly new extra document"}]}""")
      assert(upB.statusCode() == 200)
      val newId = json(upB).get("document_ids").get(0).asLong()
      assert(newId == nDocs + 1L, s"restarted id counter collided: got $newId")
      // and the delete cascade still resolves storage written pre-restart
      // (centroids=-1 probes ALL lists, so absence is model-independent)
      val del = post2(b.port, "/api/delete/document", """{"document_id":1}""")
      assert(del.statusCode() == 200)
      val left = page(b.port, "document number 1 about topic 1 in register 1",
        count = 20, centroids = -1).map(_._1).toSet
      assert(!left.contains(1L) && left.nonEmpty)
    } finally b.stop()
  }

  test("tenant scope join is size-gated: broadcast small, merge (never broadcast) large") {
    // the factored scopedIndex is the exact join handleSearch builds;
    // pin the physical plan on BOTH sides of the gate
    val base = spark.range(200).selectExpr("id as vec_id",
      "id % 40 as document_id", "cast(id % 3 as int) as centroid_id")
    val scope = spark.range(10).selectExpr("id as document_id")
    def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect() // materialize so AQE's final plan is the one inspected
      df.queryExecution.executedPlan.toString
    }
    val small = executedPlan(
      graft.server.RestServer.scopedIndex(base, scope, knownCount = 10, rowLimit = 100))
    assert(small.contains("BroadcastHashJoin"),
      s"request-sized scope must broadcast:\n$small")
    val large = executedPlan(
      graft.server.RestServer.scopedIndex(base, scope, knownCount = 10, rowLimit = 5))
    assert(!large.contains("BroadcastExchange"),
      s"scope above the gate must NOT broadcast (driver OOM at tenant scale):\n$large")
    assert(large.contains("SortMergeJoin"),
      s"above the gate the semi join must be the merge fallback:\n$large")
  }

  test("large-tenant regime: scoped search + owner delete work with the gate forced to merge") {
    // broadcastRowLimit=1 makes EVERY tenant scope take the
    // no-broadcast, no-driver-collect path — the 100 TB regime in
    // miniature, end-to-end over HTTP; the -1 threshold keeps the corpus
    // off the driver, so searches take that Spark path
    val dir = java.nio.file.Files.createTempDirectory("rest-tenant").toString
    val s = new graft.server.RestServer(overBound, dir, broadcastRowLimit = 1L)
    s.start()
    def post2(path: String, body: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    try {
      assert(post2("/api/upload",
        """{"owner":"big","documents":[{"document":"big tenant doc one"},{"document":"big tenant doc two"}]}""")
        .statusCode() == 200)
      assert(post2("/api/upload",
        """{"owner":"other","category":"keep","documents":[{"document":"other tenant doc"}]}""")
        .statusCode() == 200)
      // owner-scoped search rides the merge-gated semi join
      val sr = json(post2("/api/search",
        """{"text":"big tenant doc one","owner":"big","count":5,"centroids":-1}"""))
      val ids = sr.get("documents").elements().asScala
        .map(_.get("document_id").asLong()).toSet
      assert(ids == Set(1L, 2L), s"owner scope leaked: $ids")
      // owner delete keeps victims a DataFrame end-to-end (no collect)
      assert(post2("/api/delete/owner", """{"owner":"big"}""").statusCode() == 200)
      val after = json(post2("/api/search",
        """{"text":"big tenant doc one","count":5,"centroids":-1}"""))
      val leftIds = after.get("documents").elements().asScala
        .map(_.get("document_id").asLong()).toSet
      assert(leftIds == Set(3L), s"delete/owner cascade wrong: $leftIds")
      val cats = json(post2("/api/categories", "{}"))
      assert(cats.get("category_names").size() == 1)
    } finally s.stop()
  }

  /** A fresh server on its own data directory, with a POST helper that
    * returns the parsed JSON body. */
  private def withServer(name: String)(body: ((String, String) => JsonNode) => Unit): Unit =
    withServerIn(java.nio.file.Files.createTempDirectory(name).toString)(body)

  /** [[withServer]] on a given data directory. */
  private def withServerIn(dir: String)(body: ((String, String) => JsonNode) => Unit): Unit =
    withRawServer(dir, spark)(call => body((path, req) => mapper.readTree(call(path, req))))

  /** A server on `dir` and `session`, with a POST helper that returns the
    * raw body. */
  private def withRawServer(dir: String, session: org.apache.spark.sql.SparkSession)(
      body: ((String, String) => String) => Unit): Unit =
    serve(dir, session)((_, call) => body(call))

  /** [[withRawServer]] that also hands `body` the server. */
  private def serve(dir: String, session: org.apache.spark.sql.SparkSession)(
      body: (graft.server.RestServer, (String, String) => String) => Unit): Unit = {
    val s = new graft.server.RestServer(session, dir)
    s.start()
    def call(path: String, req: String) = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(req)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200, s"$path $req -> ${r.statusCode()}")
      new String(r.body(), UTF_8)
    }
    try body(s, call) finally s.stop()
  }

  test("a warm search runs no job; over the bound, the page and the backfill") {
    val dir = java.nio.file.Files.createTempDirectory("rest-jobs").toString
    val search = """{"text":"job count doc 7","count":10,"centroids":1}"""
    val scoped = """{"text":"job count doc 7","count":10,"owner":"o","category":"c"}"""
    withServerIn(dir) { call =>
      val docs = (1 to 30).map(i => s"""{"document":"job count doc $i"}""")
        .mkString("[", ",", "]")
      call("/api/upload", s"""{"owner":"o","category":"c","documents":$docs}""")
      val first = jobsOf(call("/api/search", search))
      assert(first == Seq("view/index", "view/docs"),
        s"the first search must collect the index and the documents only: $first")
      val warm = jobsOf { call("/api/search", search); call("/api/search", scoped) }
      assert(warm.isEmpty, s"a warm plain or scoped search must run no job: $warm")
      // every write keeps the held corpus current: no search after one
      // collects it again
      val added = call("/api/upload", """{"owner":"p","documents":[{"document":"one more doc"}]}""")
        .get("document_ids").get(0).asLong()
      val afterUpload = jobsOf(call("/api/search", scoped))
      assert(afterUpload.isEmpty, s"a search after an upload ran $afterUpload")
      call("/api/delete/document", s"""{"document_id":$added}""")
      val afterDelete = jobsOf(call("/api/search", search))
      assert(afterDelete.isEmpty, s"a search after a delete ran $afterDelete")
      // a held corpus names an owner's documents: the delete runs a
      // document delete's steps only
      call("/api/upload", """{"owner":"p","documents":[{"document":"yet another doc"}]}""")
      val ownerDelete = jobsOf(call("/api/delete/owner", """{"owner":"p"}"""))
      assert(ownerDelete.toSet.subsetOf(Set("delete/index", "delete/doc-store")),
        s"an owner delete over a held corpus ran $ownerDelete")
      val afterOwner = jobsOf(call("/api/search", scoped))
      assert(afterOwner.isEmpty, s"a search after an owner delete ran $afterOwner")
    }
    // the same data with the threshold at -1: nothing is collected, and a
    // plain search is the page and the backfill, warm or first
    withRawServer(dir, overBound) { call =>
      val over = jobsOf { call("/api/search", search); call("/api/search", search) }
      assert(over == Seq("search/page", "search/backfill", "search/page", "search/backfill"),
        s"over the bound a plain search must run the page and the backfill only: $over")
    }
  }

  test("the driver path answers byte-identically to the Spark path") {
    val dir = java.nio.file.Files.createTempDirectory("rest-equiv").toString
    def texts(tag: String, n: Int) = (1 to n)
      .map(i => s"""{"external_id":"$tag$i","document":"equal answer $tag doc $i topic ${i % 11}"}""")
      .mkString("[", ",", "]")
    val q = "\"text\":\"equal answer topic 3\""
    val reqs = Seq(
      s"""{$q,"count":10}""",
      s"""{$q,"count":10,"offset":10}""",
      s"""{$q,"count":10,"centroids":4}""",
      s"""{$q,"count":20,"centroids":-1}""",
      s"""{$q,"count":10,"owner":"oa"}""",
      s"""{$q,"count":10,"category":"cb","centroids":-1}""",
      s"""{$q,"count":10,"owner":"oa","category":"cb","centroids":-1}""",
      s"""{$q,"count":10,"owner":"nobody"}""",
      s"""{$q,"count":10,"no_documents":true}""",
      s"""{$q,"count":10,"no_documents":false}""",
      s"""{$q,"count":10,"owner":"od","centroids":-1}""")
    serve(dir, spark) { (server, call) =>
      // the first upload trains a three-list model
      call("/api/upload", s"""{"owner":"oa","category":"ca","documents":${texts("a", 150)}}""")
      call("/api/upload", s"""{"owner":"ob","category":"cb","documents":${texts("b", 30)}}""")
      call("/api/upload", s"""{"owner":"oa","category":"cb","documents":${texts("c", 20)}}""")
      // every body on the driver path, then the same requests to a server
      // over the same directory that never holds its corpus
      def answers(after: String, jobs: Seq[String]): Seq[String] = {
        var onDriver = Seq.empty[String]
        val ran = jobsOf { onDriver = reqs.map(call("/api/search", _)) }
        assert(ran == jobs, s"after $after the driver path ran $ran")
        withRawServer(dir, overBound) { over =>
          reqs.zip(onDriver).foreach { case (req, driver) =>
            assert(over("/api/search", req) == driver, s"after $after, request $req")
          }
        }
        onDriver
      }
      // after each write the stores on disk are the corpus the server
      // holds: a write plans its rewrite from it
      def diskIsHeld(after: String): Unit = {
        val held = server.heldCorpus.getOrElse(fail(s"after $after no corpus is held"))
        assertDiskIsHeld(dir, held, after)
      }
      val first = answers("the set-up", Seq("view/index", "view/docs"))
      val counts = first.map(b => mapper.readTree(b).get("documents").size())
      assert(counts == Seq(10, 10, 10, 20, 10, 10, 10, 0, 10, 10, 0), counts)
      assert(!mapper.readTree(first(8)).get("documents").get(0).has("document"))
      assert(mapper.readTree(first(9)).get("documents").get(0).has("document"))
      // each write keeps the held corpus current, so no search after it
      // runs a job, and every answer is still the Spark path's
      call("/api/upload", s"""{"owner":"od","category":"cd","documents":${texts("d", 15)}}""")
      diskIsHeld("an upload")
      val uploaded = answers("an upload", Nil)
      assert(mapper.readTree(uploaded(10)).get("documents").size() == 10)
      val top = mapper.readTree(uploaded(0)).get("documents").get(0).get("document_id").asLong()
      call("/api/delete/document", s"""{"document_id":$top}""")
      diskIsHeld("a document delete")
      assert(!answers("a document delete", Nil).head.contains(s""""document_id":$top,"""))
      call("/api/delete/owner", """{"owner":"ob"}""")
      diskIsHeld("an owner delete")
      answers("an owner delete", Nil)
      call("/api/delete/category", """{"category":"cd"}""")
      diskIsHeld("a category delete")
      assert(mapper.readTree(answers("a category delete", Nil)(10))
        .get("documents").size() == 0)
      // the last owner's delete takes every document: the store keeps its
      // zero-row file, so it still reads
      call("/api/delete/owner", """{"owner":"oa"}""")
      diskIsHeld("a delete of every document")
      assert(server.heldCorpus.exists(_.docs.isEmpty))
      assert(new java.io.File(s"$dir/documents").listFiles()
        .exists(f => f.isFile && f.getName.endsWith(".parquet")), "no zero-row file")
      assert(answers("a delete of every document", Nil).forall(_ == """{"documents":[]}"""))
    }
  }

  test("a held delete that empties a document-store bucket removes its directory") {
    val dir = java.nio.file.Files.createTempDirectory("rest-emptied").toString
    serve(dir, spark) { (server, call) =>
      // three documents in sixteen buckets: some document is alone in its
      // bucket
      call("/api/upload", (1 to 3).map(i => s"""{"document":"lone bucket doc $i"}""")
        .mkString("""{"documents":[""", ",", "]}"))
      call("/api/search", """{"text":"lone bucket doc","count":5}""")
      val byBucket = spark.read.parquet(s"$dir/documents").collect()
        .groupBy(_.getAs[Number]("_bucket").longValue)
      val (bucket, rows) = byBucket.find(_._2.length == 1).getOrElse(fail(s"no lone document: $byBucket"))
      val jobs = jobsOf(call("/api/delete/document",
        s"""{"document_id":${rows.head.getAs[Long]("document_id")}}"""))
      assert(jobs == Seq("delete/doc-store"), s"a held delete ran $jobs")
      assert(!new java.io.File(s"$dir/documents/_bucket=$bucket").exists())
      assertDiskIsHeld(dir, server.heldCorpus.getOrElse(fail("no corpus is held")), "the delete")
    }
  }

  /** The document store read from disk is the held `docs`, row for row,
    * and the index on disk is the held `lists`, as multisets of
    * (centroid_id, document_id, vector). */
  private def assertDiskIsHeld(dir: String, held: SearchService.LocalCorpus, after: String): Unit = {
    val docs = spark.read.schema(graft.server.RestServer.DocSchema).parquet(s"$dir/documents")
      .drop("_bucket").collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(docs == held.docs.values.map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long]),
      s"after $after the document store is not the held documents")
    def sorted(rows: Iterable[(Int, Long, Seq[Float])]) =
      rows.toSeq.sortBy { case (cid, id, v) => (cid, id, v.mkString(",")) }
    val index = spark.read.format(graft.sources.IvfBinarySource.FORMAT).load(s"$dir/index")
      .collect().map(r => (r.getAs[Int]("centroid_id"),
        r.getAs[Long]("vec_id") / graft.streaming.Streams.ChunkVecIdBase,
        graft.functions.VectorKernels.dequantize(r.getAs[Array[Byte]]("qvec")).toSeq))
    assert(sorted(index) == sorted(held.lists.toSeq.flatMap { case (cid, rows) =>
      rows.map { case (id, v) => (cid, id, v.toSeq) } }),
      s"after $after the index is not the held lists")
  }

  test("an upload that crosses the bound hands search to the Spark path") {
    val dir = java.nio.file.Files.createTempDirectory("rest-cross").toString
    val session = spark.newSession()
    val search = """{"text":"bound doc 3","count":5}"""
    def storeBytes = Seq("index", "documents").map { d =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$d")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
    }.sum
    withRawServer(dir, session) { call =>
      def upload(tag: String, n: Int) = call("/api/upload", (1 to n)
        .map(i => s"""{"document":"bound doc $tag $i"}""")
        .mkString("""{"documents":[""", ",", "]}"))
      // the first upload writes a file per bucket per task, the second
      // rewrites the buckets it touches as one file each, so later
      // uploads only grow the stores
      upload("seed", 30)
      upload("spread", 60)
      session.conf.set("spark.sql.autoBroadcastJoinThreshold", (storeBytes + 1).toString)
      val held = jobsOf(call("/api/search", search))
      assert(held == Seq("view/index", "view/docs"), s"the stores fit, yet the search ran $held")
      // a delete shrinks the stores: the corpus stays held
      call("/api/delete/document", """{"document_id":1}""")
      val kept = jobsOf(call("/api/search", search))
      assert(kept.isEmpty, s"a delete within the bound dropped the corpus: $kept")
      upload("more", 100)
      val over = jobsOf { call("/api/search", search); call("/api/search", search) }
      assert(over == Seq("search/page", "search/backfill", "search/page", "search/backfill"),
        s"over the bound a search must run the page and the backfill only: $over")
    }
  }

  test("a failed write drops the held corpus") {
    val dir = java.nio.file.Files.createTempDirectory("rest-failed").toString
    val s = new graft.server.RestServer(spark, dir,
      embedProvider = Some(RestServerSpec.PoisonProvider(64)))
    s.start()
    def post2(path: String, body: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    val search = """{"text":"failed write doc","count":20,"centroids":-1}"""
    try {
      val docs = (1 to 30).map(i => s"""{"document":"failed write doc $i"}""")
      assert(post2("/api/upload", docs.mkString("""{"documents":[""", ",", "]}"))
        .statusCode() == 200)
      post2("/api/search", search)
      // a write that succeeds keeps the corpus held
      assert(post2("/api/upload", """{"documents":[{"document":"failed write doc 31"}]}""")
        .statusCode() == 200)
      var before = ""
      val held = jobsOf { before = post2("/api/search", search).body() }
      assert(held.isEmpty, s"a search after a successful upload ran $held")
      // this upload's batch fails in the embed provider
      val failed = post2("/api/upload",
        """{"documents":[{"document":"fine doc"},{"document":"poison doc"}]}""")
      assert(failed.statusCode() == 500, failed.body())
      var after = ""
      val jobs = jobsOf { after = post2("/api/search", search).body() }
      assert(jobs == Seq("view/index", "view/docs"),
        s"the search after a failed write must collect the corpus again: $jobs")
      assert(after == before)
    } finally s.stop()
  }

  test("a constructed server has switched Nagle's algorithm off") {
    assert(server.port > 0)
    assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
  }

  test("every write is visible to the next search, and scopes hold after a rebuild") {
    withServer("rest-fresh") { call =>
      def upload(owner: String, category: String, texts: String*) =
        call("/api/upload", s"""{"owner":"$owner","category":"$category","documents":""" +
          texts.map(t => s"""{"document":"$t"}""").mkString("[", ",", "]}"))
          .get("document_ids").elements().asScala.map(_.asLong()).toSeq
      // centroids -1 probes every list, so what a search sees does not
      // depend on the model
      def search(scope: String = "") = call("/api/search",
        s"""{"text":"fresh view probe","count":20,"centroids":-1,"no_documents":true$scope}""")
        .get("documents").elements().asScala.map(_.get("document_id").asLong()).toSet
      def categories = call("/api/categories", "{}").get("category_names")
        .elements().asScala.map(_.asText()).toSet
      val a = upload("oa", "ca", "alpha one", "alpha two", "alpha three")
      val b = upload("ob", "cb", "beta one", "beta two")
      val c = upload("oc", "cc", "gamma one")
      assert(search() == (a ++ b ++ c).toSet)
      val d = upload("od", "cd", "delta one", "delta two")
      assert(search() == (a ++ b ++ c ++ d).toSet, "upload not visible")
      assert(categories == Set("ca", "cb", "cc", "cd"))
      call("/api/delete/document", s"""{"document_id":${a.head}}""")
      assert(search() == (a.tail ++ b ++ c ++ d).toSet, "delete/document not visible")
      call("/api/delete/owner", """{"owner":"ob"}""")
      assert(search() == (a.tail ++ c ++ d).toSet, "delete/owner not visible")
      call("/api/delete/category", """{"category":"cc"}""")
      assert(search() == (a.tail ++ d).toSet, "delete/category not visible")
      assert(categories == Set("ca", "cd"), "categories read a stale view")
      // owner and category scopes over the rebuilt view
      assert(search(""","owner":"oa"""") == a.tail.toSet)
      assert(search(""","category":"cd"""") == d.toSet)
      assert(search(""","owner":"oa","category":"cd"""").isEmpty)
      assert(search(""","owner":"ob"""").isEmpty)
    }
  }

  test("a warm delete or upload and the search after it run at most 1 or 2 jobs") {
    val dir = java.nio.file.Files.createTempDirectory("rest-write-jobs").toString
    withServerIn(dir) { call =>
      def upload(tag: String, n: Int) = call("/api/upload", (1 to n)
        .map(i => s"""{"document":"write job $tag doc $i"}""")
        .mkString("""{"owner":"o","documents":[""", ",", "]}"))
        .get("document_ids").elements().asScala.map(_.asLong()).toSeq
      val ids = upload("seed", 30)
      // warm both routes once, then hold the corpus. Before the first
      // search nothing is held: the upload's index rows are still
      // appended on the driver, and only the assignment and the document
      // store's upsert run jobs
      val cold = jobsOf(upload("warm", 10))
      assert(cold.toSet.subsetOf(Set("upload/assign", "upload/doc-store")),
        s"an upload with no held corpus ran jobs outside the assignment and the upsert: $cold")
      assert(cold.size <= 4, s"an upload with no held corpus must run at most 4 jobs: $cold")
      call("/api/delete/document", s"""{"document_id":${ids.head}}""")
      val probe = """{"text":"write job probe","count":20,"centroids":-1,"no_documents":true}"""
      call("/api/search", probe)
      // each write and the search after it: the held corpus plans the
      // writes, so only the document store's write and the upload's
      // assignment are Spark jobs
      val del = jobsOf {
        call("/api/delete/document", s"""{"document_id":${ids(1)}}""")
        call("/api/search", probe)
      }
      assert(del.toSet.subsetOf(Set("delete/doc-store")),
        s"a delete and a search ran jobs outside the document store's write: $del")
      assert(del.size <= 1, s"a warm delete and a search must run at most 1 job: $del")
      val up = jobsOf { upload("measured", 10); call("/api/search", probe) }
      assert(up.toSet.subsetOf(Set("upload/assign", "upload/doc-store")),
        s"an upload and a search ran jobs outside the assignment and the store's write: $up")
      assert(up.size <= 2, s"a warm 10-document upload and a search must run at most 2 jobs: $up")
      // the deletes and the upload are all visible
      val left = call("/api/search", probe)
        .get("documents").elements().asScala.map(_.get("document_id").asLong()).toSet
      assert(!left.contains(ids.head) && !left.contains(ids(1)) && left.nonEmpty)
    }
    // the served corpus is the index and the document store, nothing else
    assert(new java.io.File(dir).list().toSet == Set("documents", "index", "model"))
    assert(!new java.io.File(dir, "chunks").exists(), "uploads and deletes wrote a chunk store")
  }

  test("a warm owner delete runs at most 13 jobs in its three steps") {
    withServer("rest-owner-jobs") { call =>
      def upload(owner: String, n: Int) = call("/api/upload", (1 to n)
        .map(i => s"""{"document":"owner job $owner doc $i"}""")
        .mkString(s"""{"owner":"$owner","documents":[""", ",", "]}"))
        .get("document_ids").elements().asScala.map(_.asLong()).toSeq
      val keep = upload("keep", 20)
      upload("warm", 10)
      upload("measured", 10)
      call("/api/delete/owner", """{"owner":"warm"}""")
      val del = jobsOf(call("/api/delete/owner", """{"owner":"measured"}"""))
      assert(del.toSet.subsetOf(Set("delete/victims", "delete/index", "delete/doc-store")),
        s"an owner delete ran jobs outside its three steps: $del")
      assert(del.size <= 13, s"a warm owner delete must run at most 13 jobs: $del")
      val left = call("/api/search",
        """{"text":"owner job probe","count":20,"centroids":-1,"no_documents":true}""")
        .get("documents").elements().asScala.map(_.get("document_id").asLong()).toSet
      assert(left == keep.toSet, s"the owner deletes left $left")
    }
  }

  test("warm uploads and deletes keep one parquet file per document-store bucket") {
    val dir = java.nio.file.Files.createTempDirectory("rest-files").toString
    def crowded() = new java.io.File(dir, "documents").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("_bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .filter(_._2 > 1).toSeq
    withServerIn(dir) { call =>
      def upload(tag: String, n: Int) = call("/api/upload", (1 to n)
        .map(i => s"""{"document":"file count $tag doc $i"}""")
        .mkString("""{"documents":[""", ",", "]}"))
        .get("document_ids").elements().asScala.map(_.asLong()).toSeq
      // the first upload creates the store, one file per bucket per
      // task; the second touches every bucket, and its upsert rewrites
      // each as one file
      var live = upload("seed", 40) ++ upload("spread", 150)
      assert(crowded().isEmpty, s"buckets holding more than one file: ${crowded()}")
      (1 to 5).foreach { r =>
        live = live ++ upload(s"round$r", 10)
        call("/api/delete/document", s"""{"document_id":${live.head}}""")
        live = live.tail
      }
    }
    assert(crowded().isEmpty, s"buckets holding more than one file: ${crowded()}")
  }

  test("the declared store schemas are the columns an upload writes") {
    val dir = java.nio.file.Files.createTempDirectory("rest-schemas").toString
    withServerIn(dir) { call =>
      call("/api/upload", """{"owner":"o","category":"c","documents":[{"document":"schema doc"}]}""")
    }
    val written = spark.read.parquet(s"$dir/documents").drop("_bucket").schema
    val declared = graft.server.RestServer.DocSchema
    assert(written.map(f => f.name -> f.dataType) == declared.map(f => f.name -> f.dataType),
      s"documents wrote $written, declared $declared")
  }

  test("a restart after every document was deleted serves new uploads") {
    val dir = java.nio.file.Files.createTempDirectory("rest-wiped").toString
    withServerIn(dir) { call =>
      call("/api/upload",
        """{"documents":[{"document":"wiped doc one"},{"document":"wiped doc two"}]}""")
        .get("document_ids").elements().asScala.map(_.asLong())
        .foreach(id => call("/api/delete/document", s"""{"document_id":$id}"""))
    }
    withServerIn(dir) { call =>
      val fresh = call("/api/upload",
        """{"documents":[{"document":"a document after the wipe"}]}""")
        .get("document_ids").get(0).asLong()
      val found = call("/api/search",
        """{"text":"a document after the wipe","count":5,"centroids":-1,"no_documents":true}""")
        .get("documents").elements().asScala.map(_.get("document_id").asLong()).toSeq
      assert(found == Seq(fresh), s"search after the restart returned $found, uploaded $fresh")
    }
  }

  test("stop() ends the request pool's threads") {
    def running = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = running
    val s = new graft.server.RestServer(spark,
      java.nio.file.Files.createTempDirectory("rest-stop").toString)
    s.start()
    // requests that fail validation reach a pool thread but run no Spark work
    (1 to 3).foreach { _ =>
      client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:${s.port}/api/search"))
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    }
    val spawned = running -- before
    assert(spawned.nonEmpty, "serving a request started no thread")
    s.stop()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (spawned.exists(_.isAlive) && System.nanoTime() < deadline) Thread.sleep(20)
    val left = spawned.filter(_.isAlive).map(_.getName)
    assert(left.isEmpty, s"threads still running after stop(): $left")
  }

  test("invalid method and malformed body map to the reference's statuses") {
    val get = client.send(
      HttpRequest.newBuilder(URI.create(url("/api/chat"))).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(get.statusCode() == 405)
    val bad = post("/api/search", "{not json")
    assert(bad.statusCode() == 400)
    assert(json(bad).get("error").asText() == "Invalid request")
  }
}
