package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.gf
import graft.index.IvfIndex

/** Dev runner: `runMain graft.Probe <command> [args...]`, one session
  * built on Bench's environment contract (`SPARK_GRAFT_CPUS`, default
  * 4; `shuffle.partitions` = the CPU count) plus `SPARK_GRAFT_AQE` and
  * `SPARK_GRAFT_PFIRST` (both default true). Commands:
  *
  *  - `qtime <sfDir> <query>...` — per registry query: one warm run,
  *    then min of 3 timed `count()` runs;
  *  - `jobs <sfDir> [query]...` — per query (every registry query when
  *    none is named): a warm run, then the job ledger of the timed
  *    `count()` — one line per Spark job, labelled by its
  *    `spark.job.description` (else its call site) — and a
  *    summary line with the job, shuffle and broadcast counts of the
  *    final adaptive plan and the wall time;
  *  - `plan <sfDir> <tag> <suffix> <key>...` — executes each frame's
  *    own QueryExecution, then writes its formatted FINAL adaptive plan
  *    (runtime exchange reuse included) to
  *    `plans/<tag>/<qprefix>_<suffix>.txt` (an absolute `<tag>` is used
  *    as is), with the numbers a run assigns (expression ids, exchange
  *    `plan_id`s, RDD ids) blanked, so two runs' files diff clean; a key
  *    is a registry query or `seamcapped`, the containment family's
  *    pin-free shingle pipeline;
  *  - `serve <sfDir> [reps]` — the single-query search path split into
  *    planning, page job and backfill job, plus floors, a fused variant
  *    and end-to-end AQE off/on; one JSON line. Then a write phase: a
  *    `RestServer` on a temp dir takes `reps` warm rounds of a
  *    10-document upload and a one-document delete, and the probe prints
  *    jobs and job ms per round for each `"<route>/<step>"`, a
  *    `[serve] search` line each for the first search after the round's
  *    writes and a warm one (jobs and wall ms), and one JSON line of
  *    per-route wall times;
  *  - `ivf-scale [nRows] [dim]` — the IVF lifecycle on a synthesized
  *    corpus at the reference's production constants (listSize 10k,
  *    sample 50k): build, brute force, nprobe recall, quantized and
  *    binary on-disk layouts; one JSON line. `SPARK_GRAFT_STORE`
  *    (mem|disk), `SPARK_GRAFT_CORPUS` (uniform|clustered) and
  *    `SPARK_GRAFT_BUILD` (flat|dnc|mllib) pick the variant. */
object Probe {
  private val commands: Map[String, (SparkSession, Array[String]) => Unit] = Map(
    "qtime" -> qtime,
    "jobs" -> jobs,
    "plan" -> plan,
    "serve" -> serve,
    "ivf-scale" -> ivfScale)

  def main(args: Array[String]): Unit = {
    val cmd = command(args.headOption.getOrElse(""))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PFIRST", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try cmd(spark, args.drop(1)) finally spark.stop()
  }

  /** Runs one command on a caller-owned session (which it leaves open). */
  def run(spark: SparkSession, args: Array[String]): Unit =
    command(args.headOption.getOrElse(""))(spark, args.drop(1))

  private def command(name: String): (SparkSession, Array[String]) => Unit =
    commands.getOrElse(name, throw new IllegalArgumentException(
      s"unknown probe command '$name'; commands: " +
        commands.keys.toSeq.sorted.mkString(", ")))

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def qtime(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args.head
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm the query ITSELF (plan + JIT), not an arbitrary stand-in —
      // and let a failure propagate: a broken query must not time as 0
      fn(spark, sfDir).count()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        secondsSince(t0)
      }
      System.gc()
      println(f"[qtime] $name min=${times.min}%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
  }

  /** Jobs that END while attached, in end order: (job id, label,
    * seconds). [[drain]] runs one marker job and waits for its end
    * event, so every earlier event has been delivered when it returns. */
  private final class JobLedger(spark: SparkSession) extends SparkListener {
    private val Marker = "probe/drain"
    private val started = new ConcurrentHashMap[Int, (String, Long)]()
    private val ended = new ConcurrentLinkedQueue[(Int, String, Double)]()
    @volatile private var markerEnd = new CountDownLatch(1)

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val label = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        // no call-site property unless someone set one: the final
        // stage's name carries the call site then
        .orElse(js.stageInfos.lastOption.map(_.name))
        .getOrElse("?")
      started.put(js.jobId, (label, js.time))
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (label, t0) =>
        if (label == Marker) markerEnd.countDown()
        else ended.add((je.jobId, label, (je.time - t0) / 1e3))
      }

    def drain(): Seq[(Int, String, Double)] = {
      markerEnd = new CountDownLatch(1)
      Jobs.step(spark, Marker)(spark.sparkContext.parallelize(Seq(0), 1).count())
      markerEnd.await(30, TimeUnit.SECONDS)
      val out = ended.asScala.toSeq
      ended.clear()
      out
    }
  }

  private def jobs(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args.head
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val ledger = new JobLedger(spark)
    spark.sparkContext.addSparkListener(ledger)
    try names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, dir).count() // warm: codegen, JIT, metadata caches
      ledger.drain()
      System.gc()
      val t0 = System.nanoTime()
      // count() runs exactly this plan; collecting it through the
      // frame's own QueryExecution keeps the final adaptive plan readable
      val counted = fn(spark, dir).groupBy().count()
      counted.collect()
      val wall = secondsSince(t0)
      val ran = ledger.drain()
      ran.foreach { case (id, label, s) =>
        println(f"[jobs] $name job=$id%-4d $s%7.3fs  ${label.take(110)}")
      }
      val plan = counted.queryExecution.executedPlan
      val shuffles = Exchanges.collectWithSubqueries(plan) {
        case e: ShuffleExchangeExec => e }.size
      val broadcasts = Exchanges.collectWithSubqueries(plan) {
        case e: BroadcastExchangeExec => e }.size
      println(f"[jobs] $name jobs=${ran.size} shuffles=$shuffles " +
        f"broadcasts=$broadcasts wall=$wall%.3f")
    } finally spark.sparkContext.removeSparkListener(ledger)
  }

  /** Plan traversal that descends into adaptive plans and query stages. */
  private object Exchanges extends AdaptiveSparkPlanHelper

  private def plan(spark: SparkSession, args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = Paths.get("plans").resolve(args(1))
    val suffix = args(2)
    Files.createDirectories(outDir)
    args.drop(3).foreach { key =>
      // seamcapped: a pinned pipeline's PRE-PIN subplan, which a query's
      // own plan hides behind `Scan ExistingRDD`
      val df = key match {
        case "seamcapped" => DedupQueries.cappedShinglesOf(
          Tables.loadP(spark, dir, "documents"),
          Tables.byteSize(spark, dir, "documents").map(b => math.max(1L, b / 2)))
        case _ => SparkEntry.queries(key)(spark, dir)
      }
      // execute THIS frame's QueryExecution so the formatted plan is the
      // final adaptive one (a write or count would plan a fresh one)
      df.queryExecution.toRdd.foreach(_ => ())
      val out = outDir.resolve(s"${key.takeWhile(_ != '_')}_$suffix.txt")
      Files.write(out, runNeutral(df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))).getBytes("UTF-8"))
      println(s"[plan] $key -> $out")
    }
  }

  /** `plan` with the numbers a run assigns blanked: expression ids
    * (`doc_id#655L` → `doc_id#L`), exchange `plan_id=`s and the RDD ids
    * a pinned scan names. */
  private def runNeutral(plan: String): String =
    plan.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")

  /** Where the time of one unbatched [[SearchService.search]] goes. The
    * reference serves a query in ~10 ms from one warm process and one
    * mmap'd file (server/search.go); a Spark job pays planning and task
    * scheduling per query whatever the data size, and this splits that
    * floor by phase. */
  private def serve(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 24
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe0 = spark.conf.get(aqeKey)

    val e = Tables.load(spark, sfDir, "embeddings")
      .persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    val (indexed, model) = IvfIndex.build(e, "embedding",
      IvfIndex.Params(listSize = 100, sampleSize = 50000))
    val idx = indexed.persist(StorageLevel.MEMORY_AND_DISK)
    idx.count()
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("document_id"), col("lang"))
    val docsHot = docs.persist(StorageLevel.MEMORY_AND_DISK)
    val chunks = idx.withColumnRenamed("vec_id", "document_id")

    def req(i: Int) = SearchService.SearchRequest(
      s"probe query $i", count = 10, offset = 0, centroids = 2)
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    def queryVec(p: SearchService.SearchRequest): Array[Float] =
      graft.functions.VectorKernels.dequantize(
        graft.functions.VectorKernels.noopEmbed("search_query: " + p.text, 64))
    def page(qvec: Array[Float]): DataFrame =
      chunks
        .filter(col("centroid_id").isin(model.probe(qvec, 2): _*)).coalesce(1)
        .select(col("document_id"),
          gf.cosine_sim(col("embedding"), lit(qvec).cast("array<float>")).as("sim"))
        .groupBy("document_id").agg(max("sim").as("similarity"))
        .orderBy(col("similarity").desc, col("document_id").asc)
        .limit(10)

    try {
      // ---- phase breakdown (AQE off, the serving config) ----
      spark.conf.set(aqeKey, "false")
      (0 until 4).foreach(i => SearchService.search(spark, chunks, docs,
        model, req(i)).collect())
      var planMs, pageMs, backPlanMs, backMs = 0.0
      (0 until reps).foreach { i =>
        var t0 = System.nanoTime()
        // search()'s page graph, rebuilt here so the phases can be split
        val pg = page(queryVec(req(100 + i)))
        pg.queryExecution.executedPlan // force full planning
        planMs += ms(t0)
        t0 = System.nanoTime()
        val hits = pg.collect()
        pageMs += ms(t0)
        t0 = System.nanoTime()
        val back = docs.filter(col("document_id").isin(hits.map(_.getLong(0)).toSeq: _*))
        back.queryExecution.executedPlan
        backPlanMs += ms(t0)
        t0 = System.nanoTime()
        back.collect()
        backMs += ms(t0)
      }

      // ---- floors: empty job and bare docs point-read ----
      var floorMs, docsMs = 0.0
      (0 until reps).foreach { i =>
        var t0 = System.nanoTime()
        spark.range(1).count()
        floorMs += ms(t0)
        val ids = (0 until 10).map(j => (i * 10 + j).toLong)
        t0 = System.nanoTime()
        docs.filter(col("document_id").isin(ids: _*)).collect()
        docsMs += ms(t0)
      }

      // ---- fused one-execution variant: page ⋈ broadcast(docs) ----
      docsHot.count()
      def fusedOnce(i: Int): Unit =
        page(queryVec(req(800 + i)))
          .join(broadcast(docsHot), Seq("document_id"), "left")
          .coalesce(1)
          .sortWithinPartitions(col("similarity").desc, col("document_id").asc)
          .collect()
      (0 until 4).foreach(fusedOnce)
      val tF = System.nanoTime()
      (0 until reps).foreach(fusedOnce)
      val fusedMs = ms(tF) / reps

      // ---- end-to-end through the real entry point, AQE off vs on ----
      def e2e(): Double = {
        val t0 = System.nanoTime()
        (0 until reps).foreach(i => SearchService.search(spark, chunks, docs,
          model, req(500 + i)).collect())
        ms(t0) / reps
      }
      val offMs = e2e()
      spark.conf.set(aqeKey, "true")
      (0 until 2).foreach(i => SearchService.search(spark, chunks, docs,
        model, req(i)).collect())
      val onMs = e2e()

      def f(v: Double) = BigDecimal(v).setScale(2,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      println(s"""{"probe":"serve","sf":"$sfDir","reps":$reps,""" +
        s""""plan_ms":${f(planMs / reps)},"page_ms":${f(pageMs / reps)},""" +
        s""""backfill_plan_ms":${f(backPlanMs / reps)},"backfill_ms":${f(backMs / reps)},""" +
        s""""floor_ms":${f(floorMs / reps)},"docs_scan_ms":${f(docsMs / reps)},""" +
        s""""fused_ms":${f(fusedMs)},""" +
        s""""e2e_aqe_off_ms":${f(offMs)},"e2e_aqe_on_ms":${f(onMs)}}""")
    } finally {
      spark.conf.set(aqeKey, aqe0)
      Seq(docsHot, idx, e).foreach(_.unpersist())
    }
    serveWrites(spark, reps)
  }

  /** The write half of the serve path, over HTTP against a
    * [[graft.server.RestServer]] on a temp dir: a cold upload trains the
    * model and one warm round runs untimed, then `reps` rounds of a
    * 10-document upload and a one-document delete, each followed by two
    * searches: the first after the writes, which read the corpus the
    * writes kept current, and a warm one. The client speaks HTTP/1.1, as
    * the benchmark's does, so each reply's packets reach it as they would
    * there. */
  private def serveWrites(spark: SparkSession, reps: Int): Unit = {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val dir = Files.createTempDirectory("graft-probe-serve")
    val server = new graft.server.RestServer(spark, dir.toString)
    val port = server.start()
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(route: String, body: String): String = {
      val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$route"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      require(r.statusCode() == 200, s"$route -> ${r.statusCode()}: ${r.body().take(200)}")
      r.body()
    }
    def upload(tag: String, n: Int): Seq[Long] = {
      val docs = (0 until n).map(i =>
        s"""{"document":"probe $tag doc $i about topic ${i % 7} and register ${i % 3}"}""")
      val ids = "\\d+".r.findAllIn(post("/api/upload",
        docs.mkString("""{"owner":"probe","documents":[""", ",", "]}"))).map(_.toLong).toSeq
      require(ids.size == n, s"upload answered ${ids.size} ids for $n documents")
      ids
    }
    val ledger = new JobLedger(spark)
    spark.sparkContext.addSparkListener(ledger)
    try {
      var live = upload("seed", 200)
      // (jobs, ms) of one search
      def search(text: String): (Int, Double) = {
        ledger.drain()
        val t0 = System.nanoTime()
        post("/api/search", s"""{"text":"$text","count":10}""")
        val ms = (System.nanoTime() - t0) / 1e6
        (ledger.drain().size, ms)
      }
      def round(r: Int): (Seq[(Int, String, Double)], Double, Double, (Int, Double), (Int, Double)) = {
        ledger.drain()
        var t0 = System.nanoTime()
        live = live ++ upload(s"round$r", 10)
        val upMs = (System.nanoTime() - t0) / 1e6
        t0 = System.nanoTime()
        post("/api/delete/document", s"""{"document_id":${live.head}}""")
        val delMs = (System.nanoTime() - t0) / 1e6
        live = live.tail
        val writes = ledger.drain()
        (writes, upMs, delMs, search(s"probe search $r"), search(s"probe warm search $r"))
      }
      round(0) // warm: the stores and the JIT warm up
      val rounds = (1 to reps).map(round)
      rounds.flatMap(_._1).groupBy(_._2).toSeq.sortBy(_._1).foreach { case (step, js) =>
        println(f"[serve] write $step%-20s jobs=${js.size.toDouble / reps}%.1f " +
          f"ms=${js.map(_._3).sum * 1e3 / reps}%.1f")
      }
      Seq("after-write" -> rounds.map(_._4), "warm" -> rounds.map(_._5)).foreach {
        case (kind, runs) =>
          println(f"[serve] search $kind%-11s jobs=${runs.map(_._1).sum.toDouble / reps}%.1f " +
            f"ms=${runs.map(_._2).sum / reps}%.1f")
      }
      def per(route: String) = rounds.map(_._1.count(_._2.startsWith(route + "/"))).sum.toDouble / reps
      def f(v: Double) = BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      println(s"""{"probe":"serve-write","reps":$reps,""" +
        s""""upload_ms":${f(rounds.map(_._2).sum / reps)},"upload_jobs":${f(per("upload"))},""" +
        s""""delete_ms":${f(rounds.map(_._3).sum / reps)},"delete_jobs":${f(per("delete"))}}""")
    } finally {
      spark.sparkContext.removeSparkListener(ledger)
      server.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  private def ivfScale(spark: SparkSession, args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 200000
    val dim = if (args.length > 1) args(1).toInt else 64
    // mem: corpus and index cached MEMORY_AND_DISK; disk: they live ONLY
    // as parquet and every pass re-scans them (the out-of-memory corpus
    // shape: at 100 TB nothing fits the cache, so those are the honest
    // numbers)
    val diskOnly = sys.env.getOrElse("SPARK_GRAFT_STORE", "mem") == "disk"
    // uniform: every vector an independent hash direction, the
    // adversarial NO-structure corpus (recall at small nprobe is bounded
    // by chance overlap); clustered: tight planted clusters (center +
    // 0.15·member noise), the shape real embedding corpora have and the
    // regime IVF prunes FOR
    val corpusShape = sys.env.getOrElse("SPARK_GRAFT_CORPUS", "uniform")
    val clustered = corpusShape == "clustered"
    val nClusters = math.max(8, n / 1000)
    val gen = (if (clustered)
        spark.range(n.toLong)
          .withColumn("c", gf.dequantize_vec(gf.noop_embed(
            concat(lit("center:"), (col("id") % nClusters).cast("string")), dim)))
          .withColumn("e", gf.dequantize_vec(
            gf.noop_embed(col("id").cast("string"), dim)))
          .select(col("id").as("vec_id"),
            expr("transform(zip_with(c, e, (a, b) -> a + 0.15d * b), " +
              "x -> cast(x as float))").as("embedding"))
      else
        spark.range(n.toLong)
          .select(col("id").as("vec_id"),
            gf.dequantize_vec(gf.noop_embed(col("id").cast("string"), dim))
              .as("embedding"))
    ).repartition(spark.sparkContext.defaultParallelism)

    val tmp = Files.createTempDirectory("graft_ivf_scale")
    def scratch(name: String): String = tmp.resolve(name).toString
    val cached = scala.collection.mutable.ListBuffer[DataFrame]()
    def hold(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      cached += c
      c
    }
    try {
      val corpus = if (diskOnly) {
        gen.write.mode("overwrite").parquet(scratch("corpus"))
        spark.read.parquet(scratch("corpus"))
      } else hold(gen)

      var t0 = System.nanoTime()
      val (indexed, model) = sys.env.getOrElse("SPARK_GRAFT_BUILD", "flat") match {
        case "dnc" => IvfIndex.buildDnc(corpus, "embedding")
        case "mllib" => IvfIndex.buildMllib(corpus, "embedding")
        case _ => IvfIndex.build(corpus, "embedding") // 10k lists, 50k sample
      }
      val idx = if (diskOnly) {
        // partition by list so the nprobe filter prunes directories — the
        // on-disk analogue of the cached filter scan
        indexed.write.mode("overwrite").partitionBy("centroid_id")
          .parquet(scratch("assigned"))
        spark.read.parquet(scratch("assigned"))
      } else hold(indexed)
      val buildSec = secondsSince(t0)

      val queries = corpus.filter(col("vec_id") < 8)
        .collect().map(r => r.getSeq[Float](1).toArray)
      def perQueryMs(t: Long): Double = (System.nanoTime() - t) / 1e6 / queries.length

      def brute(q: Array[Float]): Set[Long] =
        corpus.select(col("vec_id"),
            gf.cosine_sim(col("embedding"), lit(q).cast("array<float>")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
          .collect().map(_.getLong(0)).toSet
      t0 = System.nanoTime()
      val exact = queries.map(brute)
      val bruteMs = perQueryMs(t0)

      def ivf(nprobe: Int): (Double, Double) = {
        val t = System.nanoTime()
        val rec = queries.zipWithIndex.map { case (q, i) =>
          val got = IvfIndex.search(idx, model, "vec_id", "embedding", q, 10, nprobe)
            .collect().map(_.getLong(0)).toSet
          (got intersect exact(i)).size / 10.0
        }
        (perQueryMs(t), rec.sum / rec.length)
      }
      val (ms1, r1) = ivf(1)
      val (ms4, r4) = ivf(4)

      // clustered corpora are WHY IVF works: calibrateNprobe must land a
      // small nprobe at recall@10 >= 0.9 where cluster structure exists
      val (npCal, calPoints) =
        if (clustered)
          IvfIndex.calibrateNprobe(idx, model, "vec_id", "embedding",
            queries.toSeq, 10, targetRecall = 0.9)
        else (0, Map.empty[Int, Double])
      if (clustered) {
        assert(npCal <= math.max(1, model.k / 5),
          s"clustered corpus should reach 0.9 recall probing <=1/5 of " +
            s"${model.k} lists, needed $npCal")
        System.err.println(s"[probe] clustered calibration: nprobe=$npCal " +
          s"recall points=${calPoints.toSeq.sorted.mkString(",")}")
      }

      // on-disk quantized layout: partition pruning means an nprobe=1
      // query reads ~1/lists of the bytes a full-scan read does
      t0 = System.nanoTime()
      IvfIndex.writeQuantized(idx.select("vec_id", "embedding", "centroid_id"),
        "embedding", scratch("quantized"))
      val writeSec = secondsSince(t0)
      val onDisk = spark.read.parquet(scratch("quantized"))
      def diskIvf(nprobe: Int): Double = {
        val t = System.nanoTime()
        queries.foreach { q =>
          IvfIndex.searchQuantized(onDisk, model, "vec_id", "qvec", q, 10, nprobe)
            .collect()
        }
        perQueryMs(t)
      }
      val dms1 = diskIvf(1)
      val dmsAll = diskIvf(-1)

      // the DSv2 fixed-width binary connector over the same index: list
      // pruning happens at the connector (non-probed dirs never planned)
      val bDir = scratch("binary")
      t0 = System.nanoTime()
      graft.sources.IvfBinarySource.write(
        idx.select("vec_id", "embedding", "centroid_id"), "vec_id", "embedding", bDir)
      val bWriteSec = secondsSince(t0)
      // load once, like the parquet side's reused onDisk frame
      val binIdx = spark.read.format(graft.sources.IvfBinarySource.FORMAT).load(bDir)
      t0 = System.nanoTime()
      queries.foreach { q =>
        graft.sources.IvfBinarySource.search(binIdx, model, q, 10, 1).collect()
      }
      val bms1 = perQueryMs(t0)
      t0 = System.nanoTime()
      queries.foreach { q =>
        graft.sources.IvfBinarySource.search(spark, bDir, model, q, 10, -1).collect()
      }
      val bmsAll = perQueryMs(t0)

      // per-list stats: COUNT(*) GROUP BY centroid_id is answered from
      // file sizes at plan time (DSv2 aggregate pushdown); count(vec_id)
      // cannot push and iterates every row
      def warmThenMs(f: => Unit): Double = {
        f
        val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6
      }
      val cntPushMs = warmThenMs(binIdx.groupBy("centroid_id").count().collect())
      val cntRowsMs = warmThenMs(
        binIdx.groupBy("centroid_id").agg(count(col("vec_id"))).collect())

      val calJson =
        if (clustered)
          s""","nprobe_cal":$npCal,"cal_recall":${calPoints.getOrElse(npCal, 1.0)}"""
        else ""
      println(s"""{"probe":"scale","n":$n,"dim":$dim,"corpus":"$corpusShape"$calJson,"store":"${if (diskOnly) "disk" else "mem"}","lists":${model.k},""" +
        s""""build_sec":$buildSec,"brute_ms":$bruteMs,""" +
        s""""nprobe1_ms":$ms1,"nprobe1_recall":$r1,"nprobe4_ms":$ms4,"nprobe4_recall":$r4,""" +
        s""""qindex_write_sec":$writeSec,"disk_nprobe1_ms":$dms1,"disk_scanall_ms":$dmsAll,""" +
        s""""bin_write_sec":$bWriteSec,"bin_nprobe1_ms":$bms1,"bin_scanall_ms":$bmsAll,""" +
        s""""bin_count_push_ms":$cntPushMs,"bin_count_rows_ms":$cntRowsMs}""")
    } finally {
      cached.foreach(_.unpersist())
      deleteTree(tmp)
    }
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
