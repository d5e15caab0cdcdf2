package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.IvfIndex

/** Serving-latency profiler for the single-query read path
  * ([[SearchService.search]]): where do the ~300 ms of an unbatched
  * query actually go? Phases timed separately over N repetitions:
  *
  *   1. graph+plan   — DataFrame construction through executedPlan
  *                     (analysis, optimization, physical planning)
  *   2. page job     — probe + pruned scan + per-doc max + top-k collect
  *   3. backfill job — IN-list documents point read for the ≤count hit
  *                     page (search merges it onto the page on the driver)
  *
  * plus end-to-end wall per variant (AQE on/off). The reference serves
  * a query in ~10 ms because it is one warm process touching one mmap'd
  * file (server/search.go); a Spark job pays planning + task scheduling
  * per query no matter the data size — this probe makes that floor
  * visible and attributable. Prints one JSON line.
  *
  * Usage: runMain graft.ServeProbe [sfDir] [reps]
  */
object ServeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 24
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val e = Tables.load(spark, sfDir, "embeddings")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    e.count()
    val (indexed, model) = IvfIndex.build(e, "embedding",
      IvfIndex.Params(listSize = 100, sampleSize = 50000))
    val idx = indexed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    idx.count()
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").as("document_id"), col("lang"))
    val chunks = idx.withColumnRenamed("vec_id", "document_id")

    def req(i: Int) = SearchService.SearchRequest(
      s"probe query $i", count = 10, offset = 0, centroids = 2)

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    // ---- phase breakdown (AQE off, the serving config) ----
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // warm: codegen + whatever the first query uniquely pays
    (0 until 4).foreach(i => SearchService.search(spark, chunks, docs,
      model, req(i)).collect())

    var planMs, pageMs, backPlanMs, backMs = 0.0
    (0 until reps).foreach { i =>
      val p = req(100 + i)
      var t0 = System.nanoTime()
      // replicate search()'s page graph so the phases can be split
      val qvec = graft.functions.VectorKernels.dequantize(
        graft.functions.VectorKernels.noopEmbed("search_query: " + p.text, 64))
      val probeIds = model.probe(qvec, 2)
      val page = chunks
        .filter(col("centroid_id").isin(probeIds: _*)).coalesce(1)
        .select(col("document_id"),
          graft.functions.gf.cosine_sim(col("embedding"),
            lit(qvec).cast("array<float>")).as("sim"))
        .groupBy("document_id").agg(max("sim").as("similarity"))
        .orderBy(col("similarity").desc, col("document_id").asc)
        .limit(10)
      page.queryExecution.executedPlan // force full planning
      planMs += ms(t0)
      t0 = System.nanoTime()
      val hits = page.collect()
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
    val docsHot = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docsHot.count()
    def fusedOnce(i: Int): Unit = {
      val p = req(800 + i)
      val qvec = graft.functions.VectorKernels.dequantize(
        graft.functions.VectorKernels.noopEmbed("search_query: " + p.text, 64))
      val probeIds = model.probe(qvec, 2)
      chunks
        .filter(col("centroid_id").isin(probeIds: _*)).coalesce(1)
        .select(col("document_id"),
          graft.functions.gf.cosine_sim(col("embedding"),
            lit(qvec).cast("array<float>")).as("sim"))
        .groupBy("document_id").agg(max("sim").as("similarity"))
        .orderBy(col("similarity").desc, col("document_id").asc)
        .limit(10)
        .join(broadcast(docsHot), Seq("document_id"), "left")
        .coalesce(1)
        .sortWithinPartitions(col("similarity").desc, col("document_id").asc)
        .collect()
    }
    (0 until 4).foreach(fusedOnce)
    var tF = System.nanoTime()
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
    spark.conf.set("spark.sql.adaptive.enabled", "true")
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
    spark.stop()
  }
}
