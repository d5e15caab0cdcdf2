package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{gf, VectorKernels}
import graft.index.IvfIndex
import graft.sources.IvfBinarySource

/** The DSv2 binary index connector (reference dnc/dataset.go spill-file
  * layout): byte-exact round-trip vs the quantize kernel, search parity
  * with the parquet quantized index, connector-level partition pruning
  * (non-probed list dirs are never planned), and physical column pruning
  * (a centroid_id-only scan reads no row bytes). */
class IvfBinarySourceSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ivfbin").toString

  private lazy val emb = Tables.load(spark, SparkSuite.sf0001, "embeddings")
  private lazy val built = {
    val (indexed, model) = IvfIndex.build(emb, "embedding",
      IvfIndex.Params(listSize = 100, sampleSize = 50000))
    (indexed.persist(), model)
  }

  private lazy val binPath: String = {
    val p = tmp()
    IvfBinarySource.write(built._1, "vec_id", "embedding", p)
    p
  }
  private def read() = spark.read.format(IvfBinarySource.FORMAT).load(binPath)

  test("idStats parses the zone-map file-name encoding (and only it)") {
    // the regex that broke the round-4 build: pin both the parse and the
    // round-trip through statsName so a rename of the encoding fails here
    import IvfBinarySource.{idStats, statsName}
    assert(idStats("part-00003.ids=5_99.bin") == Some((5L, 99L)))
    assert(idStats("part-00003.ids=-7_-2.bin") == Some((-7L, -2L)))
    assert(idStats(statsName("part-00000.bin", 123L, 456L)) == Some((123L, 456L)))
    assert(statsName("part-00000.bin", 1L, 2L) == "part-00000.ids=1_2.bin")
    assert(idStats("part-00003.bin").isEmpty) // legacy plain name
    assert(idStats("part-00003.ids=5_99.bin.tmp-x").isEmpty) // not a .bin suffix
    assert(idStats("part-00003.ids=5.bin").isEmpty) // malformed range
  }

  test("round-trips every row byte-exactly vs the quantize kernel") {
    val (indexed, _) = built
    val back = read()
    assert(back.count() == indexed.count())
    val joined = back.join(
      indexed.select(col("vec_id"), col("centroid_id").as("cid_expect"),
        gf.quantize_vec(col("embedding")).as("q_expect")),
      "vec_id")
    assert(joined.count() == indexed.count()) // every id present exactly once
    assert(joined.filter(col("centroid_id") =!= col("cid_expect")).count() == 0)
    assert(joined.filter(col("qvec") =!= col("q_expect")).count() == 0)
  }

  test("search parity with the parquet quantized index at every nprobe") {
    val (indexed, model) = built
    val pq = tmp()
    IvfIndex.writeQuantized(indexed, "embedding", pq)
    val pqIdx = spark.read.parquet(pq)
    val queries = emb.filter(col("vec_id") < 4)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    for (q <- queries; nprobe <- Seq(1, 2, model.centroids.length)) {
      val a = IvfBinarySource.search(spark, binPath, model, q, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = IvfIndex.searchQuantized(pqIdx, model, "vec_id", "qvec", q, 10, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"nprobe=$nprobe")
    }
  }

  test("centroid_id filters prune at the connector: only probed files planned") {
    val lists = read().select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(lists.length > 1, "need multiple lists for a pruning test")
    val one = lists.head
    def filesIn(cid: Int): Int =
      new java.io.File(binPath, s"list=$cid").listFiles()
        .count(_.getName.endsWith(".bin"))
    val totalFiles = lists.map(filesIn).sum
    val all = read()
    val pruned = read().filter(col("centroid_id") === one)
    assert(all.rdd.getNumPartitions == totalFiles)
    assert(pruned.rdd.getNumPartitions == filesIn(one))
    assert(pruned.rdd.getNumPartitions < totalFiles)
    // the pruned scan still returns exactly that list's rows
    assert(pruned.count() ==
      all.filter(col("centroid_id") === one).cache().count())
  }

  test("runtime V2 filtering: a selective join prunes lists with no collect") {
    import spark.implicits._
    val p = java.nio.file.Files.createTempDirectory("ivf_dpp").toString
    val df = spark.range(6400).select(
      col("id").as("vec_id"),
      array_repeat((col("id") % 5 + 1).cast("float"), 8).as("embedding"),
      (col("id") % 64).cast("int").as("centroid_id"))
    IvfBinarySource.write(df, "vec_id", "embedding", p)
    // the dim must be storage-backed: an in-memory LocalRelation folds
    // the selective filter away and PartitionPruning sees no predicate
    val dimP = java.nio.file.Files.createTempDirectory("ivf_dpp_dim").toString
    (0 until 64).map(i => (i, if (i == 3 || i == 7) "hot" else "cold"))
      .toDF("centroid_id", "tag").write.mode("overwrite").parquet(dimP)
    val dim = spark.read.parquet(dimP)
    val scan = spark.read.format(IvfBinarySource.FORMAT).load(p)
      .select("vec_id", "centroid_id")
    val joined = scan.join(dim.filter(col("tag") === "hot"), "centroid_id")
    // collect() executes THIS QueryExecution — each QE builds its own
    // Scan instance, so probing any other (e.g. count()'s) sees nothing
    assert(joined.collect().length == 200) // 100 rows in each hot list
    val exec = joined.queryExecution.executedPlan
    val plan = exec.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"join must hand the scan a runtime filter:\n$plan")
    // filter() narrowed the planned lists to the build side's hot keys:
    // the executed scan's description renders the runtime probe set
    // (instance introspection can't reach it — AQE query stages are
    // leaf wrappers that plan.collect does not descend into)
    assert(plan.contains("lists=[3,7]"),
      s"runtime filter must prune the planned lists:\n$plan")
  }

  test("reported statistics shrink with pruning: pruned scan broadcasts") {
    import spark.implicits._
    val p = tmp()
    val df = spark.range(64000).select(
      col("id").as("vec_id"),
      array_repeat((col("id") % 5 + 1).cast("float"), 8).as("embedding"),
      (col("id") % 64).cast("int").as("centroid_id"))
    IvfBinarySource.write(df, "vec_id", "embedding", p)
    // the big side: a frame Spark won't broadcast (above the threshold)
    val big = spark.range(200000).select(col("id").as("vec_id"),
      lit("x" * 64).as("pad"))
    def planOf(scan: org.apache.spark.sql.DataFrame): String =
      scan.join(big, "vec_id").queryExecution.executedPlan.toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      // full index: 64000 rows × 24B ≈ 1.5 MB > threshold → no broadcast
      val full = planOf(spark.read.format(IvfBinarySource.FORMAT).load(p)
        .select("vec_id", "centroid_id"))
      assert(!full.contains("BroadcastHashJoin"),
        s"full scan must exceed the broadcast threshold:\n$full")
      // one pruned list: ~24 KB — the reported statistics make it the
      // build side (without SupportsReportStatistics a V2 relation
      // defaults to an effectively infinite size and NEVER broadcasts)
      val pruned = planOf(spark.read.format(IvfBinarySource.FORMAT).load(p)
        .filter(col("centroid_id") === 3).select("vec_id", "centroid_id"))
      assert(pruned.contains("BroadcastHashJoin"),
        s"pruned scan must broadcast from its reported size:\n$pruned")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("runtime vec_id IN tightens the zone-map window at execution") {
    import spark.implicits._
    // contiguous ids per list → each list's file carries a tight
    // ids=<1000c>_<1000c+999> zone map; a runtime bound of [42000,42002]
    // overlaps only list 42's file. The index must be big enough that
    // its OWN reported statistics don't just broadcast it (which would
    // legitimately moot the runtime filter) — hence 64k rows and a
    // lowered broadcast threshold.
    val p = tmp()
    val df = spark.range(64000).select(
      col("id").as("vec_id"),
      array_repeat((col("id") % 5 + 1).cast("float"), 8).as("embedding"),
      (col("id") / 1000).cast("int").as("centroid_id"))
    IvfBinarySource.write(df, "vec_id", "embedding", p)
    val vicP = java.nio.file.Files.createTempDirectory("ivf_vic").toString
    spark.range(64000).select(col("id").as("vec_id"),
      when(col("id").between(42000, 42002), "doomed").otherwise("live").as("tag"))
      .write.mode("overwrite").parquet(vicP)
    val victims = spark.read.parquet(vicP).filter(col("tag") === "doomed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
      val joined = spark.read.format(IvfBinarySource.FORMAT).load(p)
        .select("vec_id", "centroid_id")
        .join(victims.select("vec_id"), "vec_id") // the delete-discovery shape
      assert(joined.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(42000L, 42001L, 42002L))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("RuntimeFilters: [dynamicpruning"),
        s"id join must hand the scan a runtime filter:\n$plan")
      assert(plan.contains("ids=[42000,42002]"),
        s"runtime IN must tighten the zone-map window:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("column pruning: id-only and centroid-only scans match the full scan") {
    val full = read().cache()
    val n = full.count()
    // vec_id-only: vector bytes skipped
    assert(read().select("vec_id").distinct().count() == n)
    // centroid_id-only (metaOnly path): counts come from file sizes
    val byList = read().groupBy("centroid_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expect = full.groupBy("centroid_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byList == expect)
    full.unpersist()
  }

  test("vec_id zone maps skip files at planning; rows still filter exactly") {
    import spark.implicits._
    // controlled layout: ids 0..99, list = id/10 → each list's single
    // part file carries a tight ids=<10c>_<10c+9> range in its name
    val df = (0L until 100L).map { id =>
      (id, Array.fill(8)(id.toFloat / 100f), (id / 10).toInt)
    }.toDF("vec_id", "embedding", "centroid_id")
    val p = tmp()
    IvfBinarySource.write(df, "vec_id", "embedding", p)
    val all = spark.read.format(IvfBinarySource.FORMAT).load(p)
    val totalFiles = all.rdd.getNumPartitions
    assert(totalFiles >= 10, "expected one+ file per list")
    // every part file must carry the zone-map segment
    val names = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".bin"))
    assert(names.nonEmpty && names.forall(n => IvfBinarySource.idStats(n).isDefined))
    def load() = spark.read.format(IvfBinarySource.FORMAT).load(p)
    // point lookup: plans exactly the one file whose range holds the id
    val point = load().filter(col("vec_id") === 55L)
    assert(point.rdd.getNumPartitions == 1,
      s"point lookup planned ${point.rdd.getNumPartitions} of $totalFiles files")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(55L))
    // range: only the overlapping files plan; results stay exact
    val range = load().filter(col("vec_id") >= 20L && col("vec_id") < 36L)
    assert(range.rdd.getNumPartitions == 2, "range [20,36) spans lists 2 and 3")
    assert(range.collect().map(_.getLong(0)).sorted.toSeq == (20L until 36L))
    // IN-list: envelope [min,max] bounds the planned files
    val in = load().filter(col("vec_id").isin(12L, 17L))
    assert(in.rdd.getNumPartitions == 1)
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(12L, 17L))
    // zone skip composes with list pruning, and an id outside the probed
    // list plans ZERO files
    val cross = load()
      .filter(col("centroid_id") === 2 && col("vec_id") === 55L)
    assert(cross.rdd.getNumPartitions == 0)
    assert(cross.count() == 0)
    // the V2 writer path seals stats too
    val p2 = tmp()
    df.select(col("vec_id"), graft.functions.gf.quantize_vec(col("embedding")).as("qvec"),
      col("centroid_id")).write.format(IvfBinarySource.FORMAT).mode("overwrite").save(p2)
    val v2names = new java.io.File(p2).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".bin"))
    assert(v2names.nonEmpty && v2names.forall(n => IvfBinarySource.idStats(n).isDefined))
    val v2point = spark.read.format(IvfBinarySource.FORMAT).load(p2)
      .filter(col("vec_id") === 55L)
    assert(v2point.rdd.getNumPartitions == 1)
    assert(v2point.collect().map(_.getLong(0)).toSeq == Seq(55L))
  }

  test("empty index writes meta only and reads back zero rows") {
    val p = tmp()
    IvfBinarySource.write(built._1.filter(lit(false)), "vec_id", "embedding", p)
    assert(spark.read.format(IvfBinarySource.FORMAT).load(p).count() == 0)
  }

  test("V2 write path: sink-declared clustering, same bytes as the helper") {
    val (indexed, _) = built
    val rows = indexed.select(col("vec_id"),
      gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
    val p = tmp()
    val writer = rows.write.format(IvfBinarySource.FORMAT).mode("overwrite")
    writer.save(p)
    // the sink's RequiresDistributionAndOrdering made Spark cluster rows
    // by list: every list directory's rows live in exactly one part file
    val listDirs = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(listDirs.nonEmpty)
    assert(listDirs.forall(_.listFiles().count(_.getName.endsWith(".bin")) == 1))
    // byte-parity with the helper write() path, row for row
    val viaHelper = read()
    val viaV2 = spark.read.format(IvfBinarySource.FORMAT).load(p)
    assert(viaV2.count() == viaHelper.count())
    assert(viaV2.join(viaHelper.withColumnRenamed("qvec", "q2"), "vec_id")
      .filter(col("qvec") =!= col("q2")).count() == 0)
    // overwrite truncates: a second save does not duplicate rows
    writer.save(p)
    assert(spark.read.format(IvfBinarySource.FORMAT).load(p).count() ==
      viaHelper.count())
  }

  test("COUNT(*) pushes down completely: answered from file sizes, no row read") {
    // grouped: one row per list, derived from the listing at plan time
    val grouped = read().groupBy("centroid_id").agg(count(lit(1)).as("n"))
    val gPlan = grouped.queryExecution.executedPlan.toString
    assert(gPlan.contains("GraftIvfAggScan"),
      s"grouped count should hit the pushed agg scan:\n$gPlan")
    // no aggregate exec survives above a complete pushdown
    assert(!gPlan.contains("HashAggregate"), gPlan)
    val viaPush = grouped.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // expected counts via the row-reading path (qvec forces real reads)
    val expect = read().select("centroid_id", "vec_id")
      .groupBy("centroid_id").agg(count(col("vec_id")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaPush == expect)
    // global: single row, still no row bytes
    val total = read().agg(count(lit(1))).collect().head.getLong(0)
    assert(total == expect.values.sum)
    val tPlan = read().agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(tPlan.contains("GraftIvfAggScan"), tPlan)
    // pruned + pushed compose: count of one probed list only
    val one = expect.keys.min
    val pruned = read().filter(col("centroid_id") === one)
      .groupBy("centroid_id").agg(count(lit(1)).as("n"))
    assert(pruned.queryExecution.executedPlan.toString.contains(s"lists=[$one]"))
    assert(pruned.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(one -> expect(one)))
    // an aggregate the source cannot answer falls back to the row scan
    val fallback = read().groupBy("centroid_id").agg(sum("vec_id"))
    assert(!fallback.queryExecution.executedPlan.toString
      .contains("GraftIvfAggScan"))
    // missing index root: a completely-pushed GLOBAL count must still
    // emit its one zero row (no aggregate exec above to produce it)
    val missing = spark.read.format(IvfBinarySource.FORMAT)
      .load(tmp() + "/never_written")
    assert(missing.count() == 0L)
    assert(missing.groupBy("centroid_id").count().collect().isEmpty)
  }

  test("MIN/MAX(vec_id) push down from zone maps; unsealed file refuses") {
    // mixed grouped aggregate: count from file sizes, extremes from the
    // name-encoded zone maps — all at plan time, zero row bytes
    val mixed = read().groupBy("centroid_id")
      .agg(count(lit(1)).as("n"), min("vec_id").as("lo"), max("vec_id").as("hi"))
    val mPlan = mixed.queryExecution.executedPlan.toString
    assert(mPlan.contains("GraftIvfAggScan"), mPlan)
    assert(!mPlan.contains("HashAggregate"), mPlan)
    val viaPush = mixed.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expect = read().select("centroid_id", "vec_id")
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n"), min("vec_id").as("lo"), max("vec_id").as("hi"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(viaPush == expect)
    // global min/max: one row, still metadata-only
    val g = read().agg(min("vec_id"), max("vec_id")).collect().head
    assert((g.getLong(0), g.getLong(1)) ==
      (expect.values.map(_._2).min, expect.values.map(_._3).max))
    // strip ONE file's zone segment: min/max must refuse the pushdown
    // (falls back to row reads, stays correct); count still pushes
    val dir = new java.io.File(binPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list=")).head
    val f = dir.listFiles().filter(_.getName.endsWith(".bin")).head
    val plain = new java.io.File(dir, "part-unsealed.bin")
    assert(f.renameTo(plain))
    try {
      val after = read().groupBy("centroid_id").agg(min("vec_id").as("lo"))
      assert(!after.queryExecution.executedPlan.toString
        .contains("GraftIvfAggScan"))
      assert(after.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
        expect.view.mapValues(_._2).toMap)
      val cnt = read().groupBy("centroid_id").agg(count(lit(1)).as("n"))
      assert(cnt.queryExecution.executedPlan.toString.contains("GraftIvfAggScan"))
    } finally {
      val back = new java.io.File(dir, f.getName)
      assert(plain.renameTo(back))
    }
  }

  test("reported key-grouped partitioning: per-list agg plans with no exchange") {
    val k = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "true")
      // min(vec_id) cannot push down, so rows ARE read — but the scan
      // reports KeyGroupedPartitioning(centroid_id), satisfying the
      // aggregation's clustering without a shuffle
      val agg = read().groupBy("centroid_id").agg(min("vec_id").as("m"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"per-list agg should not shuffle a list-partitioned layout:\n$plan")
      val viaGrouped = agg.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      spark.conf.set(k, "false")
      val viaShuffle = read().groupBy("centroid_id").agg(min("vec_id").as("m"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(viaGrouped == viaShuffle)
    } finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("storage-partitioned self-join on centroid_id plans with no shuffle") {
    // the disk-resident q32 shape: list-blocked candidate pairs straight
    // off the index — both sides report KeyGroupedPartitioning(list), so
    // the equi-join is storage-partitioned: zero exchange, zero sort of
    // the corpus beyond what each task streams
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force the SPJ path
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      def side(n: String) = read().select(
        col("vec_id").as(s"${n}_id"), col("centroid_id").as(s"${n}_cid"))
      val pairs = side("a").join(side("b"),
        col("a_cid") === col("b_cid") && col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("a_cid").as("cid"))
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"list-blocked self-join should be storage-partitioned:\n$plan")
      val spj = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val shuffled = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(spj == shuffled && spj.nonEmpty)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("compaction merges per-batch files into one per list, rows intact") {
    val (indexed, _) = built
    val rows = indexed.select(col("vec_id"),
      gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
    val p = tmp()
    // two appends — the streaming shape: every list gets one file per batch
    rows.filter(col("vec_id") % 2 === 0).write
      .format(IvfBinarySource.FORMAT).mode("append").save(p)
    rows.filter(col("vec_id") % 2 === 1).write
      .format(IvfBinarySource.FORMAT).mode("append").save(p)
    def load() = spark.read.format(IvfBinarySource.FORMAT).load(p)
    val before = load().collect().map(r =>
      (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toSet
    def fileCounts(): Map[String, Int] =
      new java.io.File(p).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("list="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".bin")))
        .toMap
    assert(fileCounts().values.exists(_ > 1), "appends should leave multi-file lists")
    val compacted = IvfBinarySource.compact(spark, p)
    assert(compacted == fileCounts().size.toLong)
    assert(fileCounts().values.forall(_ == 1), "every list should be one file")
    val after = load().collect().map(r =>
      (r.getLong(0), r.getAs[Array[Byte]](1).toSeq, r.getInt(2))).toSet
    assert(after == before, "compaction must not change any row")
    // idempotent: nothing left to merge
    assert(IvfBinarySource.compact(spark, p) == 0L)
  }

  test("rewriteOneList replays safely after any prefix of a prior attempt") {
    val (indexed, _) = built
    val rows = indexed.select(col("vec_id"),
      gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
    def freshIndex(): (String, Int, Seq[String], Set[(Long, Seq[Byte])]) = {
      val p = tmp()
      rows.filter(col("vec_id") % 2 === 0).write
        .format(IvfBinarySource.FORMAT).mode("append").save(p)
      rows.filter(col("vec_id") % 2 === 1).write
        .format(IvfBinarySource.FORMAT).mode("append").save(p)
      val cid = spark.read.format(IvfBinarySource.FORMAT).load(p)
        .select("centroid_id").distinct().collect().map(_.getInt(0)).min
      val files = new java.io.File(p, s"list=$cid").listFiles()
        .filter(_.getName.endsWith(".bin")).map(_.toString).sorted.toSeq
      assert(files.size >= 2)
      val expect = spark.read.format(IvfBinarySource.FORMAT).load(p)
        .filter(col("centroid_id") === cid)
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet
      (p, cid, files, expect)
    }
    val dim = spark.read.format(IvfBinarySource.FORMAT)
      .load(freshIndex()._1).head().getAs[Array[Byte]](1).length - 8
    val width = 8 + dim + 8
    def rowsOf(p: String, cid: Int) =
      spark.read.format(IvfBinarySource.FORMAT).load(p)
        .filter(col("centroid_id") === cid)
        .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSet

    // full replay: running the task body twice end-to-end is a no-op
    val (p1, c1, f1, e1) = freshIndex()
    IvfBinarySource.rewriteOneList(p1, c1, f1, Set.empty, width)
    IvfBinarySource.rewriteOneList(p1, c1, f1, Set.empty, width)
    assert(rowsOf(p1, c1) == e1)
    assert(new java.io.File(p1, s"list=$c1").listFiles()
      .count(_.getName.endsWith(".bin")) == 1)

    // partial replay: first attempt swapped the merged file in and got
    // through deleting ONE original before dying; the retry must finish
    // cleanup without duplicating rows
    val (p2, c2, f2, e2) = freshIndex()
    IvfBinarySource.rewriteOneList(p2, c2, f2, Set.empty, width)
    // recreate the mid-cleanup state: target exists + one original back
    val d2 = new java.io.File(p2, s"list=$c2")
    val merged = d2.listFiles().filter(_.getName.endsWith(".bin")).head
    val resurrect = new java.io.File(f2.head)
    java.nio.file.Files.copy(merged.toPath, resurrect.toPath) // stand-in bytes
    IvfBinarySource.rewriteOneList(p2, c2, f2, Set.empty, width)
    assert(rowsOf(p2, c2) == e2, "retry after partial cleanup duplicated rows")
    assert(d2.listFiles().count(_.getName.endsWith(".bin")) == 1)
  }

  test("delete rewrites only affected lists and drops exactly the ids") {
    val (indexed, _) = built
    val rows = indexed.select(col("vec_id"),
      gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
    val p = tmp()
    rows.write.format(IvfBinarySource.FORMAT).mode("overwrite").save(p)
    def load() = spark.read.format(IvfBinarySource.FORMAT).load(p)
    // pick victims from ONE list so other lists' bytes must not move
    val lists = load().select("centroid_id").distinct().collect().map(_.getInt(0))
    assert(lists.length > 1, "need multiple lists")
    val victimList = lists.min
    val victims = load().filter(col("centroid_id") === victimList)
      .select("vec_id").limit(3).collect().map(_.getLong(0)).toSet
    assert(victims.nonEmpty)
    val untouched = lists.filter(_ != victimList).map { cid =>
      val d = new java.io.File(p, s"list=$cid")
      cid -> d.listFiles().filter(_.getName.endsWith(".bin"))
        .map(f => (f.getName, f.lastModified())).toSeq
    }.toMap
    val n0 = load().count()
    val dropped = IvfBinarySource.deleteDocs(spark, p, victims, 1L)
    assert(dropped == victims.size.toLong)
    assert(load().count() == n0 - victims.size)
    assert(load().filter(col("vec_id").isin(victims.toSeq: _*)).count() == 0)
    // non-affected list files: same names, same mtimes — never rewritten
    untouched.foreach { case (cid, files) =>
      val now = new java.io.File(p, s"list=$cid").listFiles()
        .filter(_.getName.endsWith(".bin"))
        .map(f => (f.getName, f.lastModified())).toSeq
      assert(now == files, s"list=$cid was touched by an unrelated delete")
    }
    // deleting every remaining row of the victim list removes its dir
    val rest = load().filter(col("centroid_id") === victimList)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    IvfBinarySource.deleteDocs(spark, p, rest, 1L)
    assert(!new java.io.File(p, s"list=$victimList").exists())
    assert(load().filter(col("centroid_id") === victimList).count() == 0)
    // deleting unknown ids is a no-op
    assert(IvfBinarySource.deleteDocs(spark, p, Set(Long.MaxValue), 1L) == 0L)
  }

  test("DataFrame-victim delete matches the Set path without a driver set") {
    val (indexed, _) = built
    val rows = indexed.select(col("vec_id"),
      gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
    val p = tmp()
    rows.write.format(IvfBinarySource.FORMAT).mode("overwrite").save(p)
    def load() = spark.read.format(IvfBinarySource.FORMAT).load(p)
    // victims spanning SEVERAL lists: each rewrite task must receive its
    // own list's doom set through the centroid-keyed join
    val lists = load().select("centroid_id").distinct()
      .collect().map(_.getInt(0)).sorted.take(3)
    assert(lists.length > 1, "need multiple lists")
    val victimIds = load()
      .filter(col("centroid_id").isin(lists.map(_.asInstanceOf[Any]): _*))
      .select("vec_id").limit(7).collect().map(_.getLong(0)).toSet
    assert(victimIds.nonEmpty)
    val n0 = load().count()
    // the victim frame also carries ids the index does NOT hold — they
    // must not count toward the delta
    val vicIds = victimIds + Long.MaxValue
    val vicDf = spark.createDataFrame(vicIds.toSeq.map(Tuple1(_))).toDF("vec_id")
    // base 1: the document id IS the vec id
    val dropped = IvfBinarySource.deleteDocs(spark, p, vicDf, vicIds.min, vicIds.max, 1L)
    assert(dropped == victimIds.size.toLong)
    assert(load().count() == n0 - victimIds.size)
    assert(load().filter(col("vec_id").isin(victimIds.toSeq: _*)).count() == 0)
    // rewritten lists re-seal their vec_id zone maps: every merged file
    // carries a parseable ids=min_max segment, so skipping keeps working
    // after maintenance
    lists.foreach { cid =>
      val dirF = new java.io.File(p, s"list=$cid")
      if (dirF.exists()) {
        val bins = dirF.listFiles().filter(_.getName.endsWith(".bin"))
        assert(bins.nonEmpty)
        bins.foreach { f =>
          assert(IvfBinarySource.idStats(f.getName).isDefined,
            s"rewritten ${f.getName} lost its zone map")
        }
      }
    }
    // empty victim frame is a no-op
    assert(IvfBinarySource.deleteDocs(spark, p,
      vicDf.filter(col("vec_id") < Long.MinValue + 1), vicIds.min, vicIds.max, 1L) == 0L)
    // non-empty frame whose ids all miss the index is also a no-op
    // (exercises the affected-lists-empty early return)
    val absent = spark.createDataFrame(
      Seq(Tuple1(Long.MaxValue), Tuple1(Long.MaxValue - 1))).toDF("vec_id")
    assert(IvfBinarySource.deleteDocs(spark, p, absent, Long.MaxValue - 1, Long.MaxValue, 1L) == 0L)
  }

  test("deleteDocs drops a document from every list its chunks sit in") {
    import spark.implicits._
    val base = 100000L
    // document d's chunk c sits in list (d + c) % 4: each document spans
    // three lists
    val p = tmp()
    (1L to 6L).flatMap(d => (0 until 3).map(c =>
        (d * base + c, Seq.fill(8)((d * 10 + c).toFloat), ((d + c) % 4).toInt)))
      .toDF("vec_id", "embedding", "centroid_id")
      .select(col("vec_id"), gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
      .write.format(IvfBinarySource.FORMAT).mode("overwrite").save(p)
    def load() = spark.read.format(IvfBinarySource.FORMAT).load(p)
    val lists = load().filter(col("vec_id").between(4 * base, 5 * base - 1))
      .select("centroid_id").distinct().count()
    assert(lists == 3, "document 4 must span three lists")
    assert(IvfBinarySource.deleteDocs(spark, p, Set(4L), base) == 3L)
    val left = load().select("vec_id").collect().map(_.getLong(0) / base).toSeq
    assert(!left.contains(4L))
    assert(left.groupBy(identity).map { case (d, vs) => d -> vs.size } ==
      (Set(1L, 2L, 3L, 5L, 6L).map(_ -> 3).toMap))
    assert(IvfBinarySource.deleteDocs(spark, p, Set.empty, base) == 0L)
  }

  test("driver appends and list rewrites drop exactly their lists' cached listings") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val base = 100000L
    val p = tmp()
    def rows(docs: Seq[Long]) = docs.flatMap(d => (0 until 3).map(c =>
        (d * base + c, Seq.fill(8)((d * 10 + c).toFloat), ((d + c) % 4).toInt)))
      .toDF("vec_id", "embedding", "centroid_id")
      .select(col("vec_id"), gf.quantize_vec(col("embedding")).as("qvec"), col("centroid_id"))
    rows(1L to 6L).write.format(IvfBinarySource.FORMAT).mode("overwrite").save(p)
    // a scan fills the planning cache under each list's qualified directory
    def docs() = spark.read.format(IvfBinarySource.FORMAT).load(p)
      .select("vec_id").collect().map(_.getLong(0) / base).toSet
    def cached = (0 until 4).filter(cid =>
      IvfBinarySource.dirCache.keySet.asScala.exists(_.endsWith(s"$p/list=$cid"))).toSet
    assert(docs() == (1L to 6L).toSet)
    assert(cached == Set(0, 1, 2, 3))
    // document 7's chunks land in lists 3, 0 and 1
    IvfBinarySource.appendLocal(p, rows(Seq(7L)).collect().toSeq)
    assert(cached == Set(2), "a driver append kept a stale listing")
    assert(docs() == (1L to 7L).toSet)
    assert(cached == Set(0, 1, 2, 3))
    // document 1's chunks sit in lists 1, 2 and 3: the given lists are
    // rewritten on the driver, the discovered ones by a Spark job
    assert(IvfBinarySource.deleteDocs(spark, p, Set(1L), base, Some(Set(1, 2, 3))) == 3L)
    assert(cached == Set(0), "a driver list rewrite kept a stale listing")
    assert(docs() == (2L to 7L).toSet)
    assert(IvfBinarySource.deleteDocs(spark, p, Set(4L), base) == 3L)
    assert(cached == Set(3), "a list rewrite job kept a stale listing")
    assert(docs() == Set(2L, 3L, 5L, 6L, 7L))
  }
}
