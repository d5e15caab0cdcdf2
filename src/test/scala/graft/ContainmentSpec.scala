package graft

import org.scalatest.funsuite.AnyFunSuite

/** q118 asymmetric containment + q120 LSH planner gates: exact driver
  * recomputes of both rules, plus the semantic point of containment —
  * a planted near-superset pair that symmetric Jaccard (q22) cannot
  * see. Cross-engine value parity is oracle-gated via the registry. */
class ContainmentSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val DfCap = 64

  /** Mirror of TextKernels.shingles / the shingle oracle CTE: distinct
    * 3-token shingles of the lowercased whitespace tokenization; <3
    * tokens collapse to one shingle, empty text to none. */
  private def shingleSet(text: String): Set[String] = {
    val t = text.trim.toLowerCase
    if (t.isEmpty) Set.empty
    else {
      val toks = t.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= 3)
        toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
  }

  private def r4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q118 equals an exact driver recompute (df-capped containment)") {
    val docs = Tables.load(spark, SparkSuite.sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingleSet(r.getString(1)))
    val df = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length)
    val capped = docs.map { case (id, sh) =>
      id -> sh.filter(s => df(s) <= DfCap)
    }.filter(_._2.nonEmpty)
    val expect = (for {
      (ida, sa) <- capped; (idb, sb) <- capped if ida < idb
      i = (sa intersect sb).size
      c = i.toDouble / math.min(sa.size, sb.size) if c >= 0.9
    } yield {
      val (small, big) =
        if (sa.size <= sb.size) (ida, idb) else (idb, ida)
      (small, big) -> r4(c)
    }).toMap
    val got = DedupQueries.q118Containment(spark, SparkSuite.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got == expect)
  }

  test("q118 catches a planted near-superset that symmetric Jaccard misses") {
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    val small = (1 to 12).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (100 to 190).map(i => s"pad$i").mkString(" ")
    val other = (500 to 540).map(i => s"uniq$i").mkString(" ")
    import spark.implicits._
    Seq((1L, small, "en", "src0", small.length.toLong),
        (2L, big, "en", "src0", big.length.toLong),
        (3L, other, "en", "src0", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // every shingle of the small doc appears in the big doc => C = 1.0
    val pairs = DedupQueries.q118Containment(spark, dir).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
    // ...while J = |small|/|big| is far below q22's 0.8 gate
    assert(DedupQueries.q22JaccardNeardup(spark, dir).collect().isEmpty)
  }

  test("prefix-filtered q118b equals the full-join q118 row for row") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = keyed(DedupQueries.q118Containment(spark, SparkSuite.sf0001))
    val pref = keyed(DedupQueries.q118bContainmentPrefix(spark, SparkSuite.sf0001))
    assert(pref == full && full.nonEmpty)
  }

  test("bottom-k sketch q126 equals q118 at the lossless config") {
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val full = keyed(DedupQueries.q118Containment(spark, SparkSuite.sf0001))
    val sketch = keyed(DedupQueries.q126ContainmentSketch(spark, SparkSuite.sf0001))
    assert(sketch == full && full.nonEmpty)
  }

  test("q121 subsumption drops the contained copy and keeps the superset") {
    val dir = java.nio.file.Files.createTempDirectory("subsume").toString
    val small = (1 to 12).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (100 to 190).map(i => s"pad$i").mkString(" ")
    val other = (500 to 540).map(i => s"uniq$i").mkString(" ")
    import spark.implicits._
    // 1 ⊂ 2; 3 standalone; 4 == 3 exact dup (tie: higher id drops)
    Seq((1L, small), (2L, big), (3L, other), (4L, other))
      .map { case (id, tx) => (id, tx, "en", "src0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.q121Subsume(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))
  }

  test("q123 tags both ingest directions and ignores same-side pairs") {
    val dir = java.nio.file.Files.createTempDirectory("crosscontain").toString
    val a = (1 to 60).map(i => s"ta$i").mkString(" ")
    val aHead = (1 to 12).map(i => s"ta$i").mkString(" ")
    val b = (1 to 12).map(i => s"tb$i").mkString(" ")
    val bPlus = b + " " + (50 to 110).map(i => s"tb$i").mkString(" ")
    import spark.implicits._
    Seq(
      (2L, a), // corpus: the big original
      (3L, aHead), // incoming: a quote of doc 2 → new_in_old (drop it)
      (4L, b), // corpus: a short original
      (5L, bPlus), // incoming: doc 4 expanded → old_in_new (supersede)
      (7L, (900 to 940).map(i => s"tz$i").mkString(" ")), // incoming, novel
      (6L, aHead)) // corpus-side copy of doc 3: emits only as the CROSS
      // pair (6,3) — its same-side containment in doc 2 must NOT emit
      .map { case (id, tx) => (id, tx, "en", "src0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.q123CrossContain(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getString(3)))).toMap
    assert(got.keySet == Set((2L, 3L), (4L, 5L), (6L, 3L)))
    assert(got((2L, 3L))._2 == "new_in_old" && got((2L, 3L))._1 == 1.0)
    assert(got((4L, 5L))._2 == "old_in_new" && got((4L, 5L))._1 == 1.0)
    // size-equal cross pair prefers the stored copy
    assert(got((6L, 3L))._2 == "new_in_old")
  }

  test("streaming containment gate verdicts match q123 semantics per batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpusTexts = Seq(
      1L -> (1 to 60).map(i => s"ca$i").mkString(" "), // big original
      2L -> (1 to 12).map(i => s"cb$i").mkString(" ")) // short original
    val corpusDf = corpusTexts.toDF("doc_id", "text")
    val corpusSh = DedupQueries.containmentShingles(corpusDf)
      .localCheckpoint(true)
    val stop = DedupQueries.containmentStopShingles(corpusDf)
      .localCheckpoint(true)
    val out = java.nio.file.Files.createTempDirectory("cgate_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("cgate_ckpt").toString
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    def drain(): Unit =
      graft.streaming.Streams.runContainmentGate(stream, corpusSh, stop, out, ckpt)

    mem.addData(
      10L -> (1 to 12).map(i => s"ca$i").mkString(" "), // quote of doc 1
      11L -> ((1 to 12).map(i => s"cb$i").mkString(" ") + " " +
        (50 to 90).map(i => s"cx$i").mkString(" ")), // doc 2 expanded
      12L -> (700 to 740).map(i => s"nz$i").mkString(" ")) // novel
    drain()
    mem.addData(13L -> (1 to 60).map(i => s"ca$i").mkString(" ")) // exact copy
    drain()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L))
    assert(got(10L) == ((true, false, 1L))) // contained copy → drop
    assert(got(11L) == ((false, true, 1L))) // supersedes the stored doc
    assert(got(12L) == ((false, false, 0L))) // novel content passes
    assert(got(13L) == ((true, false, 1L))) // size-equal tie keeps stored
  }

  test("gate subtracts corpus boilerplate from arrival counts (direction)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // 70 corpus docs share a boilerplate prefix, so its pure shingles
    // exceed the df cap and are dropped from the CORPUS counts; an
    // arrival that is an exact copy of one corpus doc must read as a
    // duplicate (contained) — counting its raw shingles against the
    // capped corpus counts would flip it to `supersedes` and replace
    // the stored doc with a copy
    val boiler = "bp1 bp2 bp3 bp4"
    val corpusDf = (1 to 70)
      .map(i => i.toLong -> s"$boiler u${i}a u${i}b u${i}c u${i}d")
      .toDF("doc_id", "text")
    val corpusSh = DedupQueries.containmentShingles(corpusDf)
      .localCheckpoint(true)
    val stop = DedupQueries.containmentStopShingles(corpusDf)
      .localCheckpoint(true)
    assert(stop.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("bp1 bp2 bp3", "bp2 bp3 bp4"))
    val out = java.nio.file.Files.createTempDirectory("cgate2_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("cgate2_ckpt").toString
    val mem = MemoryStream[(Long, String)](spark)
    val stream = mem.toDF().toDF("doc_id", "text")
    mem.addData(500L -> s"$boiler u42a u42b u42c u42d")
    graft.streaming.Streams.runContainmentGate(stream, corpusSh, stop, out, ckpt)
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(got(500L) == ((true, false, 1L)), got.toString)
  }

  test("gate caps batch-local template spam like corpus boilerplate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // corpus: 5 docs with unique bodies (no boilerplate — stop set empty)
    val corpusDf = (1 to 5)
      .map(i => i.toLong -> (1 to 40).map(j => s"k${i}_$j").mkString(" "))
      .toDF("doc_id", "text")
    val corpusSh = DedupQueries.containmentShingles(corpusDf)
      .localCheckpoint(true)
    val stop = DedupQueries.containmentStopShingles(corpusDf)
      .localCheckpoint(true)
    assert(stop.count() == 0)
    val out = java.nio.file.Files.createTempDirectory("cgate3_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("cgate3_ck").toString
    val mem = MemoryStream[(Long, String)](spark)
    // one batch: 70 template-spam arrivals (the SAME phrase — batch df
    // 70 > cap, invisible to the corpus stop set) plus one true quote
    // of corpus doc 3 buried in spam boilerplate. Without the batch df
    // cap the spam shingles dominate the quote's arrival count n and
    // C = i/min(na, n) falls below threshold — the copy slips through.
    val spam = (1 to 20).map(i => s"tp$i").mkString(" ")
    // quote of doc 3's first 30 tokens: 28 quote shingles + 2 spam→quote
    // junction shingles (df 1, survive the cap) = 30 arrival shingles
    // vs the stored doc's 38 → smaller side, C = 28/30 ≈ 0.93
    val arrivals =
      (100L to 169L).map(id => id -> spam) :+
        (200L -> (spam + " " + (1 to 30).map(j => s"k3_$j").mkString(" ")))
    mem.addData(arrivals: _*)
    graft.streaming.Streams.runContainmentGate(
      mem.toDF().toDF("doc_id", "text"), corpusSh, stop, out, ckpt)
    val full = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5), r.getBoolean(6)))).toMap
    val got = full.view.mapValues(v => (v._1, v._2, v._3)).toMap
    assert(got.size == 71)
    // the quote is caught as contained: spam shingles are capped out of
    // its arrival count, so C = 38/min(38, 38) = 1.0
    assert(got(200L) == ((true, false, 1L)), got(200L).toString)
    // pure spam docs lose ALL their shingles to the cap, so they route
    // through the exact verify — which confirms they share nothing with
    // the corpus: VERIFIED novel, not blindly novel (and neither the
    // in-batch join nor the verify grinds 70² spam pairs — the verify
    // runs against the corpus, not the batch)
    (100L to 169L).foreach(id => assert(got(id) == ((false, false, 0L))))
    (100L to 169L).foreach(id =>
      assert(full(id)._4 == 1.0 && full(id)._5 && full(id)._6,
        s"$id: ${full(id)}"))
    // the quote lost only its spam prefix (18 of 48 shingles) — below
    // the 0.5 routing threshold, its in-batch verdict stands unrouted
    assert(full(200L)._4 < 0.5 && !full(200L)._5 && !full(200L)._6,
      full(200L).toString)
  }

  test("gate routes a >cap recrawl flood through the exact verify: verdict, not flag") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // corpus holds one popular page; 70 copies of it arrive in ONE
    // micro-batch. Their shared shingles exceed the batch df cap (70 >
    // 64), so the in-batch containment check is blind to them — the
    // routed exact verify must still catch every copy as CONTAINED.
    val page = (1 to 40).map(j => s"pp$j").mkString(" ")
    val corpusDf = Seq(1L -> page).toDF("doc_id", "text")
    val corpusSh = DedupQueries.containmentShingles(corpusDf)
      .localCheckpoint(true)
    val stop = DedupQueries.containmentStopShingles(corpusDf)
      .localCheckpoint(true)
    val out = java.nio.file.Files.createTempDirectory("cgate4_out").toString + "/o"
    val ckpt = java.nio.file.Files.createTempDirectory("cgate4_ck").toString
    val mem = MemoryStream[(Long, String)](spark)
    mem.addData((100L to 169L).map(id => id -> page): _*)
    graft.streaming.Streams.runContainmentGate(
      mem.toDF().toDF("doc_id", "text"), corpusSh, stop, out, ckpt)
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(3), r.getDouble(4),
          r.getBoolean(5), r.getBoolean(6)))).toMap
    assert(got.size == 70)
    (100L to 169L).foreach { id =>
      // the batch cap blinded the in-batch check, but the routed exact
      // verify caught the copy: contained via the verified path
      assert(got(id)._1 && got(id)._2 == 1L, got(id).toString)
      assert(got(id)._3 == 1.0 && got(id)._4 && got(id)._5, got(id).toString)
    }
  }

  test("q124 fused verdict composes fp, cluster-rep, and subsumption rules") {
    val dir = java.nio.file.Files.createTempDirectory("verdict").toString
    val base = (1 to 20).map(i => s"vt$i").mkString(" ")
    val sup = base + " " + (100 to 160).map(i => s"vp$i").mkString(" ")
    val other = (800 to 840).map(i => s"vo$i").mkString(" ")
    import spark.implicits._
    // 1 = original; 2 = exact copy (fp dup + J=1 cluster with 1);
    // 3 = superset of the base text (subsumes 1 and 2); 4 = unrelated
    Seq((1L, base), (2L, base), (3L, sup), (4L, other))
      .map { case (id, tx) => (id, tx, "en", "src0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupQueries.q124DedupVerdict(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    //            fp_keep cluster rep_keep subsumed keep
    assert(got(1L) == ((true, 1L, true, true, false))) // superseded by 3
    assert(got(2L) == ((false, 1L, false, true, false))) // copy, every rule
    assert(got(3L) == ((true, 3L, true, false, true))) // the superset wins
    assert(got(4L) == ((true, 4L, true, false, true))) // untouched
  }

  test("q127 sketch planner equals an exact binomial-tail driver recompute") {
    def tail(k: Int, m: Int, p: Double): Double = {
      def comb(n: Int, r: Int): Double =
        (1 to r).map(i => (n - i + 1).toDouble / i).product
      (m to k).map(j => comb(k, j) * math.pow(p, j) * math.pow(1 - p, k - j)).sum
    }
    val expect = (1 to 8).map(_ * 8).map { k =>
      val m = (1 to k).filter(m => r4(tail(k, m, 0.9)) >= 0.995).max
      k.toLong -> ((m.toLong, r4(tail(k, m, 0.9)), r4(tail(k, m, 0.6))))
    }.toMap
    val got = DedupQueries.q127SketchPlanner(spark, "unused").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got == expect)
    // the registered q126 fast config IS the k=16 row
    assert(got(16L)._1 == 11L)
  }

  test("q120 planner equals an exact driver recompute of the S-curve argmin") {
    val grid = for {
      b <- 1 to 16; r <- 1 to 16 if b * r <= 64
    } yield (b.toLong, r.toLong, math.pow(1.0 / b, 1.0 / r))
    val expect = (5 to 9).map { id =>
      val t = id / 10.0
      val (b, r, sStar) = grid.minBy { case (b, r, s) =>
        (math.round(math.abs(s - t) * 10000), b * r, b)
      }
      t -> ((b, r, b * r, r4(sStar),
        r4(1.0 - math.pow(1.0 - math.pow(t - 0.1, r.toDouble), b.toDouble)),
        r4(math.pow(1.0 - math.pow(t + 0.1, r.toDouble), b.toDouble))))
    }.toMap
    val got = DedupQueries.q120LshPlanner(spark, "unused").collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    assert(got == expect)
    // q21's operating point (b=4, r=4, s* = 2^-1/2) is the planner's
    // own neighborhood for t = 0.7: threshold lands within 2 points
    assert(math.abs(got(0.7)._4 - 0.7) < 0.02)
  }
}
