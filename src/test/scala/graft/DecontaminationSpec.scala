package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Benchmark decontamination end to end: the q130 containment boundary
  * (both sides of the 0.8 verdict, including exactly 0.8 — the 4dp
  * rounding guard's own regime) and the composition into
  * [[CurationRun.exportCurated]] — a planted leaked doc must never
  * reach certified shards (Drop) / must lose exactly its leaked span
  * (Rewrite), and `_curation.json` must record which rule ran.
  *
  * Fixture note: the planted docs ride their own LOW-token-mass source
  * — the mixture rule gives a source with ≤ T/(2·n_src) tokens an
  * epoch factor ≥ 1 (base ≥ 1 copies), so every planted doc is
  * guaranteed into the control export and absence after Drop is
  * attributable to decontamination alone, not mixture downsampling. */
class DecontaminationSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  // the eval example: 7 tokens → 5 distinct 3-token shingles
  private val benchText = "qq1 qq2 qq3 qq4 qq5 qq6 qq7"

  private def benchDf = {
    import spark.implicits._
    Seq((9000L, benchText)).toDF("doc_id", "text")
  }

  /** Corpus docs sharing a controlled number of the benchmark's 5
    * shingles: a doc built from the bench's first k+2 tokens plus
    * unique padding shares exactly k shingles (padding shingles mix
    * unique tokens, so they can't collide with the bench side). */
  private def leakDoc(id: Long, kShingles: Int): (Long, String) = {
    val benchToks = benchText.split(" ").take(kShingles + 2)
    val pad = (1 to 12).map(j => s"u${id}x$j")
    (id, (benchToks ++ pad).mkString(" "))
  }

  /** 30 clean high-mass docs on source s0, the planted docs on the
    * low-mass source s1 (epoch factor ≥ 1 — see class scaladoc). */
  private def writeDocs(planted: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("decon").toString
    val clean = (1 to 30).map(i =>
      (i.toLong, (1 to 10).map(j => s"c${i}w$j").mkString(" "), "s0"))
    val rows = clean ++ planted.map { case (id, t) => (id, t, "s1") }
    rows.toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        col("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def cleanText(i: Long): String =
    (1 to 10).map(j => s"c${i}w$j").mkString(" ")

  test("benchContainment verdict boundary: 1.0 / exactly 0.8 / 0.6 / 0.4") {
    import spark.implicits._
    val corpus = Seq(
      leakDoc(100L, 5), // C = 5/5 = 1.0  → contaminated
      leakDoc(101L, 4), // C = 4/5 = 0.8  → contaminated (boundary)
      leakDoc(102L, 3), // C = 3/5 = 0.6  → emitted, NOT contaminated
      leakDoc(103L, 2)  // C = 2/5 = 0.4  → below the emit floor
    ).toDF("doc_id", "text")
    val got = DedupQueries.benchContainment(corpus, benchDf)
      .select("corpus_doc", "containment", "contaminated").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(got == Map(
      100L -> (1.0, true),
      101L -> (0.8, true),
      102L -> (0.6, false)))
  }

  test("exportCurated(Drop): the planted leaked docs never reach shards") {
    // fully-leaked (1.0), boundary (0.8), review-band (0.6 — survives)
    val dir = writeDocs(Seq(leakDoc(100L, 5), leakDoc(101L, 4), leakDoc(102L, 3)))
    val out = java.nio.file.Files.createTempDirectory("decon-out").toString
    // control: without decontamination the leaked docs ARE exported
    // (unique text — the dedup verdict alone keeps them)
    val ctl = java.nio.file.Files.createTempDirectory("decon-ctl").toString
    CurationRun.exportCurated(spark, dir, ctl, 2, seed = 4L)
    val ctlDocs = spark.read.parquet(ctl).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(Set(100L, 101L, 102L).subsetOf(ctlDocs),
      s"control run must ship the planted docs or the test proves nothing: $ctlDocs")

    CurationRun.exportCurated(spark, dir, out, 2, seed = 4L,
      decontaminate = Some(CurationRun.Decontaminate.Drop(benchDf)))
    val gotDocs = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(!gotDocs.contains(100L) && !gotDocs.contains(101L),
      s"contaminated docs shipped: $gotDocs")
    assert(gotDocs.contains(102L), "the 0.6 review-band doc must survive")
    assert(gotDocs.exists(_ <= 30L), "clean docs must still ship")
    // shards still certify, and the provenance manifest records the rule
    assert(graft.sources.TrainingExport.verifyShards(spark, out).isEmpty)
    val man = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_curation.json")), "UTF-8")
    assert(man.contains(""""rule":"drop""""), man)
    assert(man.contains(""""dropped":2"""), man)
    assert(man.contains(""""verdict":"exact""""), man)
    val ctlMan = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ctl/_curation.json")), "UTF-8")
    assert(ctlMan.contains(""""rule":"none""""), ctlMan)
  }

  test("exportCurated(Rewrite): leaked chunks cut, clean remainder ships") {
    import spark.implicits._
    // rewrite granularity is 8-token chunks vs the bench's overlapping
    // 8-shingles: an 8-token benchmark doc has exactly one shingle.
    // TWO bench examples — the fully-leaked doc must leak a DIFFERENT
    // one, or it is a subset of the half-leaked doc and the dedup
    // verdict subsumes it before decontamination ever sees it
    val bench8 = Seq(
      (9000L, (1 to 8).map(j => s"bb$j").mkString(" ")),
      (9001L, (1 to 8).map(j => s"dd$j").mkString(" ")))
      .toDF("doc_id", "text")
    val leakedHalf = (1 to 8).map(j => s"bb$j") ++ (1 to 8).map(j => s"keep$j")
    val fullyLeaked = (1 to 8).map(j => s"dd$j")
    val dir = writeDocs(Seq((200L, leakedHalf.mkString(" ")),
      (201L, fullyLeaked.mkString(" "))))
    val out = java.nio.file.Files.createTempDirectory("decon-rw").toString
    CurationRun.exportCurated(spark, dir, out, 2, seed = 4L,
      decontaminate = Some(CurationRun.Decontaminate.Rewrite(bench8)))
    val written = spark.read.parquet(out)
    val texts = written.select("doc_id", "text").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(200L) == (1 to 8).map(j => s"keep$j").mkString(" "),
      s"leaked span must be cut, clean half kept: ${texts.get(200L)}")
    assert(!texts.contains(201L),
      "a fully-leaked doc rewrites to empty and is dropped")
    texts.keys.find(_ <= 30L).foreach { i =>
      assert(texts(i) == cleanText(i), "clean docs pass through byte-identical")
    }
    assert(graft.sources.TrainingExport.verifyShards(spark, out).isEmpty)
    val man = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_curation.json")), "UTF-8")
    assert(man.contains(""""rule":"rewrite""""), man)
    assert(man.contains(""""rewritten":2"""), man)
  }
}
