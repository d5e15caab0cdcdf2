package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The banded fused verdict (q124b — q21b LSH edges → exact verify)
  * against the exact verdict (q124 — q22's corpus-wide self-join
  * edges). On a corpus whose true near-dup pairs are EXACT copies the
  * LSH stage has recall exactly 1 (identical texts → identical minhash
  * signatures → every band collides), so the two verdicts must be
  * row-identical; in general the banded edge set is a SUBSET of the
  * exact one, so clusters can only split and keeps only grow — the
  * 10M-doc wall-clock and the keep-delta bound live in
  * DedupScaleProbe. */
class DedupBandedSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  /** 80%-duplicate corpus (DedupAdaptiveSpec's planting): 60 exact-dup
    * pairs + 30 singletons, per-cluster unique vocabulary. Every rule
    * fires — fp canon, cluster rep, equal-size containment victims. */
  private lazy val dupDir: String = {
    import spark.implicits._
    val clustered = (0 until 60).flatMap { i =>
      val text = s"ba$i bb$i bc$i bd$i be$i bf$i bg$i"
      Seq((i * 2L, text), (i * 2L + 1, text))
    }
    val singles = (0 until 30).map { j =>
      (120L + j, s"bs${j}a bs${j}b bs${j}c bs${j}d bs${j}e")
    }
    val dir = java.nio.file.Files.createTempDirectory("banded").toString
    (clustered ++ singles).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("synthetic").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("banded verdict is row-identical to the exact verdict on exact-dup clusters") {
    val exact = rowsOf(DedupQueries.q124DedupVerdict(spark, dupDir))
    val banded = rowsOf(DedupQueries.q124bDedupVerdictBanded(spark, dupDir))
    assert(banded == exact && exact.nonEmpty)
  }

  test("banded verdict refines the exact verdict on the real sf0.001 corpus") {
    // the banded edge set is a SUBSET of the exact one (LSH can only
    // miss pairs, and survivors are exact-verified), so on a real
    // corpus: fp/subsumed columns identical, clusters only split,
    // rep_keeps only turn on, keeps only grow. sf0.001 exercises a real
    // miss: one J≈0.8 pair (doc 82's) falls outside its bucket family.
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5)))).toMap
    val exact = byId(DedupQueries.q124DedupVerdict(spark, SparkSuite.sf0001))
    val banded = byId(
      DedupQueries.q124bDedupVerdictBanded(spark, SparkSuite.sf0001))
    assert(banded.keySet == exact.keySet && exact.nonEmpty)
    exact.foreach { case (id, (fp, _, repk, sub, keep)) =>
      val (bfp, _, brepk, bsub, bkeep) = banded(id)
      assert(bfp == fp && bsub == sub, s"doc $id: fp/subsumed must not move")
      assert(!repk || brepk, s"doc $id: rep_keep may only turn ON")
      assert(!keep || bkeep, s"doc $id: keep may only grow")
    }
    // banded clusters REFINE exact clusters: same banded cluster ⇒ same
    // exact cluster (an LSH miss can split a cluster, never merge two)
    val exCl = exact.view.mapValues(_._2).toMap
    banded.groupBy(_._2._2).values.foreach { g =>
      assert(g.keySet.map(exCl).size == 1,
        s"banded cluster merged distinct exact clusters: ${g.keySet}")
    }
  }

  test("curatedSurvivors rides the exact verdict below the corpus threshold") {
    // the planted corpus is tiny, so the run must pick q124 (exactness
    // is free); survivors = fp-canon reps of the 60 pairs + 30 singles
    val surv = CurationRun.curatedSurvivors(spark, dupDir)
    assert(surv.count() == 90)
    assert(CurationRun.BandedCorpusThreshold > 150L)
    // forced over the threshold, the run rides the banded verdict —
    // identical survivors here (exact-dup clusters: LSH recall 1)
    val survBanded = CurationRun.curatedSurvivors(spark, dupDir, 0L)
    assert(survBanded.collect().map(_.getLong(0)).sorted.toSeq ==
      surv.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("the band and shingle pair joins plan sort-merge, never broadcast") {
    // the planner sizes these explode frames from the parquet bytes
    // before the explode, so on a small corpus each pair join would plan
    // as a BroadcastHashJoin without DedupQueries.sharedKeyPairs' hint;
    // sparkPlan (pre-exchange-insertion) names the strategy
    val wrong = Seq("q21_minhash_lsh", "q21b_minhash_fast", "q22_jaccard_neardup",
      "q91_cross_dedup", "q24b_simhash_banded").flatMap { key =>
      val plan = SparkEntry.queries(key)(spark, SparkSuite.sf0001)
        .queryExecution.sparkPlan.toString
      if (plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin")) None
      else Some(s"$key:\n$plan")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
