package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pins.Pinned

import graft.sources.TrainingExport

/** The whole curation lifecycle as ONE call: raw corpus in, certified
  * training shards out. Composes the round's verdict/mixture/export
  * pieces in the order a production run needs them:
  *
  *   1. the fused dedup verdict ([[DedupQueries.q124DedupVerdict]],
  *      or its banded-STAR twin [[DedupQueries.q134DedupVerdictStar]]
  *      above [[BandedCorpusThreshold]] documents) decides per
  *      document — exact-fingerprint canon, quality-best cluster
  *      representative, not subsumed by a superset;
  *   2. OPTIONALLY, benchmark decontamination over the survivors —
  *      q130's containment DROP rule ([[Decontaminate.Drop]]) or
  *      q131's span-rewrite ([[Decontaminate.Rewrite]]) — so a
  *      certified shard export cannot ship eval contamination;
  *   3. the mixture plan ([[CurationQueries.mixtureRatesOf]]) is
  *      computed over the SURVIVORS — rates from the raw corpus would
  *      re-inflate exactly the sources dedup just trimmed;
  *   4. [[TrainingExport.exportMixedShards]] realizes the plan
  *      row-locally into deterministic, certified epoch shards, and
  *      `_curation.json` lands beside the shard manifest recording
  *      which verdict path and decontamination rule produced them (a
  *      release audit reads the pair together).
  *
  * Scale shape: the verdict's keep set is corpus-sized, so it joins the
  * corpus on doc_id (one shuffle — unavoidable for an exact keep list);
  * decontamination adds one broadcast of the suite-sized benchmark
  * (corpus text never shuffles for it); everything after is the
  * mixture/export pipeline's documented shape (broadcast rates,
  * row-local explode, one shard shuffle). Returns the per-shard
  * manifest; [[TrainingExport.verifyShards]] certifies the written
  * output independently. */
object CurationRun {

  /** Benchmark-decontamination modes for [[exportCurated]]. `bench`
    * must carry (doc_id, text) — the eval suite, dimension-sized. */
  sealed trait Decontaminate { def bench: DataFrame }
  object Decontaminate {
    /** Drop whole documents at containment ≥ 0.8 (q130's GPT-3/Llama-2
      * rule — [[DedupQueries.benchContainment]]). */
    final case class Drop(bench: DataFrame) extends Decontaminate
    /** Cut only the leaked 8-token chunks, keep the rest of the doc
      * (q131's PaLM/GPT-4 report shape —
      * [[AnalyticsQueries.decontaminateRewrite]]); a doc whose every
      * chunk leaked comes out empty and is dropped. */
    final case class Rewrite(bench: DataFrame) extends Decontaminate
  }

  def exportCurated(s: SparkSession, dir: String, outDir: String,
      nShards: Int, seed: Long): Seq[TrainingExport.ShardStat] =
    exportCurated(s, dir, outDir, nShards, seed, None)

  /** Run the lifecycle over `dir` and write `nShards` certified shards
    * to `outDir`. Every pin in the run goes through
    * [[graft.operators.Pins]]: on a cluster master each pin keeps two
    * block copies, so the run survives the loss of one executor; under
    * a local master a pin keeps one. */
  def exportCurated(s: SparkSession, dir: String, outDir: String,
      nShards: Int, seed: Long, decontaminate: Option[Decontaminate])
      : Seq[TrainingExport.ShardStat] = {
    // pin the survivors ONCE (RankOps convention): the frame is consumed
    // three times — mixture-rate planning, the shard write, and the
    // manifest's stat recompute — and re-running the verdict join (the
    // most expensive stage of the pipeline) per consumer tripled the
    // run; the pinned rows are the post-join (id, text, lang, source)
    // projection, the minimum the export needs anyway
    val (kept, verdictPath) = curatedSurvivorsNamed(s, dir, BandedCorpusThreshold)
    val dedupSurvivors = kept.pin()
    val (survivors, rule) = decontaminate match {
      case None => (dedupSurvivors, """"rule":"none"""")
      case Some(Decontaminate.Drop(bench)) =>
        // the contaminated id set is bounded by true benchmark overlap
        // (≪ corpus); the anti-join keeps the corpus unshuffled when
        // AQE broadcasts it, and correct regardless. The suite prep is
        // built EXPLICITLY so its pin can be released once the id set
        // is materialized — a union-of-all-suites bench is the sized
        // input the gate exists for, and its pinned shingle table must
        // not sit resident through mixture/export
        val prep = DedupQueries.prepareBench(bench)
        val bad = DedupQueries.benchContainment(dedupSurvivors, prep)
          .filter(col("contaminated"))
          .select(col("corpus_doc").as("_bad_id")).distinct()
          .pin()
        val nBad = bad.count()
        graft.operators.DedupOps.releaseCheckpoint(prep.shingles)
        // null-SAFE anti key: survivors provably carry non-null doc_id
        // (the verdict join upstream is doc_id-keyed), but the gate must
        // not re-create the false-clean-on-null class structurally
        val clean = dedupSurvivors
          .join(graft.operators.DedupOps.gateKnown(bad, nBad),
            col("doc_id") <=> col("_bad_id"), "left_anti")
          .pin()
        // the corpus-scale survivor pin (and the id pin) are dead once
        // `clean` is materialized — release them or they sit beside it
        // through mixture/export, the documented AGGREGATE_OOM regime
        // at 10M-doc scale (DedupOps.releaseCheckpoint scaladoc)
        graft.operators.DedupOps.releaseCheckpoint(dedupSurvivors)
        graft.operators.DedupOps.releaseCheckpoint(bad)
        (clean, s""""rule":"drop","threshold":${DedupQueries.BenchContaminated},"dropped":$nBad""")
      case Some(Decontaminate.Rewrite(bench)) =>
        val prep = AnalyticsQueries.prepareRewriteBench(bench)
        // the PINNED form: the rule pins its leak-sized removal-verdict
        // table internally, and the plain form would strand that pin
        // resident through mixture/export beside `clean` — the
        // AGGREGATE_OOM squeeze this branch releases every OTHER
        // superseded pin to avoid
        val (rew0, removedPin) = AnalyticsQueries
          .decontaminateRewritePinned(
            dedupSurvivors.select("doc_id", "text"), prep)
        val rew = rew0
          .filter(col("n_removed") > 0)
          .select(col("doc_id").as("_rw_id"), col("text_kept"))
          .pin()
        val nRew = rew.count()
        graft.operators.DedupOps.releaseCheckpoint(removedPin)
        graft.operators.DedupOps.releaseCheckpoint(prep.chunks)
        // null-safe join-back — same rationale as the Drop branch
        val clean = dedupSurvivors
          .join(graft.operators.DedupOps.gateKnown(rew, nRew),
            col("doc_id") <=> col("_rw_id"), "left")
          .select(col("doc_id"),
            coalesce(col("text_kept"), col("text")).as("text"),
            col("lang"), col("source"))
          // a fully-leaked doc rewrites to empty — nothing to train on
          .filter(length(trim(col("text"))) > 0)
          .pin()
        // release the superseded pins (see the Drop branch)
        graft.operators.DedupOps.releaseCheckpoint(dedupSurvivors)
        graft.operators.DedupOps.releaseCheckpoint(rew)
        (clean, s""""rule":"rewrite","chunk_tokens":8,"rewritten":$nRew""")
    }
    val rates = CurationQueries.mixtureRatesOf(survivors)
    val stats = TrainingExport.exportMixedShards(survivors, rates, outDir,
      nShards, seed)
    writeCurationManifest(outDir,
      s"""{"verdict":"$verdictPath",$rule}""")
    stats
  }

  /** `outDir/_curation.json` — the provenance half of the export
    * contract (the shard half is `_manifest.json`): which dedup
    * verdict path ran and which decontamination rule (if any) the
    * shards were filtered through. Temp-file + rename like the shard
    * manifest, so a torn write can't masquerade as provenance. */
  private def writeCurationManifest(outDir: String, body: String): Unit = {
    import org.apache.hadoop.fs.Path
    val p = new Path(outDir, "_curation.json")
    val tmp = new Path(outDir, "._curation.json.tmp")
    val efs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val out = efs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (efs.exists(p)) efs.delete(p, false)
    efs.rename(tmp, p)
  }

  /** Above this many documents the verdict rides the BANDED-STAR pair
    * source ([[DedupQueries.q134DedupVerdictStar]]): the exact
    * verdict's cluster edges come from q22's uncapped shingle
    * self-join, whose per-bucket cost is df² with df unbounded —
    * template boilerplate makes that quadratic on crawl-scale corpora —
    * while the star source (q21b LSH banding → per-bucket star pairing
    * → candidate-bounded verify) shuffles only band-bucket keys AND
    * stays linear in the largest near-identical cluster, where the
    * plain all-pairs banded form (q124b) is itself Θ(m²) within the
    * mega-cluster's bucket. Below the threshold, exactness is free and
    * preferred (the same adaptive convention as DedupOps'
    * driver/distributed and broadcast/merge gates). 1M docs is where
    * the 10M dedup curves in BASELINE.md cross on the benign df-flat
    * corpus;
    * boilerplate-heavy corpora cross far earlier, and the star path is
    * the only safe default past the threshold (BASELINE.md's
    * round-13 star-pairing table: a
    * planted 100k-member cluster costs q124b ~2×10¹⁰ candidate rows,
    * q134 ~n×BANDS).
    *
    * FAILURE DIRECTION above the threshold: the star verdict's
    * equivalence to q124b is probabilistic through the exact-Jaccard
    * verify (a borderline pair whose only band collision anchors at a
    * min that fails the verify loses its edge —
    * [[DedupQueries.starPairsFromBands]]). Clusters can only SPLIT
    * (extra keepers — some near-duplicates retained), never merge or
    * drop a document: operators comparing keep counts across the
    * threshold should expect the star keep set to be a superset. */
  val BandedCorpusThreshold: Long = 1000000L

  /** The post-verdict corpus: every doc the fused verdict keeps, with
    * the columns the export needs. */
  def curatedSurvivors(s: SparkSession, dir: String): DataFrame =
    curatedSurvivors(s, dir, BandedCorpusThreshold)

  private[graft] def curatedSurvivors(s: SparkSession, dir: String,
      bandedThreshold: Long): DataFrame =
    curatedSurvivorsNamed(s, dir, bandedThreshold)._1

  private[graft] def curatedSurvivorsNamed(s: SparkSession, dir: String,
      bandedThreshold: Long): (DataFrame, String) = {
    // footer-metadata corpus count (r19) — no Spark job; the counting
    // fallback covers filesystems without the stat
    val banded = Tables.rowCount(s, dir, "documents")
      .getOrElse(Tables.load(s, dir, "documents").count()) > bandedThreshold
    val verdict =
      if (banded) DedupQueries.q134DedupVerdictStar(s, dir)
      else DedupQueries.q124DedupVerdict(s, dir)
    val keep = verdict.filter(col("keep")).select("doc_id")
    val survivors = Tables.load(s, dir, "documents")
      .join(keep, "doc_id")
      .select("doc_id", "text", "lang", "source")
    (survivors, if (banded) "banded-star" else "exact")
  }
}
