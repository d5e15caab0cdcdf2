package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for the load-bearing query shapes into
  * PLANS.md — the plan-review artifact: every physical plan here was
  * iterated until it shows the property called out in its header
  * (pushdown, broadcast, partial top-k, partition pruning, codegen). */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the load-bearing query shapes\n\n")
    sb.append("Generated by `graft.Plans` at sf0.01. Each section states the\n")
    sb.append("property the plan must exhibit; regressions are caught by the\n")
    sb.append("plan assertions in QueriesSpec/IvfIndexSpec.\n")

    def section(title: String, why: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$why\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }

    section("q08_inlist_scan — predicate pushdown + column pruning",
      "IN-list and range filters appear as PushedFilters on the parquet " +
        "scan; ReadSchema holds 5 of lineitem's 16 columns.",
      Queries.q08InlistScan(spark, dir))

    section("q01_pricing_summary — partial aggregation",
      "HashAggregate(partial) before the exchange, final after: map-side " +
        "combine means the shuffle carries one row per (group × task), " +
        "not per input row.",
      Queries.q01PricingSummary(spark, dir))

    section("q04_join_agg — broadcast dim join",
      "nation broadcasts (BroadcastHashJoin); the orders×customer join " +
        "shuffles on the FK only.",
      Queries.q04JoinAgg(spark, dir))

    section("q02/q16-style top-k — TakeOrderedAndProject",
      "Global ORDER BY + LIMIT compiles to per-partition partial top-k + " +
        "single merge: no global sort, no single-partition window.",
      Queries.q02TopkOrders(spark, dir))

    section("q16_cosine_topk — codegen'd vector kernel over broadcast query",
      "The query vector broadcasts (BroadcastNestedLoopJoin over one row); " +
        "cosine_sim is a native expression inside WholeStageCodegen.",
      Queries.q16CosineTopk(spark, dir))

    section("q21_minhash_lsh — bucket-key self-join",
      "The only shuffle key is the short LSH band bucket; documents never " +
        "shuffle whole. Candidate pairs are Σ|bucket|², not N².",
      DedupQueries.q21MinhashLsh(spark, dir))

    section("q42_topk_agg — bounded top-k aggregate, partial before shuffle",
      "objectHashAggregate(partial) runs BEFORE the exchange with a " +
        "buffer capped at k entries: each task ships at most k rows per " +
        "query key, where the q25 window form shuffles every candidate row.",
      DedupQueries.q42TopkAgg(spark, dir))

    section("q78_quality_classifier — shuffle-free model scoring",
      "The hashed-feature linear scorer is stacked projections straight " +
        "over the scan: no aggregate exec, no join, no UDF. The only " +
        "Exchange is the small-file parallelism floor (Tables.loadP — " +
        "a no-op on real multi-file input); the lambda-bearing " +
        "projections evaluate outside codegen but stay row-local.",
      CurationQueries.q78QualityClassifier(spark, dir))

    section("q79_epoch_shuffle — global permutation without a global window",
      "The md5-key RangePartitioning runs inside RankOps' correctness " +
        "pin, so the visible plan reads the pinned rows (Scan " +
        "ExistingRDD) and joins BROADCAST per-partition offsets; the " +
        "offsets-side Window sorts <= shuffle-partitions rows. No " +
        "single-partition window or zipWithIndex job ever sees the data.",
      CurationQueries.q79EpochShuffle(spark, dir))

    section("ZOrder.cluster — layout rewrite costs one range exchange",
      "The Morton key is a codegen'd shift/mask ladder (no UDF, no " +
        "BatchEval): the whole rewrite is Scan -> Project -> one " +
        "Exchange rangepartitioning(_zkey) -> Sort (local). Any global " +
        "sort pays the same exchange; z-order buys 2-D row-group " +
        "pruning for it.",
      graft.operators.ZOrder.cluster(
        Tables.load(spark, dir, "events"),
        pmod(col("user_id"), lit(65536L)),
        pmod(col("event_id"), lit(65536L)), 16))

    section("q86_snapshot_diff — churn-sized diff, text never shuffles",
      "Both snapshot sides project (doc_id, md5 fingerprint) at the " +
        "scan, so the full-outer SortMergeJoin carries 40-byte rows — " +
        "document text stays columnar-pruned out of the plan entirely " +
        "(ReadSchema on both scans is doc_id+text, consumed row-local " +
        "by the md5 projection before the exchange).",
      CurationQueries.q86SnapshotDiff(spark, dir))

    section("q87_bloom_contamination — membership prune below the verify join",
      "bloom_might_contain sits in the Filter directly over the corpus " +
        "scan side, BELOW the join: only shingles that might hit the " +
        "benchmark set survive to be joined. At benchmark sets too big " +
        "to broadcast, that filter is what keeps the corpus-side " +
        "exchange at matches+fp instead of every shingle.",
      DedupQueries.q87BloomContamination(spark, dir))

    section("q88_dsir_evidence — 4096-bucket contrast dim, broadcast",
      "The target/raw token contrast aggregates into a <=4096-row dim " +
        "(partial before its exchange), which BROADCASTS back onto the " +
        "token stream; the only corpus-sized shuffle carries per-doc " +
        "partial sums keyed by doc_id.",
      CurationQueries.q88DsirEvidence(spark, dir))

    section("q90_domain_cap — the corpus bulk never shuffles",
      "Under-cap sources (the Zipf bulk) exit through a broadcast " +
        "anti-join with ZERO shuffle of their rows; only over-cap " +
        "sources' rows reach a window, pre-pruned per salt group so a " +
        "mega-domain contributes at most SALT*CAP rows to its final " +
        "per-source task.",
      SelectionQueries.q90DomainCap(spark, dir))

    section("q91_cross_dedup — batch-vs-corpus join, no corpus self-join",
      "Both sides read ONE checkpointed shingle table; the equi-join on " +
        "shingle semi-filters the corpus side to shingles the batch " +
        "actually contains, and the integer size band kills near-miss " +
        "pairs at the join. Downstream cost is bounded by the batch.",
      DedupQueries.q91CrossDedup(spark, dir))

    section("q92_blocklist_filter — exchange-free verdict",
      "The banned-term count is one higher-order array expression in " +
        "whole-stage codegen directly over the scan: no explode, no " +
        "join, no exchange anywhere in the plan (spec-pinned).",
      SelectionQueries.q92BlocklistFilter(spark, dir))

    section("q93_ccnet_buckets — terciles without per-language sorts",
      "All languages rank through ONE range exchange " +
        "(RankOps.globalRowNumberPer); ntile's remainder rule is " +
        "reproduced arithmetically from broadcast per-language counts, " +
        "so no ntile window (and no per-language single task) appears.",
      SelectionQueries.q93CcnetBuckets(spark, dir))

    section("q82_span_rewrite — first-occurrence verdict without a chunk window",
      "The removal verdict is a min-struct aggregate + join-back — " +
        "never row_number().over(partitionBy(chunk)): a viral " +
        "boilerplate chunk (license header, nav text) is one corpus-" +
        "scale window partition with no map-side combine and no AQE " +
        "split; the aggregate streams it. Three plan tricks stacked " +
        "(spanRemovals scaladoc): 16-byte md5 keys instead of chunk " +
        "strings, ONE explicit repartition(h) that both the aggregate " +
        "and the join probe REUSE (the explode kernel runs once — " +
        "look for ReusedExchange below), and a count>=2 filter so the " +
        "keeper build side is dup-cluster-sized (AQE broadcasts it on " +
        "clean corpora). BASELINE.md (round 14) records the trade in " +
        "both regimes. Corpus text crosses the wire once; reassembly " +
        "is row-local.",
      AnalyticsQueries.q82SpanRewrite(spark, dir))

    section("q69_ntile_rank — distribution ranks without per-language windows",
      "ntile/percent_rank/cume_dist are pure arithmetic over " +
        "(RankOps.distributionRanksPer rank, broadcast per-lang " +
        "counts): one range exchange ranks every language in parallel, " +
        "so the 90%-one-language crawl regime never funnels through a " +
        "single task (the q93 recipe generalized; exact equality vs " +
        "the window forms is spec-pinned under the total-order " +
        "contract).",
      AnalyticsQueries.q69NtileRank(spark, dir))

    section("q48_range_join — interval pair COUNT without the quadratic self-join",
      "The user_id-equi self-join evaluates |events_user|² candidates " +
        "inside one SMJ key group before the 60 s residual can drop " +
        "any — a bot user is a single-task quadratic. Because the " +
        "output is a COUNT it decomposes over the per-user time " +
        "order: q64's cumulative-difference machinery (zero-mass " +
        "probe rows at us+60 s, one monotone range-cumulative pass) " +
        "counts the strict-forward neighbors, a tiny per-(user, ts) " +
        "aggregate adds the tie pairs. Linear everywhere; " +
        "BASELINE.md (round 14) carries the A/B.",
      Queries.q48RangeJoin(spark, dir))

    section("q135_bounded_history — keep-last-N per user as a bounded-heap aggregate",
      "RankOps.boundedUserHistory rides Catalyst's CollectTopK: a " +
        "k-BOUNDED priority-queue buffer per key, map-side partial " +
        "combine, so a bot user's history is pruned to k per " +
        "partition BEFORE the shuffle and no task ever holds more " +
        "than k*partitions rows of one user. The window twin is " +
        "FASTER single-node (linear per-user sort, BASELINE.md r15 " +
        "A/B) - this shape is the bounded-task guarantee for the " +
        "crawl-scale bot that cannot sort in one task, the callable " +
        "form of the q40/q29 disposition.",
      Queries.q135BoundedHistory(spark, dir))

    section("q136_drift_windows — aggregate-first cumulative drift, one corpus pass",
      "The only corpus-sized stage is the map-side partial aggregate " +
        "down to (source, bucket) rows; the cumulative mean is a " +
        "MONOTONE running-sum window over those aggregate rows " +
        "(buckets per source, never documents), so the mega-key " +
        "window ban does not bite and the frame is the incremental " +
        "kind. Every row is final when its bucket completes - the " +
        "property Streams.streamingDriftMonitor exploits to emit " +
        "identical rows as watermarks close windows.",
      AuditQueries.q136DriftWindows(spark, dir))

    section("q137_drift_windows_ts — event-time twin of q136, same aggregate-first shape",
      "Tumbling wall-clock windows over events.ts instead of arrival " +
        "buckets: the corpus-sized stage is still one map-side " +
        "partial aggregate, down to (event_type, time window) rows; " +
        "the cumulative window is the same monotone running-sum over " +
        "aggregate rows (event_type is a 5-value dimension). This is " +
        "the batch/SQL door to streamingDriftMonitor's exact " +
        "semantics - same keying, same floor-div windows, same " +
        "inclusive cumulative drift.",
      AuditQueries.q137DriftWindowsTs(spark, dir))

    section("q94_semdedup — cluster-bounded pair space, broadcast centroids",
      "Centroids ride a BroadcastExchange into the scoring join (the " +
        "corpus never shuffles for scoring); the self-join shuffles by " +
        "cluster key only, so the pair space is sum(|cluster|^2) — the " +
        "SemDeDup cost model — and the dominance verdict is one " +
        "aggregation, no iterative components.",
      DedupQueries.q94SemDedup(spark, dir))

    section("q107_leakage_split — cluster labels broadcast, split stays row-local",
      "The near-dup component labels (dup-clusters-sized, not " +
        "corpus-sized) join the document scan as a BroadcastHashJoin; " +
        "the md5-nibble split itself is a pure projection, so the " +
        "corpus is scanned once and never shuffled for the assignment.",
      CurationQueries.q107LeakageSafeSplit(spark, dir))

    section("q108_padding_waste — every (lang,bucket) lane ranks in ONE range exchange",
      "RankOps.globalRowNumberPer range-partitions on (lane, toks desc, " +
        "doc_id) — a single rangepartitioning exchange ranks all lanes " +
        "in parallel (no per-lane single-task window), and the batch " +
        "rollup partial-aggregates map-side above it.",
      CurationQueries.q108PaddingWaste(spark, dir))

    section("q111_mixture_apply — rate table broadcasts, corpus never shuffles",
      "The per-source epoch rates derive from a vocabulary-sized " +
        "aggregate and broadcast back; the fact path is scan → " +
        "BroadcastHashJoin → row-local explode(sequence) — no exchange " +
        "carries document rows, and the fan-out per row is the planned " +
        "epoch factor.",
      CurationQueries.q111MixtureApply(spark, dir))

    section("q118_containment — shingle-key equi-join, df-capped",
      "Near-superset detection stays an equi-join on shingle keys (no " +
        "nested loop anywhere): the df window drops boilerplate " +
        "shingles BEFORE the self-join, bounding every bucket at cap² " +
        "pairs where q22's size-band prune cannot apply; documents " +
        "themselves never shuffle — only (doc_id, shingle) rows do.",
      DedupQueries.q118Containment(spark, dir))

    section("q119_maxsim — bounded partial aggregates, no corpus window",
      "Late-interaction MaxSim: the query chunks broadcast " +
        "(BroadcastNestedLoopJoin over 8 fixed rows); the per-" +
        "(query-chunk, doc) max and per-(query, doc) sum are partial " +
        "HashAggregates on tiny keys, and the per-query top-5 is the " +
        "bounded ObjectHashAggregate TopK — at no point does a corpus-" +
        "sized per-query Window appear.",
      RetrievalQueries.q119Maxsim(spark, dir))

    section("q118b_containment_prefix — rare-prefix candidates, melt verify",
      "The prefix filter joins only each doc's ⌊n/10⌋+1 RAREST shingles " +
        "(one doc_id-partitioned rank window) against the full table; " +
        "the exact verify melts candidate pairs to (pair, member) rows " +
        "so ONE doc_id equi-join attaches both capped shingle arrays — " +
        "no nested loop, no corpus-wide pair aggregation.",
      DedupQueries.q118bContainmentPrefix(spark, dir))

    section("q124_dedup_verdict — three resolutions, one verdict table",
      "The FINAL plan reads checkpoints only — no `Scan parquet` " +
        "anywhere (DedupShareSpec pins this with a listener: " +
        "documents.text materializes exactly twice across the whole " +
        "lineage, once for the shared shingle base both pair families " +
        "derive from, once for the (fp, q) doc-scalar frame). fp_keep " +
        "comes from a per-fp min PARTIAL aggregate joined back " +
        "merge-hinted — never min().over(Window.partitionBy(fp)), " +
        "which would funnel a viral byte-identical cluster through one " +
        "task (PlanRegressionSpec bans the fp window here as of r13; " +
        "BASELINE.md round 13 records the trade). The " +
        "cluster-member and subsumption verdicts are EXCEPTION SETS " +
        "(dup-cluster / pair-graph-sized) that LEFT-join the spine " +
        "broadcast — size-gated on counts their producers already know " +
        "(gateKnown / the corpus-bound victim gate), so no re-pin, no " +
        "count job, and a majority-duplicate corpus flips them to " +
        "sort-merge; non-members default row-locally via coalesce.",
      DedupQueries.q124DedupVerdict(spark, dir))

    section("q124b_dedup_verdict_banded — the verdict's 100 TB pair source",
      "Same verdict table, cluster edges from the BANDED source: q21b " +
        "double-hash LSH candidates (bucket-key self-join, never " +
        "all-pairs) -> candidate-bounded exact verify (the q100 melt " +
        "shape). The exact q22 self-join's per-bucket cost is df² with " +
        "df uncapped — crawl boilerplate makes it quadratic — while " +
        "every join here keys on band buckets or doc_id. Containment " +
        "victims / fp / quality stay exact; one exploded-shingle scan " +
        "feeds both the verify arrays and the df-capped victim view. " +
        "CurationRun rides this source above 1M docs.",
      DedupQueries.q124bDedupVerdictBanded(spark, dir))

    section("q125_eval_ci — n=1000 retrieval eval, still ONE job",
      "The 1000-query eval is the q98 protocol at scale: the query " +
        "side is a broadcast (BroadcastNestedLoopJoin over the bounded " +
        "query set), ranking is the bounded TopKAgg (<= k rows per " +
        "(task, query) cross the exchange — no corpus-sized per-query " +
        "window), and the CI aggregation is one final 1-row aggregate. " +
        "Query count scales the broadcast, not the job count.",
      RetrievalQueries.q125EvalCi(spark, dir))

    section("q126_containment_sketch — bottom-k probe, shared melt verify",
      "Each doc probes the capped shingle table with only its k " +
        "hash-smallest shingles (one doc_id-partitioned rank window " +
        "picks them); pairs are counted from sketch hits (plain count — " +
        "one-sided probing makes (pair, s) unique) and only hit-rich " +
        "pairs reach the exact melt verify. The df pass underneath is " +
        "the groupBy partial aggregate + join-back (ShinglePlanSpec: " +
        "no shingle-key window anywhere in the family).",
      DedupQueries.q126ContainmentSketch(spark, dir))

    section("q127_sketch_planner — analytic (k, minHits) design table",
      "Pure expression plan (no table scan): binomial tails via " +
        "sequence + aggregate lambdas inside WholeStageCodegen, one " +
        "tiny window for the per-k argmax. The table that makes a fixed " +
        "bottom-k (k, minHits) config measured policy.",
      DedupQueries.q127SketchPlanner(spark, dir))

    section("q112_expectations — the whole check suite in ONE scan",
      "Every declarative check compiles into a single " +
        "partial/final aggregate pair over one parquet scan (uniqueness " +
        "rides the same pass via Expand); the report unstacks " +
        "exchange-free above the 1-row aggregate.",
      AuditQueries.q112Expectations(spark, dir))

    section("q95 BPE round — corpus touched once, rounds are vocab-sized",
      "The only corpus-sized stage is the word-frequency aggregate; " +
        "every merge round explodes VOCABULARY rows (Zipf-bounded), " +
        "partial-aggregates map-side, and takes the argmax pair via " +
        "TakeOrderedAndProject. The plan below is one round's pair " +
        "count with its argmax; the merge applies through the codegen " +
        "bpe_merge_pass kernel, no UDF.",
      PipelineQueries.bpePairCounts(
        Tables.load(spark, dir, "documents")
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .select(col("freq"), expr(
            """concat(transform(sequence(1, length(w)),
              |  i -> substring(w, i, 1)), array('</w>'))""".stripMargin).as("sym")))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc).limit(1))

    section("q128 unigram EM round — one codegen Viterbi pass, piece-bounded agg",
      "The unigram-LM trainer's E-step: the Zipf-bounded distinct-word " +
        "table (pinned once per training run) flows through the codegen " +
        "unigram_segment Viterbi kernel — the trained vocab rides as a " +
        "plan constant, so there is NO join against a vocabulary table — " +
        "then a map-side partial aggregate collapses pieces to a " +
        "seed-bounded count table (the only collect the trainer does). " +
        "The plan below is one round over a fixed 3-piece vocab.",
      Tables.load(spark, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"), explode(graft.functions.gf.unigram_segment(
          col("w"), Seq("a" -> -1.0, "b" -> -2.0, "ab" -> -0.5))).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt")))

    section("q133_minhash_star — mega-cluster-safe candidate generation",
      "Per-bucket star pairing: the bucket minimum is a map-side PARTIAL " +
        "min aggregate (HashAggregate/partial_min below its exchange — " +
        "never a window over the corpus-skewed bucket key), joined back " +
        "to the exploded bands on the bucket equi-key. At this SF the " +
        "mins side is small enough to broadcast; at corpus scale its " +
        "measured (pinned-RDD) size flips the join to shuffle, which is " +
        "AQE-skew-splittable. Output distinct keeps its partial step. " +
        "Candidate volume is O(n x bands) regardless of the largest " +
        "near-identical cluster, where the all-pairs q21b form is " +
        "Theta(m^2) in it (BASELINE.md r13: 1.8e10 rows avoided at 10M).",
      DedupQueries.q133MinhashStar(spark, dir))

    section("q29_sessionize — keyed windows share one exchange",
      "lag + running-sum windows over the same (user_id; us, event_id) " +
        "ordering reuse a single hash-partitioned exchange.",
      PipelineQueries.q29Sessionize(spark, dir))

    section("q132_pack_sequences — per-language offsets without a corpus window",
      "The running token offsets ride RankOps.runningSumPer: ONE range " +
        "exchange on (lang, doc_id) over narrow (doc_id, lang, n) rows, " +
        "a (_pid, lang)-local accumulation window (groups bounded by the " +
        "PHYSICAL partition size, never by a mega-language's corpus " +
        "share), and a broadcast per-(partition, lang) carry join. " +
        "Offsets join back to the tokenized corpus on doc_id — the only " +
        "time text crosses the wire — and assembly groups on " +
        "sequence-sized (lang, seq_id) keys, map-side combined. " +
        "BASELINE.md r10: 2.2x over the window form at 10M docs / 90% " +
        "one language, widening with scale.",
      CurationQueries.packSequences(
        Tables.load(spark, dir, "documents"), 2048L))

    // IVF search over the partitioned index: partition pruning in action
    val e = Tables.load(spark, dir, "embeddings")
    val (indexed, model) = graft.index.IvfIndex.build(e, "embedding",
      graft.index.IvfIndex.Params(listSize = 100, sampleSize = 1000))
    val idxPath = Files.createTempDirectory("ivf_idx").toString
    graft.index.IvfIndex.write(indexed, idxPath)
    val onDisk = spark.read.parquet(idxPath)
    val query = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    section("IVF nprobe search over partitionBy(centroid_id) index — partition pruning",
      "The centroid_id IN (...) probe filter is a PartitionFilters entry: " +
        "only the probed list directories are read (at 10k-vector lists, " +
        "nprobe/k of the corpus), the rest never leave storage.",
      graft.index.IvfIndex.search(onDisk, model, "vec_id", "embedding", query, 10, 2))

    // the SQL front door: vector_search table function resolves to the
    // same pruned plan with no Scala in the query
    val qIdxPath = Files.createTempDirectory("ivf_qidx").toString
    val qModelPath = Files.createTempDirectory("ivf_qmodel").toString
    graft.index.IvfIndex.writeQuantized(indexed, "embedding", qIdxPath)
    graft.index.IvfIndex.saveModel(spark, model, qModelPath)
    section("vector_search(...) SQL table function — same pruned plan, zero Scala",
      "`SELECT * FROM vector_search(idx, model, 'text', 10, 2)` resolves " +
        "at analysis time to the quantized searchQuantized plan: the " +
        "probe filter is a PartitionFilters entry on the parquet scan " +
        "(only probed lists read), the fused quantized-cosine kernel " +
        "scores in whole-stage codegen, TakeOrderedAndProject keeps the " +
        "top-k streaming-partial.",
      spark.sql(s"SELECT * FROM vector_search('$qIdxPath', '$qModelPath', " +
        "'plans probe query', 10, 2)"))

    // DSv2 binary connector: pruning happens inside the connector (the
    // BatchScan's GraftIvfScan description lists the probed ids)
    val binPath = Files.createTempDirectory("ivf_bin").toString
    graft.sources.IvfBinarySource.write(indexed, "vec_id", "embedding", binPath)
    section("DSv2 binary index scan — connector-level list pruning + column pruning",
      "BatchScan carries GraftIvfScan with lists=[...] (the pushed " +
        "centroid_id filter; non-probed list dirs are never planned) and " +
        "cols=vec_id,qvec (centroid_id pruned out of the read schema).",
      graft.sources.IvfBinarySource.search(spark, binPath, model, query, 10, 2))

    section("DSv2 binary index COUNT/MIN/MAX — complete aggregate pushdown",
      "Per-list counts are answered from file sizes and vec_id extremes " +
        "from the name-encoded zone maps, all at plan time: the scan is " +
        "GraftIvfAggScan emitting one row per list and NO aggregate exec " +
        "survives above it (complete pushdown; fixed-width rows make " +
        "count a pure metadata computation, and the sealed id ranges are " +
        "exact, not estimates).",
      spark.read.format(graft.sources.IvfBinarySource.FORMAT).load(binPath)
        .groupBy("centroid_id").agg(count(lit(1)).as("n"),
          min("vec_id").as("lo"), max("vec_id").as("hi")))

    // runtime V2 filtering: a selective join hands the scan its observed
    // keys — the dim must be storage-backed (a folded LocalRelation has
    // no selective Filter for PartitionPruning to see)
    val dimP = Files.createTempDirectory("plans_dim").toString
    indexed.select("centroid_id").distinct().limit(64)
      .withColumn("tag", when(col("centroid_id") % 7 === 0, "hot").otherwise("cold"))
      .write.mode("overwrite").parquet(dimP)
    val rtJoined = spark.read.format(graft.sources.IvfBinarySource.FORMAT)
      .load(binPath).select("vec_id", "centroid_id")
      .join(spark.read.parquet(dimP).filter(col("tag") === "hot"), "centroid_id")
    rtJoined.collect() // execute: the runtime IN reaches the scan
    section("DSv2 runtime filtering — a join's observed keys prune lists",
      "RuntimeFilters carries the dynamicpruning subquery; after " +
        "execution the scan's description shows lists narrowed to the " +
        "build side's hot keys — no application-level collect step " +
        "(SupportsRuntimeV2Filtering; a vec_id IN likewise tightens the " +
        "zone-map window).",
      rtJoined)

    // storage-partitioned two-index audit: confs must be live while the
    // physical plan materializes (queryExecution is lazy), so force it
    // before resetting them
    Seq("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
      .foreach { case (k, v) => spark.conf.set(k, v) }
    val diffDf = graft.operators.IvfMaintenance.indexDiff(spark, binPath, binPath)
    diffDf.queryExecution.executedPlan
    section("IvfMaintenance.indexDiff — two indexes cogrouped per list",
      "With v2 bucketing and requireAllClusterKeysForCoPartition=false " +
        "both GraftIvfScans' KeyGroupedPartitioning satisfies the " +
        "full-outer join directly: no Exchange below the join, each task " +
        "reads one list's files from each index; the only Exchange moves " +
        "per-list partial counters.",
      diffDf)
    Seq("spark.sql.requireAllClusterKeysForCoPartition",
      "spark.sql.autoBroadcastJoinThreshold").foreach(spark.conf.unset)
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"[plans] wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
