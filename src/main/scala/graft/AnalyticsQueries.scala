package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.gf

/** Round-4 analytics operators closing the remaining relational-surface
  * gaps (set difference/intersection, RANGE window frames, argmax
  * aggregates, covariance-family statistics) plus two corpus-curation
  * signals (cross-doc repeated spans, token frequency spectrum). Every
  * query carries an exact DuckDB oracle.
  *
  * Scale notes per query; the common rule: explodes aggregate immediately
  * (map-side partial combine), windows partition on high-cardinality keys
  * (user_id / doc_id), and the only corpus-sized join (q63) shuffles on
  * the span key — never on documents.
  */
object AnalyticsQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    // kernel-heavy consumers: give single-row-group scans a parallelism
    // floor (Tables.loadP) so per-doc expression work spreads across cores
    if (name == "documents" || name == "embeddings") Tables.loadP(s, dir, name)
    else Tables.load(s, dir, name)

  /** Set intersection / difference over (lang, source) combinations of the
    * even vs odd doc_id halves — the INTERSECT/EXCEPT surface (§2.6 had
    * only union). Both operators are distinct-based: one shuffle each on
    * the full (lang, source) tuple, tiny result. */
  def q62Setops(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val even = d.filter(col("doc_id") % 2 === 0).select("lang", "source")
    val odd = d.filter(col("doc_id") % 2 === 1).select("lang", "source")
    even.intersect(odd).withColumn("tag", lit("both"))
      .unionByName(even.except(odd).withColumn("tag", lit("even_only")))
      .unionByName(odd.except(even).withColumn("tag", lit("odd_only")))
  }

  /** Cross-document repeated-span signal (the exact-substring-dedup shape
    * of Lee et al. 2021 at 8-token granularity): per document, how many of
    * its distinct 8-token spans also appear in another document, and the
    * fraction. The span-frequency table is corpus-sized, so the join
    * shuffles on the span key (bounded groups) — the documents themselves
    * never shuffle. */
  def q63SpanDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // NOT checkpointed although two branches read it: the exploded span
    // stream is a multiple of the corpus's text bytes, and materializing
    // it costs more memory than recomputing the kernel (same reasoning as
    // q47's trigram stream — at scale the materialization is strictly
    // worse; the kernel runs twice, bounded per pass)
    val sh = docs
      .select(col("doc_id"), explode(array_distinct(gf.shingles(col("text"), 8))).as("s"))
    // (doc_id, s) is distinct after array_distinct, so count(*) == doc df
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val per = sh.join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(coalesce(col("n_shared") / col("n_spans"), lit(0.0)), 4).as("shared_frac"))
  }

  /** Span-dedup REWRITE — the removal step q63 only signals (the
    * "drop the duplicated substring, keep the first occurrence" rewrite
    * of Lee et al. 2021 §3, at non-overlapping 8-token-chunk
    * granularity; cf. reference compute semantics only — the reference
    * has no corpus rewriter, this is a pipeline extension). Each doc is
    * cut into consecutive 8-token chunks (last chunk may be shorter); a
    * chunk is REMOVED when an identical chunk occurs earlier in
    * (doc_id, idx) corpus order; the kept chunks are reassembled in
    * position order as the cleaned text.
    *
    * Scale shape: corpus text crosses the wire ONCE — the
    * first-occurrence verdict is a min-struct AGGREGATE on the chunk
    * key joined back (the q105/verdict-spine pattern, plan details at
    * [[spanRemovals]]: md5-keyed shared exchange, dup-only keeper
    * side), NEVER `row_number().over(Window.partitionBy(c))`: a viral
    * boilerplate chunk (license header, nav text — the exact repeats
    * this rewrite exists to remove) appears in millions of docs,
    * making one window partition corpus-scale — single-task buffered
    * sort, no map-side combine, no AQE skew split; the aggregate
    * STREAMS the hot key instead.
    * BASELINE.md's round-14 span/rank table measures both shapes on
    * a planted viral chunk; PlanRegressionSpec's window-key allowlist
    * bans the window form registry-wide. Removal verdicts come back as
    * per-doc int arrays over a doc_id shuffle, and the cleaned text is
    * rebuilt ROW-LOCALLY from a second colocated scan of the doc
    * (q47/q57 recompute-over-materialize policy: re-chunking a doc is
    * cheaper than shuffling its text a second time through a
    * collect_list). No all-pairs step anywhere; removal is exact, not
    * hash-approximate, because the chunk string itself is the key. */
  def q82SpanRewrite(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = when(length(trim(col("text"))) === 0,
        expr("cast(array() as array<string>)"))
      .otherwise(split(trim(lower(col("text"))), "\\s+"))
    val withChunks = docs.select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        when(size(col("t")) === 0, expr("cast(array() as array<string>)"))
          .otherwise(expr(
            """transform(sequence(0, cast((size(t) - 1) / 8 as int)),
              |  i -> array_join(slice(t, i * 8 + 1, 8), ' '))""".stripMargin))
          .as("ch"))
    // branch 1: first-occurrence verdicts over the exploded chunk stream
    val exploded = withChunks
      .select(col("doc_id"), posexplode(col("ch")).as(Seq("idx", "c")))
    val removed = spanRemovals(exploded)
    // branch 2: rebuild the cleaned text row-locally from the chunk array
    withChunks.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ch")).cast("bigint").as("n_chunks"),
        coalesce(size(col("rem")), lit(0)).cast("bigint").as("n_removed"),
        array_join(expr(
          "filter(ch, (x, i) -> NOT coalesce(array_contains(rem, i), false))"),
          " ").as("text_kept"))
  }

  /** [[q82SpanRewrite]]'s first-occurrence removal verdicts over an
    * exploded (doc_id, idx, c) chunk stream: per doc, the sorted idx
    * array of chunks whose identical `c` occurs earlier in (doc_id,
    * idx) corpus order. The window-free shape (min-struct aggregate +
    * merge join-back — see q82's scaladoc for the mega-key rationale);
    * `c` is non-null by construction (array_join output), so the
    * equi-join drops nothing. */
  private def spanRemovals(exploded: DataFrame): DataFrame = {
    // ONE exchange for the whole verdict, three tricks stacked:
    //   1. key on the chunk's 16-byte md5 fingerprint, not the ~60-byte
    //      chunk string — at crawl scale the key bytes ARE the shuffle
    //      (q18/q77 convention; collision odds ~2⁻⁶⁴ per pair, the
    //      same asterisk every fp-keyed keep-one in the repo carries);
    //   2. an explicit repartition(h) that BOTH branches read — the
    //      min aggregate needs no further exchange (the partitioning
    //      satisfies its distribution) and the join-back probe side
    //      none either, so ReuseExchange makes the explode/chunk
    //      kernel run ONCE (a plain groupBy + join ran it twice: the
    //      aggregate's partial step makes its exchange carry combined
    //      rows the probe side cannot reuse — measured ~2× the window
    //      form at 5M docs before this);
    //   3. `firsts` keeps only DUPLICATED chunks (count ≥ 2): a unique
    //      chunk cannot produce a removal, so the inner join-back's
    //      build side is dup-cluster-sized (usually tiny — AQE picks
    //      broadcast at runtime), not corpus-sized.
    // The viral chunk's rows land in one shuffle partition, but both
    // consumers STREAM it: the hash aggregate collapses the hot key to
    // one buffered row and the join probes linearly — no buffered
    // sort anywhere (the window form's single-task sort was the ban).
    val keyed = exploded.select(col("doc_id"), col("idx"),
        unhex(md5(col("c"))).as("h"))
      .repartition(col("h"))
    val firsts = keyed.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("m"),
        count(lit(1)).as("_n"))
      .filter(col("_n") > 1).drop("_n")
    keyed.join(firsts, "h")
      .filter(!(struct(col("doc_id"), col("idx")) <=> col("m")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("idx"))).as("rem"))
  }

  /** Targeted DECONTAMINATION rewrite — q82's chunk-removal machinery
    * aimed at benchmark leakage instead of self-duplication (the
    * PaLM/GPT-4 report shape: cut the overlapping span, keep the rest of
    * the training document — dropping whole docs, q130's rule, wastes
    * the clean 95% of a long page that quotes one eval example). Corpus
    * documents (doc_id ≥ 10) are cut into consecutive 8-token chunks
    * (q82's granularity); a chunk is REMOVED when it appears anywhere in
    * a benchmark document (doc_id < 10) — membership is tested against
    * the benchmark's OVERLAPPING 8-token shingles, so a corpus chunk
    * matching at any alignment inside the benchmark text is caught, not
    * only chunks that start on the benchmark's own 8-token boundaries.
    * Kept chunks reassemble in position order; emits per-doc removal
    * counts plus the cleaned text (the oracle compares it byte-for-byte).
    *
    * Scale: the benchmark shingle set is suite-sized → broadcast; the
    * membership probe is a broadcast semi-join on the exploded corpus
    * chunk stream (corpus text never shuffles — the removal verdicts
    * come back as per-doc idx arrays over a doc_id-keyed aggregate,
    * q82's shape, and reassembly is row-local). One corpus scan. */
  def q131DecontaminateRewrite(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    decontaminateRewrite(docs.filter(col("doc_id") >= 10),
      docs.filter(col("doc_id") < 10))
  }

  /** The benchmark's deduplicated overlapping-8-shingle chunk set,
    * prepared ONCE for [[decontaminateRewrite]] — pinned (no per-probe
    * re-explode; the streaming gate probes it every micro-batch) and
    * counted (so the membership join can be size-gated). */
  final case class RewritePrep(chunks: DataFrame, nChunks: Long)

  /** Build a [[RewritePrep]] from an eval suite carrying (doc_id,
    * text). TextKernels.shingles semantics: a <8-token benchmark doc
    * contributes its whole text as one shingle — which is exactly the
    * chunk a short benchmark doc would leak as. */
  def prepareRewriteBench(bench0: DataFrame): RewritePrep = {
    import graft.operators.Pins.Pinned
    val chunks = bench0
      .select(explode(array_distinct(gf.shingles(col("text"), 8))).as("c"))
      .distinct()
      // hinted only through gateKnown under its own count (below) —
      // the registered size-gated discipline
      .pin("size-gated")
    RewritePrep(chunks, chunks.count())
  }

  /** [[q131DecontaminateRewrite]]'s rule over ARBITRARY frames — the
    * reusable seam [[graft.CurationRun]]'s rewrite-mode decontaminate
    * option composes against. `corpus` and `bench` must both carry
    * (doc_id, text); emits (doc_id, n_chunks, n_removed, text_kept).
    * Same plan as q131 — corpus text never shuffles — with the
    * benchmark chunk-set join SIZE-GATED rather than unconditionally
    * broadcast: the composed callers take the union of all eval suites
    * as `bench`, and a HELM-scale union's chunk set outgrows any
    * broadcast budget (the gate demotes it to sort-merge there).
    *
    * CONTRACT: `doc_id` must uniquely key the corpus rows — the removal
    * verdicts group by it, so duplicate ids (including 2+ NULL ids: the
    * null-safe join-back treats NULL as one ordinary key, exactly like
    * the groupBy) would merge their verdicts and cut each other's
    * chunks. The streaming gate guarantees uniqueness by keying each
    * arrival with a synthetic row id; batch callers key on the table's
    * primary key. A SINGLE null-id row is handled exactly.
    *
    * PIN NOTE: this convenience form pins the prepared suite
    * ([[prepareRewriteBench]]) AND the removal-verdict table
    * internally, with no release handle — the pinned blocks live until
    * the ContextCleaner GCs the plan (both tables are leak/suite-sized,
    * so the leak is bounded, but it accumulates across calls). A caller
    * invoking the rule repeatedly (a service, a per-batch loop) should
    * prepare the suite once and use the [[RewritePrep]] form — or
    * [[decontaminateRewritePinned]], which hands back the verdict pin
    * for explicit release after the result is materialized (the
    * streaming gate's pattern). */
  def decontaminateRewrite(corpus: DataFrame, bench0: DataFrame): DataFrame =
    decontaminateRewrite(corpus, prepareRewriteBench(bench0),
      graft.operators.DedupOps.BroadcastRowLimit)

  private[graft] def decontaminateRewrite(corpus: DataFrame,
      bench0: DataFrame, rowLimit: Long): DataFrame =
    decontaminateRewrite(corpus, prepareRewriteBench(bench0), rowLimit)

  /** [[decontaminateRewrite]] against a suite prepared once with
    * [[prepareRewriteBench]] — the per-micro-batch form the streaming
    * rewrite gate calls so the suite-side explode/pin/count never
    * re-runs. */
  def decontaminateRewrite(corpus: DataFrame, prep: RewritePrep,
      rowLimit: Long = graft.operators.DedupOps.BroadcastRowLimit)
      : DataFrame =
    decontaminateRewritePinned(corpus, prep, rowLimit)._1

  /** The corpus rows split into their 8-token chunk arrays — the shared
    * head of the detect stage and the join-back. */
  private def rewriteChunks(corpus: DataFrame): DataFrame = {
    val toks = when(length(trim(col("text"))) === 0,
        expr("cast(array() as array<string>)"))
      .otherwise(split(trim(lower(col("text"))), "\\s+"))
    corpus
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        when(size(col("t")) === 0, expr("cast(array() as array<string>)"))
          .otherwise(expr(
            """transform(sequence(0, cast((size(t) - 1) / 8 as int)),
              |  i -> array_join(slice(t, i * 8 + 1, 8), ' '))""".stripMargin))
          .as("ch"))
  }

  /** The DETECT stage of the rewrite rule, BEFORE its verdict pin: the
    * size-gated benchmark chunk-set join and the per-doc removal-index
    * aggregate, as a lazy frame — (`_rdid`, `rem`). Exposed
    * `private[graft]` as the PLAN-OBSERVABILITY seam:
    * [[decontaminateRewritePinned]] pins this frame eagerly
    * (localCheckpoint), so the gated `c`-keyed join executes during
    * DataFrame CONSTRUCTION and is structurally absent from the final
    * plan — a spec asserting broadcast-vs-sort-merge regimes must read
    * THIS stage's plan (`BroadcastGateSpec` does), not the result's. */
  private[graft] def rewriteDetect(corpus: DataFrame, prep: RewritePrep,
      rowLimit: Long = graft.operators.DedupOps.BroadcastRowLimit)
      : DataFrame =
    rewriteChunks(corpus)
      .select(col("doc_id"), posexplode(col("ch")).as(Seq("idx", "c")))
      .join(graft.operators.DedupOps.gateKnown(prep.chunks, prep.nChunks,
        rowLimit), "c")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("idx"))).as("rem"))
      .select(col("doc_id").as("_rdid"), col("rem"))

  /** [[decontaminateRewrite]] returning BOTH the result and the pinned
    * removal-verdict frame, so a caller that materializes the result
    * (a write, a collect) can release the pin's blocks immediately
    * afterwards ([[graft.operators.DedupOps.releaseCheckpoint]])
    * instead of waiting for plan GC — the streaming rewrite gate does
    * this per micro-batch, which is what keeps a thousand-batch
    * catch-up from accumulating a thousand resident verdict pins. */
  private[graft] def decontaminateRewritePinned(corpus: DataFrame,
      prep: RewritePrep,
      rowLimit: Long = graft.operators.DedupOps.BroadcastRowLimit)
      : (DataFrame, DataFrame) = {
    import graft.operators.Pins.Pinned
    val withChunks = rewriteChunks(corpus)
    // the removal-verdict table is leak-sized (one row per doc that
    // shares a chunk with the suite) — pin + count it so the join-back
    // can be size-gate-BROADCAST and never shuffles the corpus chunk
    // arrays: left un-hinted, the static plan sort-merges on the
    // null-safe key, and AQE then coalesces the tiny exchange to ONE
    // task that does every doc's text reassembly serially (measured
    // 10× on q131 before the hint). The pin is handed back to the
    // caller for release; the detect-stage plan it hides is asserted
    // separately via [[rewriteDetect]].
    val removed = rewriteDetect(corpus, prep, rowLimit).pin("size-gated")
    val removedG = graft.operators.DedupOps.gateKnown(removed,
      removed.count(), rowLimit)
    // null-SAFE join-back: a null-doc_id corpus row's removal verdict
    // groups under the null key like any window/groupBy would keep it,
    // and a plain using-join would silently DETACH it — coalescing
    // n_removed to 0 and KEEPING leaked text (the false-clean class the
    // r10 review fixed in RankOps/q105)
    val out = withChunks.join(removedG, col("doc_id") <=> col("_rdid"), "left")
      .select(col("doc_id"),
        size(col("ch")).cast("bigint").as("n_chunks"),
        coalesce(size(col("rem")), lit(0)).cast("bigint").as("n_removed"),
        array_join(expr(
          "filter(ch, (x, i) -> NOT coalesce(array_contains(rem, i), false))"),
          " ").as("text_kept"))
    (out, removed)
  }

  /** Z-order layout key per event ([[graft.operators.ZOrder]]): Morton
    * interleave of the bucketed (user, hour) dimensions, plus the
    * 2^14-granularity z-cell a layout compactor would bin rows into.
    * The key itself is what a 100 TB OPTIMIZE-ZORDER rewrite sorts on
    * (`ZOrder.cluster` — one range exchange); this query oracle-checks
    * the bit-spread ladder end to end, per row, against DuckDB's 64-bit
    * integer ops. Row-local (zero shuffles, zero UDFs — the whole
    * ladder is codegen'd shift/and/or). */
  def q84ZorderKey(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ZOrder
    t(s, dir, "events")
      .select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("u"),
        pmod(expr("unix_micros(ts) div 3600000000"), lit(65536L)).as("h"))
      .withColumn("zkey", ZOrder.morton2(col("u"), col("h")))
      .withColumn("zcell", shiftright(col("zkey"), 14))
  }

  /** Trailing-24h rolling count + sum per event (RANGE-frame semantics
    * over event time in microseconds — the frame type q29/q59's ROWS
    * frames don't cover; a range frame is tie-safe: equal timestamps
    * land in the same frame on both engines regardless of physical
    * order).
    *
    * NOT `sum().over(rangeBetween(-24h, 0))`: Spark's sliding
    * `WindowFunctionFrame` cannot RETRACT rows, so every frame move
    * re-aggregates the whole frame — Σ|frame| work per partition,
    * O(n·f) for a user with f events per 24h. A bot user turns one
    * task effectively quadratic: BASELINE.md's round-14 bot-user table
    * measures the sliding form at ~7× this shape at a 2% bot / ~6.6k-per-frame density
    * (38.8 vs 5.6 s at 10M events), growing unboundedly with frame
    * density — a denser corpus read 280+ s, and a 10%-bot run passed
    * 34 CPU-minutes in ONE task before being killed — where this
    * shape finishes the corpus in seconds in every regime. Instead
    * the rolling
    * aggregate is a CUMULATIVE DIFFERENCE over two monotone frames
    * (both incremental in Spark — UnboundedPreceding frames only ever
    * ADD rows): each event also emits a PROBE row at us − 24h − 1 μs;
    * one range-cumulative pass over the union gives the prefix
    * count/sum at every real and probe position (probes carry zero
    * mass, so tie order between them is immaterial); then
    * roll = C(us) − C(us − 24h − 1), reassembled per event_id. One
    * user_id exchange over 2n narrow rows + one event_id aggregate —
    * every stage linear and map-side-combinable where the sliding
    * form buffers and re-sums.
    *
    * The value sums run as SCALED LONGS: events.value is fixed-point
    * 2-dp by schema, so `round(value*100)` is an exact integer, the
    * prefix sums and their subtraction are exact in every regime
    * (counts already are longs), and the final `/100.0` re-scale is a
    * single rounding of an exact rational — no float-cancellation
    * caveat, at zero plan cost. */
  def q64RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("v100"))
    val real = ev.select(col("event_id"), col("user_id"), col("us"),
      col("v100"), lit(1L).as("cnt"), lit(0).as("is_probe"))
    val probes = ev.select(col("event_id"), col("user_id"),
      (col("us") - 86400000001L).as("us"),
      lit(0L).as("v100"), lit(0L).as("cnt"), lit(1).as("is_probe"))
    // RANGE unbounded-preceding..current: includes ALL rows tied at
    // the current us (frame grows monotonically → incremental)
    val cum = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    real.unionByName(probes)
      .withColumn("c_cnt", sum("cnt").over(cum))
      .withColumn("c_sum", sum("v100").over(cum))
      .groupBy("event_id")
      .agg(first(col("user_id")).as("user_id"),
        (max(when(col("is_probe") === 0, col("c_cnt"))) -
          max(when(col("is_probe") === 1, col("c_cnt")))).as("roll_cnt"),
        round((max(when(col("is_probe") === 0, col("c_sum"))) -
          max(when(col("is_probe") === 1, col("c_sum"))))
          .cast("double") / 100.0, 4).as("roll_sum"))
      .select("event_id", "user_id", "roll_cnt", "roll_sum")
  }

  /** Token frequency-of-frequencies (the Zipf/Good-Turing spectrum a
    * tokenizer-vocab or smoothing pass reads): for each occurrence count,
    * how many distinct token types have it. Two stacked aggregations, both
    * with map-side partial combine; output is spectrum-sized. */
  def q65ZipfSpectrum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .groupBy("freq").agg(count(lit(1)).as("n_types"))

  /** Argmax aggregates (max_by/min_by): per user, the event type of the
    * highest-value event and of the earliest event. Struct ordering keys
    * make the tie-break explicit ((value, event_id) lexicographic), so the
    * result is deterministic across engines. One partial-agg groupBy —
    * the window-free way to answer "row of the max" at scale. */
  def q66EventArgmax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(
        max_by(col("event_type"), struct(col("value"), col("event_id"))).as("top_type"),
        round(max("value"), 4).as("top_value"),
        min_by(col("event_type"), struct(col("us"), col("event_id"))).as("first_type"))

  /** Covariance-family statistics per event type: correlation, population
    * covariance and the least-squares slope of value against event day.
    * Small-magnitude day index keeps the co-moment arithmetic identical
    * across engines at 4 decimal places. Single scan, 5-group output. */
  def q67EventCorr(s: SparkSession, dir: String): DataFrame = {
    val day = (unix_micros(col("ts")).cast("double") / 86400000000.0)
    t(s, dir, "events")
      .select(col("event_type"), col("value"), floor(day).cast("double").as("day"))
      .groupBy("event_type")
      .agg(
        round(corr(col("value"), col("day")), 4).as("v_day_corr"),
        round(covar_pop(col("value"), col("day")), 4).as("v_day_covar"),
        // zero day-variance (single-day group) must be NULL on BOTH
        // engines: unguarded, Spark's non-ANSI division yields NULL while
        // DuckDB's IEEE double division yields inf — a hash mismatch
        round(when(var_pop(col("day")) =!= 0.0,
          covar_pop(col("value"), col("day")) / var_pop(col("day"))), 4)
          .as("slope"))
  }

  /** GROUPING SETS with mixed set shapes (the lattice q39's rollup and
    * q51's cube can't express: an arbitrary subset of margins in one
    * pass). grouping_id tags which margin each row belongs to. One shuffle
    * on the expanded grouping keys, partial agg map-side. */
  def q68GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))

  /** Distribution ranks (ntile / percent_rank / cume_dist) over
    * document length per language — the quantile-band assignment a
    * curriculum or balanced-sampling pass uses.
    *
    * NOT `ntile(10).over(Window.partitionBy(lang))`: lang is the
    * repo's canonical mega-key (BASELINE.md's round-10 packing corpus
    * is 90% English — one language = one window partition = one task
    * sorting 90% of the corpus). [[graft.operators.RankOps.distributionRanksPer]]
    * computes all three functions arithmetically from one range
    * exchange + broadcast per-lang counts (the q93 recipe); the
    * doc_id tie-break makes the order total, which is exactly the
    * contract under which the arithmetic forms equal the window forms
    * (RankOpsSpec pins the equality; the DuckDB oracle here runs the
    * real window functions). */
  def q69NtileRank(s: SparkSession, dir: String): DataFrame =
    graft.operators.RankOps.distributionRanksPer(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", Seq(col("n_chars").asc, col("doc_id").asc),
        10, "decile", "_pr", "_cd")
      .withColumn("pr", round(col("_pr"), 4))
      .withColumn("cd", round(col("_cd"), 4))
      .select("doc_id", "lang", "decile", "pr", "cd")

  /** Unpivot/melt (the inverse of q50's pivot): four lineitem measures
    * into (measure, value) rows, re-aggregated per measure. Unpivot is a
    * zero-shuffle row-local expansion; the only exchange is the final
    * 4-group aggregate. */
  def q70Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .unpivot(Array.empty, Array(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax")), "measure", "v")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("total"),
        round(min("v"), 2).as("mn"), round(max("v"), 2).as("mx"))

  /** Per-vector statistics via higher-order array functions ONLY
    * (aggregate / filter / transform / array_max — all codegen'd
    * builtins, zero UDFs): L2 norm, positive-lane count, max |x|. The
    * row-local shape every embedding-hygiene pass (norm clipping, dead
    * lane detection) uses; embarrassingly parallel, no shuffle at all. */
  def q71VectorHof(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        round(sqrt(expr(
          "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")),
          4).as("l2"),
        expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
        round(expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"),
          4).as("max_abs"))

  /** Sliding event-time windows in BATCH (10-minute windows every 5
    * minutes — the overlapping-window operator q12's tumbling buckets and
    * the streaming `windowedEventStats` don't cover): per (window,
    * event_type), event count and value sum. Spark's `window()` expands
    * each row into its ⌈size/slide⌉ windows row-locally, then one
    * partial-agg shuffle on (window, type) — no self-join. Emitted as
    * epoch micros so timestamp rendering never enters the hash. */
  def q72SlidingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
      .select(unix_micros(col("w.start")).as("wstart_us"), col("event_type"),
        col("n"), col("sv"))

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q72_sliding_window" -> q72SlidingWindow _,
    "q68_grouping_sets" -> q68GroupingSets _,
    "q69_ntile_rank" -> q69NtileRank _,
    "q70_unpivot" -> q70Unpivot _,
    "q71_vector_hof" -> q71VectorHof _,
    "q62_setops" -> q62Setops _,
    "q63_span_dedup" -> q63SpanDedup _,
    "q82_span_rewrite" -> q82SpanRewrite _,
    "q131_decontaminate_rewrite" -> q131DecontaminateRewrite _,
    "q84_zorder_key" -> q84ZorderKey _,
    "q64_rolling_window" -> q64RollingWindow _,
    "q65_zipf_spectrum" -> q65ZipfSpectrum _,
    "q66_event_argmax" -> q66EventArgmax _,
    "q67_event_corr" -> q67EventCorr _
  )

  val oracle: Map[String, String] = Map(
    // every event lies in exactly two 10-min/5-min-slide windows: the one
    // starting at its floored 5-min mark and the one 5 min earlier
    "q72_sliding_window" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS us, event_type, value FROM events),
        |w AS (
        |  SELECT (us // 300000000) * 300000000 AS wstart_us, event_type, value
        |  FROM e
        |  UNION ALL
        |  SELECT (us // 300000000) * 300000000 - 300000000, event_type, value
        |  FROM e)
        |SELECT wstart_us, event_type, count(*) AS n,
        |  round(sum(value), 4) AS sv
        |FROM w GROUP BY 1, 2""".stripMargin,
    "q71_vector_hof" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
        |  round(list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))), 4) AS max_abs
        |FROM embeddings""".stripMargin,
    "q70_unpivot" ->
      """WITH u AS (
        |  UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax
        |           FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME measure VALUE v)
        |SELECT measure, count(*) AS n, round(sum(v), 2) AS total,
        |  round(min(v), 2) AS mn, round(max(v), 2) AS mx
        |FROM u GROUP BY measure""".stripMargin,
    "q68_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), ())""".stripMargin,
    "q69_ntile_rank" ->
      """SELECT doc_id, lang,
        |  CAST(ntile(10) OVER w AS INT) AS decile,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC)""".stripMargin,
    "q62_setops" ->
      """WITH e AS (SELECT lang, source FROM documents WHERE doc_id % 2 = 0),
        |     o AS (SELECT lang, source FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, source, 'both' AS tag
        |  FROM (SELECT * FROM e INTERSECT SELECT * FROM o)
        |UNION ALL
        |SELECT lang, source, 'even_only' AS tag
        |  FROM (SELECT * FROM e EXCEPT SELECT * FROM o)
        |UNION ALL
        |SELECT lang, source, 'odd_only' AS tag
        |  FROM (SELECT * FROM o EXCEPT SELECT * FROM e)""".stripMargin,
    "q63_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |shl AS (
        |  SELECT doc_id, CASE
        |    WHEN len(t) >= 8 THEN
        |      [array_to_string(t[i:i+7], ' ') FOR i IN generate_series(1, len(t)-7)]
        |    WHEN len(t) >= 1 THEN [array_to_string(t, ' ')]
        |    ELSE [] END AS sl
        |  FROM toks),
        |sh AS (SELECT DISTINCT doc_id, unnest(sl) AS s FROM shl),
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |per AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
        |  FROM sh JOIN df USING (s) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_spans, 0) AS n_spans,
        |  coalesce(n_shared, 0) AS n_shared,
        |  round(coalesce(n_shared * 1.0 / n_spans, 0.0), 4) AS shared_frac
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,
    "q82_span_rewrite" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |ix AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, CAST((len(t) - 1) // 8 AS INT))) AS idx
        |  FROM toks WHERE len(t) > 0),
        |ch AS (
        |  SELECT doc_id, idx,
        |    array_to_string(t[(idx * 8 + 1):(idx * 8 + 8)], ' ') AS c
        |  FROM ix),
        |rk AS (
        |  SELECT doc_id, idx, c,
        |    row_number() OVER (PARTITION BY c ORDER BY doc_id, idx) AS rn
        |  FROM ch),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    string_agg(CASE WHEN rn = 1 THEN c END, ' ' ORDER BY idx) AS kept
        |  FROM rk GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_chunks, 0) AS n_chunks,
        |  coalesce(n_removed, 0) AS n_removed,
        |  coalesce(kept, '') AS text_kept
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q131_decontaminate_rewrite" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS t
        |  FROM documents),
        |bsl AS (
        |  SELECT CASE
        |    WHEN len(t) >= 8 THEN
        |      [array_to_string(t[i:i+7], ' ') FOR i IN generate_series(1, len(t)-7)]
        |    WHEN len(t) >= 1 THEN [array_to_string(t, ' ')]
        |    ELSE [] END AS sl
        |  FROM toks WHERE doc_id < 10),
        |bench AS (SELECT DISTINCT unnest(sl) AS bc FROM bsl),
        |corp AS (SELECT doc_id, t FROM toks WHERE doc_id >= 10),
        |ix AS (
        |  SELECT doc_id, t,
        |    unnest(generate_series(0, CAST((len(t) - 1) // 8 AS INT))) AS idx
        |  FROM corp WHERE len(t) > 0),
        |ch AS (
        |  SELECT doc_id, idx,
        |    array_to_string(t[(idx * 8 + 1):(idx * 8 + 8)], ' ') AS c
        |  FROM ix),
        |mk AS (
        |  SELECT ch.doc_id, ch.idx, ch.c,
        |    (bench.bc IS NOT NULL) AS hit
        |  FROM ch LEFT JOIN bench ON ch.c = bench.bc),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_chunks,
        |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    string_agg(CASE WHEN NOT hit THEN c END, ' ' ORDER BY idx) AS kept
        |  FROM mk GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_chunks, 0) AS n_chunks,
        |  coalesce(n_removed, 0) AS n_removed,
        |  coalesce(kept, '') AS text_kept
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        |LEFT JOIN agg USING (doc_id)""".stripMargin,
    "q84_zorder_key" ->
      """WITH e AS (
        |  SELECT event_id,
        |    user_id % 65536 AS u,
        |    ((epoch_ns(ts) // 1000) // 3600000000) % 65536 AS h
        |  FROM events),
        |s1 AS (SELECT event_id, u, h,
        |    (u | (u << 8)) & 16711935 AS ua,
        |    (h | (h << 8)) & 16711935 AS ha FROM e),
        |s2 AS (SELECT event_id, u, h,
        |    (ua | (ua << 4)) & 252645135 AS ua,
        |    (ha | (ha << 4)) & 252645135 AS ha FROM s1),
        |s3 AS (SELECT event_id, u, h,
        |    (ua | (ua << 2)) & 858993459 AS ua,
        |    (ha | (ha << 2)) & 858993459 AS ha FROM s2),
        |s4 AS (SELECT event_id, u, h,
        |    (ua | (ua << 1)) & 1431655765 AS ua,
        |    (ha | (ha << 1)) & 1431655765 AS ha FROM s3)
        |SELECT event_id, u, h,
        |  (ua | (ha << 1)) AS zkey,
        |  (ua | (ha << 1)) >> 14 AS zcell
        |FROM s4""".stripMargin,
    "q64_rolling_window" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, value FROM events)
        |SELECT event_id, user_id,
        |  count(*) OVER w AS roll_cnt,
        |  round(sum(value) OVER w, 4) AS roll_sum
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q65_zipf_spectrum" ->
      """WITH tk AS (
        |  SELECT tok FROM (
        |    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |    FROM documents WHERE length(trim(text)) > 0)
        |  WHERE length(tok) > 0),
        |uni AS (SELECT tok, count(*) AS freq FROM tk GROUP BY tok)
        |SELECT freq, count(*) AS n_types FROM uni GROUP BY freq""".stripMargin,
    "q66_event_argmax" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_ns(ts) // 1000 AS us
        |  FROM events),
        |tv AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id DESC) AS rn,
        |    max(value) OVER (PARTITION BY user_id) AS mx
        |  FROM e),
        |ft AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us ASC, event_id ASC) AS rn
        |  FROM e)
        |SELECT t.user_id, t.event_type AS top_type,
        |  round(t.mx, 4) AS top_value, f.event_type AS first_type
        |FROM (SELECT user_id, event_type, mx FROM tv WHERE rn = 1) t
        |JOIN (SELECT user_id, event_type FROM ft WHERE rn = 1) f USING (user_id)""".stripMargin,
    "q67_event_corr" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    CAST(floor((epoch_ns(ts) // 1000) / 86400000000.0) AS DOUBLE) AS day
        |  FROM events)
        |SELECT event_type,
        |  round(corr(value, day), 4) AS v_day_corr,
        |  round(covar_pop(value, day), 4) AS v_day_covar,
        |  round(CASE WHEN var_pop(day) <> 0
        |    THEN covar_pop(value, day) / var_pop(day) END, 4) AS slope
        |FROM e GROUP BY event_type""".stripMargin
  )
}
