package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Pins.Pinned

/** Exact global ranking without the single-partition window.
  *
  * `Window.orderBy(...)` with no partition key moves the whole input to
  * one task — the classic scale cliff (WindowExec even warns). The exact
  * distributed alternative built here is ONE lazy plan, no driver
  * actions:
  *
  *   1. range-partition on the order (the same shuffle a global sort
  *      pays — partition i's rows all precede partition i+1's),
  *   2. per-partition `row_number` — a LOCAL window keyed by
  *      `spark_partition_id`, no second exchange,
  *   3. add each partition's global offset, computed by a tiny
  *      per-partition count aggregate over the pinned ranked rows,
  *      joined back as a broadcast; its cumulative window runs over
  *      ≤ shuffle-partitions rows — bounded by cluster parallelism,
  *      never by data.
  *
  * The previous shape (sorted.rdd.zipWithIndex) was exact too, but paid
  * a separate per-partition count JOB, left Tungsten for Row objects,
  * and re-encoded the frame — three avoidable costs per ranking that
  * dominated rank-heavy queries (q45: two rankings per run).
  *
  * Rows must be given a deterministic total order (break ties!) for
  * ranks to be reproducible.
  *
  * CORRECTNESS — the post-shuffle `ranged` frame is PINNED
  * (localCheckpoint) with its `_pid`/`_mono` columns MATERIALIZED. The
  * offsets branch and the main branch both consume `ranged`; without
  * the pin, correctness rests on an IMPLICIT invariant: if the physical
  * plan ever re-executes the exchange per consumer (no ReusedExchange —
  * AQE re-planning can do this), both executions must independently
  * land on identical partition layouts, which holds only while range
  * boundary sampling and AQE coalescing stay deterministic functions of
  * a deterministic input. A divergence would give the same row
  * different (_pid, _mono) per branch and the offsets equi-join would
  * silently drop or misrank rows. Pinning after the sort freezes the
  * partition ids and monos as DATA, so both branches read identical
  * rows BY CONSTRUCTION — the round-5 review flagged the implicit
  * invariant; this makes it structural. The cost is one
  * materialization of the ranked projection — so rank NARROW frames
  * (q45 ranks (doc_id, leg, key), ~24 bytes/row); measured at sf0.1
  * this is wall-clock-neutral vs the unpinned shape.
  */
object RankOps {

  /** Session conf: max rows the per-leg bookkeeping tables
    * ([[globalRowNumberPer]]/[[runningSumPer]] offsets ≈ legs +
    * partitions − 1 rows by range-partition contiguity,
    * [[distributionRanksPer]] sizes = legs rows) may reach before the
    * plan fails fast with a named error instead of collecting a
    * corpus-sized broadcast into the driver. Read at DataFrame
    * CONSTRUCTION time (inside the operator call), not at action time:
    * setting it after building a RankOps frame has no effect on that
    * frame — set it before constructing. */
  val MaxBroadcastRowsConf = "spark.graft.rankops.maxBroadcastRows"

  /** Default gate: orders of magnitude above any legitimate leg key
    * (lang × partitions ≈ 10⁴–10⁵ rows even on a 2000-executor
    * cluster) and well under the broadcast wall. */
  val MaxBroadcastRowsDefault = 4000000L

  /** LAZY leg-cardinality gate on a to-be-broadcast bookkeeping table:
    * the table's row count rides a `count(*)` window over ONE constant
    * partition (the gf.one_partition convention — bounded, the table
    * is legs + partitions − 1 rows whenever the legCol contract holds)
    * and the check is folded into `checkCol` itself, so the gate costs
    * NO second pass over the bookkeeping subplan. The r15 shape — a
    * separate count aggregate joined in as its own broadcast — had no
    * exchange reuse across the broadcast boundary, so the whole
    * offsets subplan (a scan of the pinned corpus frame) executed
    * TWICE per operator call: once under the gate count, once as the
    * join probe (measured as q45's 0.96 → 1.53 s r15 drift; r15
    * verdict finding #3). Folding the count into a window keeps ONE
    * bookkeeping pass and drops the gate join entirely.
    *
    * Fail-fast still holds: the raise_error rides a JOIN-KEY column
    * (`checkCol` must be one the caller's join condition references —
    * a payload column like `_off` is pruned away under a bare
    * `count()` and the guard silently vanishes with it), and the
    * single-partition window buffers its input EXECUTOR-side (spilling
    * if the contract is violated) before emitting its first row — so a
    * corpus-sized bookkeeping table dies with the named error before
    * one row reaches the driver collect the enclosing `broadcast()`
    * would otherwise run.
    *
    * VIOLATION-PATH COST (deliberate trade, r16): on a contract
    * violation the one-partition window first shuffles the whole —
    * potentially corpus-sized — bookkeeping table into ONE task and
    * spill-buffers it before the first raise_error row, where the r15
    * separate count aggregate failed after a cheap map-side-combined
    * count. The happy path pays for the failure path: the r15 shape
    * ran the bookkeeping subplan TWICE on every healthy call (the
    * measured q45 regression), while a violation is a caller bug hit
    * once, fixed once — so the single-pass window wins. If a
    * deployment sets the conf tight and expects violations routinely,
    * pre-gate with a cheap count on the caller side instead.
    *
    * NOTE: [[MaxBroadcastRowsConf]] is read HERE, at DataFrame
    * CONSTRUCTION time — setting the conf after a RankOps frame is
    * built has no effect on that frame; set it before constructing. */
  private def guardBroadcastRows(small: DataFrame, op: String,
      legCol: String, checkCol: String): DataFrame = {
    val max = small.sparkSession.conf
      .get(MaxBroadcastRowsConf, MaxBroadcastRowsDefault.toString).toLong
    val w = Window.partitionBy(graft.functions.gf.one_partition(col(small.columns.head)))
    small
      .withColumn("_gn", count(lit(1)).over(w))
      .withColumn(checkCol,
        when(col("_gn") <= max, col(checkCol))
          .otherwise(raise_error(concat(
            lit(s"[RankOps.$op] leg column '$legCol' produced "),
            col("_gn").cast("string"),
            lit(s" bookkeeping rows, over $MaxBroadcastRowsConf=$max: " +
              "legCol must be broadcast-bounded (lang/leg-grade " +
              "cardinality, not doc_id-grade) — the per-leg table is " +
              "collected to the driver and broadcast")))))
      .drop("_gn")
  }

  /** Appends `rankCol` = 1-based global row number under `order`.
    *
    * No window over the data: `row_number over (partition by _pid)`
    * would force a SECOND full exchange (hash by _pid) right after the
    * range shuffle, plus a redundant in-partition sort. Instead
    * `monotonically_increasing_id()` — sequential within a partition by
    * construction — is read off the already-sorted rows, and the local
    * index is `mono - min(mono in partition)`. The checkpoint freezes
    * (_pid, _mono) as data so the offsets branch and the main branch
    * see the same values by construction (see object scaladoc). */
  def globalRowNumber(df: DataFrame, order: Seq[Column], rankCol: String): DataFrame = {
    val ranged = df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mono", monotonically_increasing_id())
      .pin("rankops-ranked-rows") // correctness pin — see object scaladoc
    // constant partition key: the aggregate is ≤ shuffle-partitions rows,
    // so a single-partition window is the intended plan; the key only
    // suppresses the unpartitioned-window warning so it stays meaningful
    // for data-sized windows (PlanRegressionSpec bans empty specs)
    val offsets = ranged.groupBy("_pid")
      .agg(count(lit(1)).as("_cnt"), min("_mono").as("_base"))
      .withColumn("_off",
        coalesce(sum("_cnt").over(
          Window.partitionBy(graft.functions.gf.one_partition(col("_pid")))
            .orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("_pid", "_base", "_off")
    ranged
      .join(broadcast(offsets), "_pid")
      .withColumn(rankCol, col("_mono") - col("_base") + col("_off") + 1)
      .drop("_pid", "_mono", "_base", "_off")
  }

  /** Appends `rankCol` = 1-based row number under `order` computed
    * INDEPENDENTLY per value of `legCol` — n rankings for the price of
    * one wide exchange. Range-partitioning on (leg, order…) keeps each
    * leg's rows contiguous and ordered across partitions; a leg may
    * straddle a partition boundary, which the per-(partition, leg)
    * base/offset bookkeeping absorbs. The offsets aggregate is
    * partitions × legs rows — broadcast-sized — and its cumulative
    * window partitions BY LEG, so it never exceeds partition-count rows
    * per window. Use when several full-corpus rankings feed one
    * consumer (q45's RRF: lexical + vector legs), replacing k separate
    * shuffles and a k-way join with one shuffle and a groupBy.
    *
    * CARDINALITY CONTRACT: `legCol` must be broadcast-bounded (a
    * lang/source/leg-grade key) — the offsets table is legs +
    * partitions − 1 rows (range-partition contiguity: each leg spans
    * contiguous partitions) and is COLLECTED AND BROADCAST. A
    * doc_id-grade legCol would drag a corpus-sized table through the
    * driver; the plan fails fast with a named error past
    * [[MaxBroadcastRowsConf]] instead. */
  def globalRowNumberPer(df: DataFrame, legCol: String, order: Seq[Column],
      rankCol: String): DataFrame = {
    val fullOrder = col(legCol).asc +: order
    val ranged = df
      .repartitionByRange(fullOrder: _*)
      .sortWithinPartitions(fullOrder: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mono", monotonically_increasing_id())
      .pin("rankops-ranked-rows") // correctness pin — see object scaladoc
    val offsets = ranged.groupBy(col("_pid"), col(legCol))
      .agg(count(lit(1)).as("_cnt"), min("_mono").as("_base"))
      .withColumn("_off",
        coalesce(sum("_cnt").over(Window.partitionBy(legCol)
          .orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("_pid").as("_pidO"), col(legCol).as("_legO"),
        col("_base"), col("_off"))
    // null-SAFE leg equality: groupBy (like Window.partitionBy and SQL
    // PARTITION BY) treats NULL as one ordinary group, so the join back
    // must too — a plain using-join would silently DROP every null-leg
    // row (EqualTo(null, null) is null, not true)
    ranged
      .join(broadcast(guardBroadcastRows(offsets, "globalRowNumberPer", legCol, "_pidO")),
        col("_pid") === col("_pidO") && col(legCol) <=> col("_legO"))
      .withColumn(rankCol, col("_mono") - col("_base") + col("_off") + 1)
      .drop("_pid", "_pidO", "_legO", "_mono", "_base", "_off")
  }

  /** Appends ntile / percent_rank / cume_dist computed INDEPENDENTLY
    * per value of `legCol` — the distribution-rank window family
    * without per-leg windows. `ntile(n) over (partition by leg order
    * by …)` puts each leg in ONE window partition: on the repo's
    * canonical mega-key regime (BASELINE.md's 90%-English packing corpus) a
    * single task sorts 90% of the corpus. Here the ranking rides
    * [[globalRowNumberPer]] (one range exchange shared by all legs,
    * rows spread over all partitions) and all three functions are pure
    * arithmetic over (per-leg rank, broadcast per-leg count):
    *
    *   - ntile(n): the remainder rule — the first (cnt mod n) tiles
    *     get ⌈cnt/n⌉ rows, the rest ⌊cnt/n⌋ (the q93 recipe, oracled
    *     there against real ntile);
    *   - percent_rank = (rank − 1) / (cnt − 1), 0 when cnt = 1;
    *   - cume_dist = rank / cnt.
    *
    * CONTRACT: `order` must be a TOTAL order within each leg (break
    * ties — q69 appends doc_id). With ties, SQL rank ≠ row_number and
    * cume_dist counts peers, so the arithmetic forms would diverge
    * from the window forms; under a total order they are exactly
    * equal (RankOpsSpec pins equality on a skewed fixture). The
    * per-leg count join-back is null-safe for the same reason as
    * [[globalRowNumberPer]]'s offsets join. `legCol` inherits
    * [[globalRowNumberPer]]'s broadcast-bounded cardinality contract;
    * the `sizes` table here (one row per leg) is strictly smaller than
    * the offsets table that contract already gates, so the underlying
    * call's fail-fast covers this one too. */
  def distributionRanksPer(df: DataFrame, legCol: String,
      order: Seq[Column], nTiles: Int, tileCol: String, prCol: String,
      cdCol: String): DataFrame = {
    require(nTiles >= 1, s"nTiles must be >= 1, got $nTiles")
    val ranked = globalRowNumberPer(df, legCol, order, "_r")
    val sizes = ranked.groupBy(legCol).agg(count(lit(1)).as("_n"))
      .withColumnRenamed(legCol, "_legN")
    // ntile remainder rule (q93's expressions): _s = floor(cnt/n) may
    // be 0 when cnt < n — then the fat buckets hold every row and the
    // else-branch (which divides by _s) is never taken
    ranked.join(broadcast(sizes), col(legCol) <=> col("_legN"))
      .withColumn("_s", expr(s"_n div $nTiles"))
      .withColumn("_rem", col("_n") % nTiles)
      .withColumn(tileCol,
        when(col("_r") <= col("_rem") * (col("_s") + 1),
          expr("CAST(ceil(_r / CAST(_s + 1 AS DOUBLE)) AS INT)"))
        .otherwise(expr(
          "CAST(_rem + ceil((_r - _rem * (_s + 1)) / CAST(_s AS DOUBLE)) AS INT)")))
      .withColumn(prCol,
        when(col("_n") === 1, lit(0.0))
          .otherwise((col("_r") - 1).cast("double") / (col("_n") - 1)))
      .withColumn(cdCol, col("_r").cast("double") / col("_n"))
      .drop("_r", "_legN", "_n", "_s", "_rem")
  }

  /** Appends `outCol` = the inclusive running sum of `valCol` under
    * `order`, computed INDEPENDENTLY per value of `legCol` — the prefix
    * sum [[globalRowNumberPer]] is for COUNTS, generalized to an
    * arbitrary additive value (q132's per-language token offsets).
    *
    * A row number within a partition is derivable from `_mono` alone,
    * but a running SUM needs a real per-row accumulation — so this
    * shape pays one extra hash exchange for a LOCAL window keyed by
    * (_pid, leg): after the range partition on (leg, order…), every
    * (_pid, leg) group is bounded by the PHYSICAL partition size
    * (corpus / shuffle-partitions), never by the leg's share of the
    * corpus — a 60%-English crawl spreads across tasks exactly like a
    * uniform one. The cross-partition carry is the same tiny
    * per-(partition, leg) aggregate as the rank form: sum each
    * partition's leg subtotal, window it per leg over ≤
    * shuffle-partitions rows, broadcast it back. Rank NARROW frames
    * here too — the checkpoint pin and two exchanges carry every
    * column of `df`. `legCol` carries the same broadcast-bounded
    * cardinality contract (and [[MaxBroadcastRowsConf]] fail-fast) as
    * [[globalRowNumberPer]]. */
  def runningSumPer(df: DataFrame, legCol: String, order: Seq[Column],
      valCol: String, outCol: String): DataFrame = {
    val fullOrder = col(legCol).asc +: order
    val ranged = df
      .repartitionByRange(fullOrder: _*)
      .sortWithinPartitions(fullOrder: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mono", monotonically_increasing_id())
      .pin("rankops-ranked-rows") // correctness pin — see object scaladoc
    val offsets = ranged.groupBy(col("_pid"), col(legCol))
      .agg(sum(valCol).as("_s"))
      .withColumn("_off",
        coalesce(sum("_s").over(Window.partitionBy(legCol)
          .orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("_pid").as("_pidO"), col(legCol).as("_legO"), col("_off"))
    // local accumulation: the window partitions on (_pid, leg), so its
    // groups are partition-sized by construction (see scaladoc above)
    val local = Window.partitionBy(col("_pid"), col(legCol))
      .orderBy(col("_mono"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe leg equality — same rationale as globalRowNumberPer:
    // a using-join would drop null-leg rows the window forms keep
    ranged
      .join(broadcast(guardBroadcastRows(offsets, "runningSumPer", legCol, "_pidO")),
        col("_pid") === col("_pidO") && col(legCol) <=> col("_legO"))
      .withColumn(outCol, sum(valCol).over(local) + col("_off"))
      .drop("_pid", "_pidO", "_legO", "_mono", "_off")
  }

  /** Keep each key's `maxEvents` MOST RECENT rows — the callable form
    * of the bot-user disposition on q40/q29 ("pre-filter or TTL-bound
    * bot users at extreme density", BASELINE.md r14): cap a per-user
    * event history BEFORE feeding an ordered per-user traversal, so a
    * 10⁶-event bot contributes a bounded task instead of one huge one.
    *
    * Deliberately NOT a `row_number over (partition by user)` window
    * (the bot is still ONE unsplittable sort task — linear, but all of
    * it in one thread, growing without bound with the bot) and NOT
    * [[globalRowNumberPer]] (a user-grade legCol violates its
    * broadcast-bounded cardinality contract — the
    * [[MaxBroadcastRowsConf]] gate would rightly refuse). Instead the
    * top-k rides [[graft.functions.gf.collect_top_k]], a bounded-heap
    * aggregate: k-bounded buffer per key, map-side combinable, so a
    * hot user's rows are pre-pruned to k per partition IN THE MAP
    * STAGE and no task ever receives more than k·partitions rows for
    * one user — at any skew.
    *
    * Read the trade honestly (BASELINE.md's r15 bot-user A/B):
    * single-node at 10M events the window twin is FASTER in every
    * regime (1.3–1.5 s vs 3.0–3.8 s — per-user keep-last-N is a
    * linear sort, and even a 5M-row bot sorts trivially in one local
    * task); the heap's per-row buffer maintenance is a ~2.5× constant
    * there. What it buys is the bounded-task guarantee the window
    * cannot give: a crawl-scale bot (10⁹⁺ events at 100 TB) exceeds
    * any single task's sort capacity, while the heap form never
    * concentrates more than k·partitions of it anywhere — the q64
    * cumulative-shape trade class (bounded constant for an unbounded
    * worst case).
    *
    * Recency = (`tsCol`, `tieCol`) descending; the pair must be a
    * total order per user (pass a unique id as the tie-break) and both
    * columns must be orderable atomics. CONTRACT: the WHOLE row is
    * packed into the heap's ordering struct, so every column of `df`
    * must be an orderable type (arrays/structs of atomics are fine;
    * MapType is not — drop or re-encode such columns before calling).
    * With a unique (ts, tie) the payload is never actually compared;
    * the orderability requirement is Catalyst's type check, not a
    * semantic dependence. Output keeps `df`'s schema; row order within
    * a user is not defined (it's a SET of survivors). */
  def boundedUserHistory(df: DataFrame, userCol: String, tsCol: String,
      tieCol: String, maxEvents: Int): DataFrame = {
    require(maxEvents >= 1, s"maxEvents must be >= 1, got $maxEvents")
    val packed = struct(col(tsCol), col(tieCol),
      struct(df.columns.map(col): _*).as("_row"))
    df.groupBy(col(userCol).as("_u"))
      .agg(graft.functions.gf.collect_top_k(packed, maxEvents,
        reverse = false).as("_top"))
      .select(explode(col("_top")).as("_e"))
      .select(col("_e._row.*"))
  }
}
