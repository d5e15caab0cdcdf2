package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural plan assertions over the WHOLE query registry — the net
  * that catches scale regressions the row-level oracle cannot see: a
  * join silently degrading to a cartesian product, an aggregation losing
  * its map-side partial step, a top-k picking up a global sort.
  * PLANS.md (generated by graft.Plans) is the human-readable twin. */
class PlanRegressionSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val dir = SparkSuite.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** One structural-net binding — the shared convention of all four
    * nets ("names are never proofs", r16/r17) as ONE declared shape: a
    * blessed NAME (window partition key, residual equi-key set,
    * broadcast agg grouping key, pin tag) is justified ONLY for the
    * registry queries enumerated here, with the boundedness rationale
    * carried alongside. r18: the four nets had grown four hand-rolled
    * `(Set[String], String)` tuples plus four copies of the
    * stale-check — one type and one helper keep every future net on
    * the convention by construction instead of by copy-paste. */
  private final case class Binding(queries: Set[String], why: String) {
    def allows(query: String): Boolean = queries.contains(query)
  }

  /** THE stale-check, shared by every binding map: a bound query name
    * that no longer exists in the registry is dead justification mass
    * a future query could silently inherit by reusing the name. */
  private def assertBindingsLive(mapName: String,
      bindings: Iterable[(String, Set[String])]): Unit =
    bindings.foreach { case (name, queries) =>
      val stale = queries -- SparkEntry.queries.keySet
      assert(stale.isEmpty,
        s"$mapName[$name] binds non-existent queries: $stale")
    }

  /** Queries whose SEMANTICS are all-pairs (or broadcast a tiny single-row
    * / fixed query side), so a broadcast nested-loop join is the intended
    * physical shape, not a regression. */
  private val intendedNestedLoop = Set(
    "q16_cosine_topk", // corpus × 1 query vector (broadcast single row)
    "q25_knn_batch", "q42_topk_agg", // corpus × 5 fixed query vectors
    "q45_hybrid_rrf", // corpus × 1 query vector (vector leg of RRF)
    "q24_simhash_pairs", // exact all-pairs hamming (oracle-checked)
    "q31_embed_neardup", // exact all-pairs cosine (q32 is the blocked scale path)
    "q57_tfidf_topterms", // corpus-size literal rides as a 1-row broadcast
    "q44_bm25", // corpus stats (N, avgdl) ride as a 1-row broadcast
    "q75_mixture_plan", // (total, n_src) ride as a 1-row broadcast
    "q110_temperature_mix", // (total, z) ride as a 1-row broadcast
    "q111_mixture_apply", // rate table derives from a 1-row broadcast total
    "q83_frequent_tokens", // corpus token total rides as a 1-row broadcast
    "q85_weighted_sample", // weight sum rides as a 1-row broadcast
    "q98_retrieval_eval", // corpus × 8 fixed eval queries (broadcast)
    "q125_eval_ci", // corpus × 1000 eval queries (broadcast query side)
    "q99_hard_negatives", // corpus × 8 fixed eval queries (broadcast)
    "q119_maxsim", // corpus chunks × 8 fixed query chunks (broadcast);
    // maxsimIvf is the bounded-candidate scale path
    "q120_lsh_planner", // 16×16 parameter grid × 5 thresholds — no corpus
    "q122_cluster_stats" // |labels|² centroid separation join (dim × dim)
  )

  test("no query plan contains an (unhinted) cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!plan(name).contains("CartesianProduct"),
        s"$name degraded to CartesianProduct")
    }
  }

  test("nested-loop joins appear only where all-pairs semantics demand them") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      if (!intendedNestedLoop.contains(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name picked up a nested-loop join")
    }
  }

  test("q86 fingerprints documents below the join exchange") {
    // the md5 projection must sit on the scan side of the shuffle so
    // only (doc_id, fp) crosses the wire — a repartition sneaking in
    // below the projection (e.g. the loadP floor) would push corpus
    // text through the exchange
    val p = plan("q86_snapshot_diff")
    val md5At = p.indexOf("md5(")
    val exchAt = p.indexOf("Exchange")
    assert(md5At > 0 && exchAt > 0 && md5At > exchAt,
      s"md5 project above the exchange:\n${p.take(1500)}")
  }

  test("aggregations keep the map-side partial step") {
    // representative partial-agg shapes: flat agg, join-agg, count-distinct
    Seq("q01_pricing_summary", "q04_join_agg", "q18_exact_dedup").foreach { n =>
      val p = plan(n)
      assert(p.contains("partial"), s"$n lost map-side partial aggregation")
    }
  }

  test("top-k compiles to TakeOrderedAndProject, never a global sort+limit") {
    Seq("q02_topk_orders", "q16_cosine_topk", "q38_vocab").foreach { n =>
      val p = plan(n)
      assert(p.contains("TakeOrderedAndProject"), s"$n lost partial top-k")
    }
  }

  test("dimension joins broadcast the small side") {
    assert(plan("q04_join_agg").contains("BroadcastHashJoin"),
      "q04 nation join should broadcast")
    // round 5: BM25's per-term df join disappeared entirely (tf is
    // row-local, df rides the 1-row stats broadcast) — pin that the
    // stats still broadcast and the old token-stream shuffle is gone
    val q44 = plan("q44_bm25")
    assert(q44.contains("BroadcastExchange"),
      "q44 corpus stats should broadcast")
    assert(!q44.contains("Generate"),
      "q44 must not explode the token stream")
  }

  test("point lookup and IN-list scans keep parquet pushdown") {
    assert(plan("q07_point_lookup").contains("PushedFilters: [IsNotNull"),
      "q07 lost filter pushdown")
    val q8 = plan("q08_inlist_scan")
    assert(q8.contains("In(l_suppkey") && q8.contains("PushedFilters"),
      "q08 lost IN-list pushdown")
  }

  test("no window runs with an empty partition spec") {
    // An unpartitioned window funnels its whole input through ONE task —
    // the classic scale cliff. Every bounded window in the repo carries a
    // gf.one_partition constant key instead (same single-partition plan,
    // non-empty spec, survives EliminateWindowPartitions), so ANY
    // empty-spec window that shows up here is a genuine corpus-sized
    // regression, not known-bounded noise.
    SparkEntry.queries.keys.foreach { name =>
      val unpartitioned = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
      assert(unpartitioned.isEmpty,
        s"$name has ${unpartitioned.length} unpartitioned window(s)")
    }
  }

  test("q77 manifest keeps its one-scan one-shuffle shape") {
    // the end-to-end curation claim (CurationQueries scaladoc): every
    // gate including the model score is row-local, so the ONLY
    // data-sized exchange is the fingerprint window's — the small-file
    // parallelism floor (REPARTITION_BY_NUM from Tables.loadP, a no-op
    // on real multi-file input) is the single allowed extra
    val p = plan("q77_curation_pipeline")
    val required = "ENSURE_REQUIREMENTS".r.findAllIn(p).length
    assert(required == 1, s"expected exactly 1 required exchange, got $required:\n${p.take(1500)}")
    assert(!p.contains("rangepartitioning"), "manifest must not range-shuffle")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one scan of documents, got $scans")
  }

  /** The window-bearing mains excluded from the source tripwire — they
    * carry banned window twins ON PURPOSE (probes time the cliff shapes
    * A/B; Plans.scala quotes banned shapes in its PLANS.md prose).
    * Exemption is by EXACT ENUMERATION, not name pattern: the r14
    * `*Probe.scala` glob would have silently exempted any future
    * PRODUCT file that happened to end in Probe.scala. Adding a probe
    * file means adding it here consciously; the companion test below
    * additionally requires every entry to be a runnable main. */
  private val tripwireExempt: Set[String] = Set("Probe.scala", "Plans.scala")

  /** True when the tripwire scans this file (= not exempt). Split out
    * so the hatch test below can assert the decision on a PLANTED
    * product-file-in-disguise without writing it to disk. */
  private def tripwireScans(fileName: String): Boolean =
    !tripwireExempt.contains(fileName)

  test("tripwire exemptions: enumerated, in sync with disk, all runnable mains") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val byName = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> p).toMap
    // every on-disk *Probe.scala must be consciously enumerated (a new
    // probe is added here; a renamed one is removed) and nothing
    // enumerated may have vanished
    val onDiskProbes = byName.keySet.filter(_.endsWith("Probe.scala"))
    assert(onDiskProbes == tripwireExempt - "Plans.scala",
      s"probe enumeration out of sync with disk:\n" +
        s"  on disk, not listed: ${onDiskProbes -- tripwireExempt}\n" +
        s"  listed, not on disk: ${tripwireExempt - "Plans.scala" -- onDiskProbes}")
    // each exempt file must be a runnable main — a product module can't
    // hide from the tripwire behind a Probe-suffixed name
    tripwireExempt.foreach { f =>
      val content = java.nio.file.Files.readString(byName(f))
      assert(content.contains("def main("),
        s"$f is tripwire-exempt but is not a runnable main — product " +
          "code must be scanned")
    }
    // the r14 hatch, planted: an unlisted Probe-named file IS scanned
    assert(tripwireScans("RetrievalProbe.scala"),
      "a product file named *Probe.scala must not be exempt by pattern")
  }

  test("source tripwire: the set of window partitionBy call sites is frozen") {
    // windows inside PINNED frames (localCheckpoint) execute at
    // DataFrame construction and never appear in a final plan, so the
    // plan-level allowlist below cannot see them (e.g. shingleCounts'
    // per-doc count window). This snapshot freezes every
    // `.partitionBy(` call site in product code — the enumerated probe
    // mains excluded, they carry banned window twins on purpose.
    // Adding a window on a NEW key fails here first: either the key is
    // bounded (add it to the allowlist below AND this snapshot, with
    // the justification), or the query needs the aggregate + join-back
    // / RankOps rewrite.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        tripwireScans(p.getFileName.toString))
      .toSeq
    val pat = java.util.regex.Pattern.compile("\\.partitionBy\\(([^)]*)")
    val found = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala
        .map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("//"))
        // DataFrameWriter.partitionBy = on-disk layout, not a window
        .filterNot(_.contains(".parquet("))
        .flatMap { l =>
          val m = pat.matcher(l)
          val hits = scala.collection.mutable.ListBuffer[String]()
          while (m.find()) hits += m.group(1).trim
          hits.toList
        }
    }.toSet
    // every entry is a token up to the first ')' of a window
    // partitionBy call site; boundedness arguments live in the
    // allowlist test below and the call-site scaladocs
    val expected = Set(
      "\"doc_id\"", // per-document groups (shingles/chunks/ranks)
      "\"user_id\"", "col(\"user_id\"", // per-user event traversal (EventSkewProbe)
      "\"source\"", // q90 post-cap window (pre-capped input)
      "\"t\"", "\"k\"", // q120/q127 parameter grids
      "\"lang\"", // packSequencesWindowedOffsets — PackPlanSpec test twin ONLY
      "legCol", "col(\"_pid\"", // RankOps offsets/local (partition-bounded)
      // RankOps guardBroadcastRows: count(*) over ONE constant
      // partition of the bookkeeping table (legs + partitions − 1 rows
      // under the legCol contract; on violation the window buffers
      // executor-side and raises before the broadcast collect)
      "graft.functions.gf.one_partition(col(small.columns.head",
      "col(\"query_id\"", "col(\"qid\"", // eval-query-bounded top-k
      "col(keyCol", // ParquetStore upsert keep-one (≤ old+new rows per key)
      "gf.one_partition(col(\"o_orderkey\"", // known-bounded single-partition
      "gf.one_partition(col(\"band\"",
      "graft.functions.gf.one_partition(col(\"_pid\"",
      "graft.functions.gf.one_partition(col(\"owner_name\"",
      "graft.functions.gf.one_partition(col(\"category_key\"")
    assert(found == expected,
      s"window call sites changed:\n  added: ${found -- expected}\n" +
        s"  removed: ${expected -- found}")
  }

  /** Non-comment lines in `lines` carrying `tag` as a QUOTED literal —
    * the unit the pin-tag tripwire freezes. Quoted occurrences are
    * counted whatever the call form (`.pin("tag")`, a multi-line
    * `Pins.pin(expr,\n  "tag")`), which over-approximates call sites by
    * design: ANY new appearance of a registered tag literal in product
    * code is a conscious enumeration event. Split out so the planted
    * test can assert the decision on synthetic lines. */
  private def taggedLines(lines: Seq[String], tag: String): Int =
    lines.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("//"))
      .count(_.contains("\"" + tag + "\""))

  test("source tripwire: the set of tagged-pin call sites is frozen per tag") {
    // the r16 verdict's finding #1, closed at the SOURCE level (the
    // .partitionBy( tripwire pattern): a registered BOUND tag proves a
    // hinted side structurally, but the tag's PROMISE — every hint on
    // the pin rides gateKnown under its own count — is enforced only
    // by review of the call sites. This freezes them: writing a new
    // Pins.pin(df, "<registered-tag>") anywhere in product code fails
    // here first, and the diff review checks the new site honors the
    // tag's documented contract before re-freezing. Probe mains are
    // exempt (consistent with the window tripwire — their pins never
    // reach a registry plan).
    import scala.jdk.CollectionConverters._
    val tags = pinBoundAllowed.keySet ++ pinWitnessAllowed.keySet
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        tripwireScans(p.getFileName.toString))
      .toSeq
    val found: Map[String, Map[String, Int]] = tags.map { t =>
      t -> files.flatMap { p =>
        val n = taggedLines(
          java.nio.file.Files.readAllLines(p).asScala.toSeq, t)
        if (n > 0) Some(p.getFileName.toString -> n) else None
      }.toMap
    }.toMap
    val expected: Map[String, Map[String, Int]] = Map(
      // BOUND tags — each site must hint only through gateKnown under
      // the pinned frame's own count (the tag's contract)
      "size-gated" -> Map("DedupOps.scala" -> 1, // gateBroadcast itself
        "AnalyticsQueries.scala" -> 2, // q131 bench chunks + removal verdict
        "DedupQueries.scala" -> 1, // q130 prepareBench shingles
        "CurationQueries.scala" -> 1), // q60 unigram table
      // r19: trigram-freq:charset3 retired — the charset³-bounded LM
      // table is collected and re-enters the plan as a LocalRelation
      // (classified by the leavesLocal arm), so the pin is gone
      "centroids:label-rows" -> Map("AuditQueries.scala" -> 1),
      // WITNESS tags — each site reviewed: the pin reaches hinted
      // sides only under a bounding aggregate / runtime gate above it
      "rankops-ranked-rows" -> Map("RankOps.scala" -> 3),
      "verdict-doc-scalars" -> Map("DedupQueries.scala" -> 1),
      "shingles-exploded" -> Map("DedupQueries.scala" -> 2),
      // r19: cappedShingles pins the SAME df-capped frame directly on
      // its pin-free path (containmentShinglesPinned keeps the legacy
      // site for arbitrary docs frames) — both sites reach hinted
      // sides only through containmentVerify's gateBroadcast
      "shingles-df-capped" -> Map("DedupQueries.scala" -> 2))
    assert(found == expected,
      s"tagged-pin call sites changed:\n" +
        tags.toSeq.sorted.map { t =>
          s"  $t: found ${found.getOrElse(t, Map.empty)}, expected " +
            s"${expected.getOrElse(t, Map.empty)}"
        }.mkString("\n") +
        "\nA NEW site using a registered tag must honor the tag's " +
        "documented contract (bound tags: every hint rides gateKnown " +
        "under the pin's own count) - verify, then re-freeze here")
    // planted: a new call line IS counted; a comment mention is NOT
    assert(taggedLines(Seq(
      """    val rogue = Pins.pin(corpus, "size-gated")"""), "size-gated") == 1,
      "a new tagged-pin call line must be counted")
    assert(taggedLines(Seq(
      """    // "size-gated": see PlanRegressionSpec""",
      """    * tagged "size-gated" pins ride gateKnown"""), "size-gated") == 0,
      "comment/scaladoc mentions must not be counted")
  }

  /** Second-pin-mechanism violations in one product file, named by its
    * path under src/main/scala: a reliable `checkpoint(` call, a
    * `setCheckpointDir`, or a `localCheckpoint(` that carries anything
    * but its eager flag (a storage level) outside Pins.scala. Pins.pin is
    * the ONE place that decides where a pin's blocks live and how many
    * copies exist. A bare `localCheckpoint(true)` stays legal in batch
    * and streaming code (one copy, the documented choice for state a
    * replay can rebuild), but not on the serve path (`server/`,
    * `sources/`, SearchService.scala), where no replay rebuilds a lost
    * block: every pin there goes through Pins.pin. Split out so the
    * planted test can assert the decision on synthetic lines. */
  private def pinMechanismViolations(relPath: String,
      lines: Seq[String]): Seq[String] = {
    val fileName = relPath.split('/').last
    val servePath = relPath.startsWith("graft/server/") ||
      relPath.startsWith("graft/sources/") || relPath == "graft/SearchService.scala"
    val reliable = "(^|[^l])checkpoint\\(".r
    val localAny = "localCheckpoint\\(".r
    val localBare =
      "localCheckpoint\\(\\s*(eager\\s*=\\s*)?(true|false)?\\s*\\)".r
    lines.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("//"))
      .flatMap { l =>
        val leveled = localAny.findAllIn(l).size > localBare.findAllIn(l).size
        Seq(
          reliable.findFirstIn(l).map(_ => s"$fileName: reliable checkpoint: $l"),
          Option.when(l.contains("setCheckpointDir"))(
            s"$fileName: setCheckpointDir: $l"),
          Option.when(leveled && fileName != "Pins.scala")(
            s"$fileName: leveled localCheckpoint outside Pins: $l"),
          Option.when(servePath && !leveled && localAny.findFirstIn(l).nonEmpty)(
            s"$fileName: bare localCheckpoint on the serve path: $l")).flatten
      }
  }

  test("source tripwire: Pins.pin is the only pin mechanism") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        tripwireScans(p.getFileName.toString))
      .toSeq
    assert(files.exists(_.getFileName.toString == "Pins.scala"))
    val scalaRoot = java.nio.file.Paths.get("src/main/scala")
    val found = files.flatMap(p => pinMechanismViolations(
      scalaRoot.relativize(p).toString,
      java.nio.file.Files.readAllLines(p).asScala.toSeq))
    assert(found.isEmpty, "a second pin mechanism in product code " +
      "(route the pin through Pins.pin):\n  " + found.mkString("\n  "))
  }

  test("hatch closed: a reliable or leveled checkpoint outside Pins is flagged") {
    val planted = Seq(
      "val p = df.checkpoint(true)",
      "spark.sparkContext.setCheckpointDir(dir)",
      "df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_2)",
      "df.localCheckpoint(eager = true,")
    assert(pinMechanismViolations("graft/Rogue.scala", planted).size == 4,
      pinMechanismViolations("graft/Rogue.scala", planted))
    // the same leveled call IS legal in Pins.scala, the one owner
    assert(pinMechanismViolations("graft/operators/Pins.scala", planted.drop(2)).isEmpty)
    // on the serve path a bare one-copy pin is flagged too
    val bare = Seq("val k = batch.localCheckpoint(true)", "df.localCheckpoint()")
    Seq("graft/server/Rogue.scala", "graft/sources/Rogue.scala", "graft/SearchService.scala")
      .foreach(f => assert(pinMechanismViolations(f, bare).size == 2, f))
    assert(pinMechanismViolations("graft/sources/Rogue.scala",
      Seq("// df.localCheckpoint(true) used to go here", "Pins.pin(df)")).isEmpty)
    // elsewhere bare one-copy pins, the release helper and comments stay legal
    assert(pinMechanismViolations("graft/streaming/Rogue.scala", Seq(
      "val k = batch.localCheckpoint(true)",
      "df.localCheckpoint(eager = true) // pinned",
      "DedupOps.releaseCheckpoint(keyed)",
      "// sc.setCheckpointDir(dir) used to go here",
      "* `checkpoint(true)` was the reliable mode")).isEmpty)
  }

  test("no aggregate window runs a sliding frame (Spark cannot retract)") {
    // Spark's sliding WindowFunctionFrame re-aggregates the WHOLE
    // frame on every move (no retraction), so `rangeBetween(-24h, 0)`
    // costs Σ|frame| = O(n·f) per partition — EventSkewProbe measured
    // a 200k-event bot user's single sliding task re-adding ~1.3e9
    // rows where q64's cumulative-difference shape stays linear. Any
    // aggregate whose frame LOWER bound is not UNBOUNDED PRECEDING
    // (sliding, current-row-anchored, or reverse frames — all
    // recompute per row) is banned registry-wide; offset functions
    // (lag/lead) are frame-less O(1) and exempt.
    import org.apache.spark.sql.catalyst.expressions.{
      OffsetWindowFunction, SpecifiedWindowFrame, UnboundedPreceding,
      WindowExpression}
    SparkEntry.queries.keys.foreach { name =>
      val bad = SparkEntry.queries(name)(spark, dir)
        .queryExecution.sparkPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec =>
            w.windowExpression
              .flatMap(_.collect { case we: WindowExpression => we })
              .filter { we =>
                !we.windowFunction.isInstanceOf[OffsetWindowFunction] &&
                (we.windowSpec.frameSpecification match {
                  case f: SpecifiedWindowFrame =>
                    f.lower != UnboundedPreceding
                  case _ => false
                })
              }.map(_.sql)
        }.flatten
      assert(bad.isEmpty,
        s"$name runs non-incremental window frame(s): $bad — use a " +
          "cumulative-difference shape (q64) or a monotone frame")
    }
  }

  test("every window partitions on an allowlisted bounded key") {
    // THE structural ban on the mega-key window class (r10 q59/q77/
    // q105 → r12 LSH bucket → r13 fp spine → r14 q82 chunk / q69 lang:
    // four rounds of instance fixes; this is the class-wide net). A
    // window partition gets NO map-side combine and NO AQE skew split,
    // so a window is scale-safe only when its groups are BOUNDED by
    // something other than corpus skew. Every partition key that may
    // legally appear in a registry plan is listed here with its
    // boundedness argument; a window on any unlisted key — fp, chunk,
    // shingle, lang, band bucket, … — fails the suite the day it is
    // written instead of waiting for a round-audit. This test
    // subsumes and replaces the former per-query fingerprint ban.
    // r16: each key is BOUND to the query names it is justified FOR
    // (the residual-join net's convention, applied symmetrically) — a
    // future window on a corpus-skewed column that happens to be NAMED
    // source/doc_id/... no longer inherits the justification silently;
    // it trips the net until its query is listed here consciously.
    val bounded: Map[String, Binding] = Map(
      "doc_id" -> Binding(Set("q118b_containment_prefix", "q124_dedup_verdict",
        "q124b_dedup_verdict_banded", "q126_containment_sketch",
        "q134_dedup_verdict_star", "q57_tfidf_topterms"),
        "per-document groups - bounded by one document's " +
        "chunks/shingles/query hits, never by corpus skew"),
      "user_id" -> Binding(Set("q29_sessionize", "q40_asof_window",
        "q48_range_join", "q49_asof_join", "q64_rolling_window"),
        "per-user event history (q40 as-of / q64 rolling / q29 " +
        "sessions need ordered traversal; q09 is the aggregate form) " +
        "- hot-user regime measured by EventSkewProbe, BASELINE.md " +
        "r14 disposition"),
      "query_id" -> Binding(Set("q25_knn_batch"),
        "bounded by the query/eval set (per-query top-k)"),
      "source" -> Binding(Set("q90_domain_cap", "q114_drift_monitor",
        "q136_drift_windows", "q137_drift_windows_ts"),
        "q90's final cap window runs over PRE-CAPPED input (<= " +
        "partitions*CAP rows per source - SelectionScaleProbe); " +
        "q114's decile window is a RankOps offsets window over the " +
        "per-(partition, source) aggregate; q136's cumulative window " +
        "runs over the per-(source, bucket) AGGREGATE (rows = " +
        "non-empty buckets per source, never documents); q137 is " +
        "q136's event-time twin, same aggregate-first shape (rows = " +
        "non-empty time windows per event_type, a 5-value dimension)"),
      "t" -> Binding(Set("q120_lsh_planner"),
        "5-row threshold grid over a 16x16 parameter table"),
      "k" -> Binding(Set("q127_sketch_planner"), "8-row sketch-size grid"),
      "_pid" -> Binding(Set("q132_pack_sequences", "q59_pack_plan"),
        "spark_partition_id key - groups bounded by the physical task " +
        "partition size (RankOps local accumulation)"))
    // gf.one_partition (pmod(hash(anchor), 1)) marks KNOWN-BOUNDED
    // single-partition windows (<= 30-row pages, dimension-sized sets)
    // by CONSTRUCTION, not by name — no query binding needed
    SparkEntry.queries.keys.foreach { name =>
      def keyAllowed(k: String): Boolean =
        bounded.get(k).exists(_.allows(name)) ||
          k.startsWith("pmod(hash(")
      windowKeyViolations(SparkEntry.queries(name)(spark, dir),
        keyAllowed).foreach { v =>
        fail(s"$name $v - if the groups are provably bounded, bind the " +
          "(key, query) pair with a justification; otherwise rewrite " +
          "to aggregate + join-back (q105/spine/q82 pattern) or " +
          "RankOps (q93/q69 pattern)")
      }
    }
    // binding hygiene: the shared stale-check (see assertBindingsLive)
    assertBindingsLive("window-key binding",
      bounded.map { case (k, b) => k -> b.queries })
  }

  test("planted: the shared stale-check fires on a dead binding and names it") {
    // the consolidation's own counterexample (every net used to carry
    // its own hygiene block; the helper must fail exactly like they
    // did): a binding naming a deleted/renamed query must fail with
    // the map and entry name, and a fully-live map must pass
    val e = intercept[org.scalatest.exceptions.TestFailedException] {
      assertBindingsLive("plantedMap", Seq(
        "live" -> Set("q01_pricing_summary"),
        "dead" -> Set("q01_pricing_summary", "q999_renamed_away")))
    }
    assert(e.getMessage.contains("plantedMap[dead]") &&
      e.getMessage.contains("q999_renamed_away"), e.getMessage)
    assertBindingsLive("plantedMap",
      Seq("live" -> Set("q01_pricing_summary")))
  }

  test("hatch closed: a blessed window-key NAME does not bless a new query") {
    // symmetric to the residual-join binding: partition a window on a
    // corpus-skewed column RENAMED to a blessed key ('source') in a
    // query that is not bound to it — flagged; q90's real window stays
    // allowed through its binding
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("source", col("lang")) // a skewed column wearing the name
    val planted = docs.withColumn("rn",
      row_number().over(Window.partitionBy("source").orderBy("doc_id")))
    def allowFor(q: String)(k: String): Boolean =
      (k == "source" && q == "q90_domain_cap") || k.startsWith("pmod(hash(")
    assert(windowKeyViolations(planted, allowFor("q999_throwaway")).nonEmpty,
      "a source-named window in an unlisted query must be flagged")
    assert(windowKeyViolations(
      SparkEntry.queries("q90_domain_cap")(spark, dir),
      allowFor("q90_domain_cap")).isEmpty,
      "q90's bound window must stay allowed")
  }

  /** The window input chain is an aggregate's output: walks down
    * through row-shape-preserving nodes (sort/exchange/project/filter)
    * until an aggregate — the proof the RankOps offsets windows lean
    * on (their input is the per-(partition, leg) aggregate, ≤
    * shuffle-partitions rows per leg group by construction). */
  @annotation.tailrec
  private def inputIsAggregate(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    p match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        true
      case s: SortExec => inputIsAggregate(s.child)
      case e: ShuffleExchangeExec => inputIsAggregate(e.child)
      case pr: ProjectExec => inputIsAggregate(pr.child)
      case f: FilterExec => inputIsAggregate(f.child)
      case _ => false
    }
  }

  /** Collects un-allowlisted window partition keys from `df`'s physical
    * plan. Split out of the registry sweep so the hatch tests below can
    * run it on PLANTED counterexample frames. */
  private def windowKeyViolations(df: org.apache.spark.sql.DataFrame,
      keyAllowed: String => Boolean): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        // computed partition keys (gf.one_partition, …) reach the
        // window as opaque `_wN` projections — resolve them back
        // to the defining expression through the child projects
        val defs = w.child.collect { case p => p.expressions }.flatten
          .flatMap(_.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Alias =>
              a.name -> a.child.sql.replaceAll("`", "")
          }).toMap
        // float partition keys get wrapped for NaN/-0.0 grouping
        // semantics — unwrap to the underlying key
        @annotation.tailrec
        def unwrap(s: String): String = {
          val ws = Seq("knownfloatingpointnormalized(",
            "normalizenanandzero(")
          ws.find(s.startsWith) match {
            case Some(w) if s.endsWith(")") =>
              unwrap(s.substring(w.length, s.length - 1))
            case _ => s
          }
        }
        def res(sql0: String): String = {
          val sql = unwrap(sql0)
          if (sql.matches("_w\\d+")) unwrap(defs.getOrElse(sql, sql))
          else sql
        }
        val keys = w.partitionSpec.map(e => res(e.sql.replaceAll("`", "")))
        val order = w.orderSpec.map(e => res(e.child.sql.replaceAll("`", "")))
        // extra partition keys only REFINE groups, so one bounded key
        // suffices. The `[_pid]`-order arm covers the RankOps offsets
        // windows (partitioned by an arbitrary leg, ordered by _pid
        // alone) — but ONLY when the window's input IS an aggregate:
        // ordered-by-_pid over per-(partition, leg) AGGREGATE rows is
        // bounded by construction, while the same order spec over RAW
        // rows on a mega key would be the r14 hatch (a corpus-sized
        // single-leg sort slipping through on an order-spec
        // coincidence).
        val ok = keys.exists(keyAllowed) ||
          (order == Seq("_pid") && inputIsAggregate(w.child))
        if (ok) None
        else Some(s"windows on un-allowlisted key(s) " +
          s"${keys.mkString("[", ",", "]")} (order " +
          s"${order.mkString("[", ",", "]")})")
    }.flatten

  test("hatch closed: a _pid-ordered window over RAW rows is still flagged") {
    // the r14 allowlist accepted ANY window whose order spec was
    // exactly [_pid] — this plants the counterexample that slipped
    // through: a mega-key window over raw (non-aggregate) rows whose
    // author happened to order by a column named _pid
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val raw = Tables.load(spark, dir, "documents")
      .withColumn("_pid", col("doc_id") % 7)
    val planted = raw.withColumn("rn",
      row_number().over(Window.partitionBy("lang").orderBy("_pid")))
    val v = windowKeyViolations(planted, Set("doc_id").contains _)
    assert(v.nonEmpty, "raw-row mega-key window must be flagged even " +
      "when ordered by a column named _pid")
    // and the legitimate RankOps shape (aggregate input) still passes
    val agg = raw.groupBy("_pid", "lang").agg(count(lit(1)).as("c"))
      .withColumn("off", sum("c").over(
        Window.partitionBy("lang").orderBy("_pid")))
    assert(windowKeyViolations(agg, Set("doc_id").contains _).isEmpty,
      "the offsets-over-aggregate shape must stay allowed")
  }

  /** THE structural ban on the residual self-join class — the join
    * twin of the window-key allowlist above (same failure physics: a
    * shuffled join evaluates |group_L|×|group_R| candidate rows inside
    * ONE sort-merge key group before the residual can drop any, with
    * no map-side combine and no AQE skew split of a single key). q48's
    * old shape (equi on user_id, |Δt| ≤ 60 s as residual — commit
    * 537b98d's parent) was Θ(|bot|²) in one task; windows took five
    * rounds of instance fixes before their class-wide net landed, so
    * the join class gets its net the round after its first instance.
    *
    * Every equi-key set that may legally carry a non-equi residual in
    * a registry plan is listed with its boundedness argument. The scan
    * runs on the OPTIMIZED LOGICAL plan, not the physical one: at the
    * test SF every one of these joins broadcasts physically (a
    * physical SMJ/SHJ scan collects NOTHING at sf0.001 and would
    * silently pass), while the logical join shape is scale-independent
    * — the same node becomes the SMJ at 100 TB. */
  private val residualJoinAllowed: Map[Set[String], Binding] = Map(
    Set("bucket") -> Binding(Set("q21_minhash_lsh", "q21b_minhash_fast",
      "q100_verify_lsh", "q106_fast_neardup", "q133_minhash_star"),
      "minhash LSH band buckets: pair-LIST forms are the documented " +
      "all-pairs semantics with AQE-splittable join input; star mode " +
      "(q133, the component path) joins members to the per-bucket MIN " +
      "- one row per key group on the build side, O(m) edges " +
      "(StarScaleProbe)"),
    Set("band", "bval") -> Binding(Set("q24b_simhash_banded", "q24c_simhash_r2",
      "q101_media_phash"),
      "banded hamming joins (pair-LIST oracle semantics): r+1 disjoint " +
      "bands, star mode for component consumers (MediaStarProbe: " +
      "2.5e10 all-pairs vs 102k star rows at a 100k viral cluster)"),
    Set("s") -> Binding(Set("q22_jaccard_neardup", "q91_cross_dedup",
      "q118_containment", "q118b_containment_prefix", "q121_subsume",
      "q124_dedup_verdict", "q124b_dedup_verdict_banded",
      "q126_containment_sketch", "q134_dedup_verdict_star"),
      "shingle keys: df-capped on BOTH sides (ContainScaleProbe) or " +
      "size-band-pruned (q22's 4/5 <= n_a/n_b <= 5/4), so a key " +
      "group is bounded by the df cap, not corpus skew"),
    Set("doc_b", "doc_id") -> Binding(Set("q118b_containment_prefix",
      "q126_containment_sketch"),
      "containment verify tail (r18 shape): the build side is the " +
      "size-gated per-member shingle-array table - ONE row per doc_id " +
      "(groupBy doc_id), so a key group is |pair rows per doc_b| x 1; " +
      "the residual is the row-local C >= 0.9 intersect arithmetic the " +
      "optimizer folded into the last join"),
    Set("source") -> Binding(Set("q111_mixture_apply"),
      "mixture apply: build side is the per-source RATE table - " +
      "exactly one row per key, group size = |source partition| x 1, " +
      "residual is the row-local hash gate"),
    Set("bench_doc") -> Binding(Set("q130_bench_contain"),
      "decontamination: build side is one overlap-count row per bench " +
      "doc; the bench suite itself is size-gated (DecontScaleProbe)"),
    Set("centroid_id") -> Binding(Set("q32_blocked_neardup"),
      "blocked near-dup: groups bounded by IVF centroid balance (M2 " +
      "superset-truncate + M6 drop-small), the documented blocked-ANN " +
      "scale path"),
    Set("h") -> Binding(Set("q82_span_rewrite"),
      "spanRemovals join-back: build side is the min-struct AGGREGATE " +
      "- one row per 16-byte chunk hash; probe side group = that " +
      "chunk's duplicates (SpanRankScaleProbe)"),
    Set("_pid", "source") -> Binding(Set("q90_domain_cap"),
      "domain cap: spark_partition_id in the key bounds every group " +
      "by the physical task partition"),
    Set("label") -> Binding(Set("q94_semdedup"),
      "SemDeDup: k-means cluster blocks - group size governed by " +
      "clustering (81 s / 10M vectors, SemDedupScaleProbe)"))

  /** Collects shuffled-join-with-residual shapes whose equi-key set is
    * not justified above FOR THIS QUERY. An entry's justification is
    * bound to the enumerated query names, not to the column names
    * alone: the r15 net keyed the allowlist on name sets (`bucket`,
    * `s`, ...), so a future unbounded join whose author happened to
    * reuse a blessed column name inherited the justification silently
    * — the same name-not-proof fragility the r15 round closed for the
    * `_pid` window arm and the probe glob (r15 verdict finding #2).
    * Split out so the banned-exemplar tests can run it on q48's old
    * shape and on a blessed-name join in an unlisted query. */
  private def residualJoinViolations(
      df: org.apache.spark.sql.DataFrame,
      forQuery: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.nonEmpty =>
        def crossSides(l: Expression, r: Expression): Boolean =
          (l.references.subsetOf(j.left.outputSet) &&
            r.references.subsetOf(j.right.outputSet)) ||
          (l.references.subsetOf(j.right.outputSet) &&
            r.references.subsetOf(j.left.outputSet))
        val (equi, resid) = conjuncts(j.condition.get).partition {
          case EqualTo(l, r) => crossSides(l, r)
          case EqualNullSafe(l, r) => crossSides(l, r)
          case _ => false
        }
        // equi.isEmpty && resid.nonEmpty (a pure theta join — strictly
        // worse than the skewed-group class: the "group" is the whole
        // corpus) is NOT this net's job: with no equi keys Spark can
        // only plan BroadcastNestedLoop/Cartesian at EVERY size, so the
        // cartesian + nested-loop tests at the top of this suite catch
        // that class unconditionally, with their own intended-set.
        if (equi.nonEmpty && resid.nonEmpty) {
          val keys = equi.flatMap(_.references.toSeq.map(_.name)).toSet
          residualJoinAllowed.get(keys) match {
            case Some(b) if b.allows(forQuery) => None
            case Some(b) => Some(s"join with non-equi " +
              s"residual on equi-keys " +
              s"${keys.toSeq.sorted.mkString("[", ",", "]")} - the key " +
              s"set is justified only for ${b.queries.toSeq.sorted
                .mkString("{", ",", "}")}, not for $forQuery: a blessed " +
              "column NAME is not a boundedness proof; justify this " +
              "query explicitly in residualJoinAllowed")
            case None => Some(s"join with non-equi residual on " +
              s"un-allowlisted equi-keys " +
              s"${keys.toSeq.sorted.mkString("[", ",", "]")} " +
              s"(residual: ${resid.map(_.sql).mkString(" AND ").take(120)})")
          }
        } else None
    }.flatten
  }

  test("every residual join runs on an allowlisted bounded equi-key set") {
    SparkEntry.queries.keys.foreach { name =>
      residualJoinViolations(SparkEntry.queries(name)(spark, dir), name)
        .foreach { v =>
          fail(s"$name $v - a skewed equi-key group evaluates " +
            "|group|^2 candidates inside one SMJ task. If the groups " +
            "are provably bounded (df-cap, per-key singleton build " +
            "side, _pid refinement), add the key set with its " +
            "justification; if the output is a COUNT, decompose via " +
            "the cumulative trick (q48); if it is the pair LIST, " +
            "bound the key (df-cap / size-band / star mode)")
        }
    }
    // binding hygiene: the shared stale-check (see assertBindingsLive)
    assertBindingsLive("residualJoinAllowed",
      residualJoinAllowed.map { case (keys, b) =>
        keys.toSeq.sorted.mkString("[", ",", "]") -> b.queries })
  }

  /** Bounded-key justifications for broadcast-HINTED aggregate sides:
    * a hinted broadcast of an aggregate is bounded iff EVERY grouping
    * key is (groups multiply under refinement, unlike window
    * partitions where extra keys only split). r16: each key is BOUND
    * to the query names it is justified for (the residual-join /
    * window-key convention) — a future hinted aggregate on a
    * corpus-skewed column that reuses a blessed name (a url column
    * called `source`, a shingle called `bucket`) trips the net until
    * its query is listed consciously. The r15 `qlabel` entry turned
    * out to be DEAD under this binding (no hinted side's topmost
    * aggregate groups on it) and was deleted rather than carried. */
  private val broadcastAggKeyAllowed: Map[String, Binding] = Map(
    "source" -> Binding(Set("q90_domain_cap", "q111_mixture_apply",
      "q114_drift_monitor"),
      "crawl-source dimension (tens of values)"),
    "lang" -> Binding(Set("q69_ntile_rank", "q93_ccnet_buckets",
      "q132_pack_sequences", "q59_pack_plan"),
      "language dimension (tens of values)"),
    "lane" -> Binding(Set("q108_padding_waste"),
      "(lang, length-bucket) lanes - dimension-sized"),
    "leg" -> Binding(Set("q45_hybrid_rrf"),
      "ranking legs (lexical/vector - RRF)"),
    "label" -> Binding(Set("q98_retrieval_eval", "q115_vector_outliers",
      "q122_cluster_stats", "q125_eval_ci"),
      "k-means cluster / eval labels (<= k rows)"),
    "bucket" -> Binding(Set("q88_dsir_evidence"),
      "fixed hash-bucket count (DSIR importance buckets)"),
    "bench_doc" -> Binding(Set("q130_bench_contain"),
      "benchmark-suite docs (size-gated, DecontScaleProbe)"),
    "comp" -> Binding(Set("q117_best_rep", "q124_dedup_verdict",
      "q124b_dedup_verdict_banded", "q134_dedup_verdict_star"),
      "near-dup component ids - dup-cluster-sized and " +
      "runtime-size-gated (DedupOps.gateBroadcast / gateVictims)"),
    "_pid" -> Binding(Set("q45_hybrid_rrf", "q59_pack_plan", "q69_ntile_rank",
      "q79_epoch_shuffle", "q90_domain_cap", "q93_ccnet_buckets",
      "q108_padding_waste", "q114_drift_monitor", "q132_pack_sequences"),
      "spark_partition_id - bounded by cluster parallelism (RankOps " +
      "offsets refinement key)"))

  /** Registered PIN TAGS (r16 — the per-side proofs the r15 verdict
    * asked for). A pin reaches the optimizer as an opaque LogicalRDD,
    * so the r15 net could only COUNT unclassifiable hinted sides per
    * query — and a refactor replacing a justified pinned broadcast
    * with a different, unbounded pinned side kept the count at N and
    * slipped through. Now every pin that appears ANYWHERE under a
    * broadcast-hinted side must carry a tag (Pins.pin(df, bound))
    * registered here, in one of two classes:
    *
    * BOUND tags — the tag IS the side's proof: a hinted side whose
    * every leaf is a bound-tagged pin or a local relation is
    * structurally bounded, no per-query entry needed.
    *
    * r17: each tag is BOUND to the query names it may appear in under
    * a hinted side (the window/residual/agg-key convention — names are
    * never proofs, and a TAG is a name too): the r16 net trusted any
    * pin tagged 'size-gated' as a structural proof, so a NEW call site
    * writing Pins.pin(corpus, "size-gated") and hinting it directly —
    * gate-free — classified cleanly (r16 verdict finding #1). Now a
    * tagged pin under a hint in an UNBOUND query is a HARD violation,
    * and within bound queries the boundPinSideCounts entry freezes the
    * exact number of pin-classified sides, so a new ungated hint on an
    * already-tagged frame inside an already-bound query diverges from
    * the frozen count. The source tripwire below additionally freezes
    * the tag-literal call sites per file. */
  private val pinBoundAllowed: Map[String, Binding] = Map(
    "size-gated" -> Binding(Set("q57_tfidf_topterms", "q60_bigram_pmi",
      "q130_bench_contain", "q131_decontaminate_rewrite"),
      "the pin's EVERY broadcast hint is applied by " +
      "gateBroadcast/gateKnown under a runtime row count of this very " +
      "frame (<= BroadcastRowLimit, else the hint is a deterministic " +
      "merge instead) - q57's df table (DedupOps.gateBroadcast), " +
      "q60's unigram table, the bench suite shingle/chunk tables " +
      "(q130/q131), the q131 removal-verdict table (r19: the " +
      "containment verify tail q118b/q126 returned to the un-hinted " +
      "melt shape — its pigeonhole-pruned candidate set is ~100× " +
      "smaller, the small-candidate regime r18's A/B measured the melt " +
      "ahead in); WeightedSample.exactKPerGroup's winners ride the " +
      "same gate but reach no registry plan (SampleScaleProbe is " +
      "their surface)"),
    // (r19: the former trigram-freq:charset3 bound tag retired — q47's
    // LM table is now a collected LocalRelation, leavesLocal-classified)
    "centroids:label-rows" -> Binding(Set("q122_cluster_stats"),
      "q122's per-label centroid table: one row per label from a " +
      "label-keyed aggregate (labels are a bounded dimension - " +
      "broadcastAggKeyAllowed)"))

  /** WITNESS tags — corpus-scale pins REVIEWED for appearing under
    * hinted sides that are bounded by something ABOVE them (a bounding
    * aggregate, a runtime gate on the enclosing frame). A witness tag
    * never classifies a side by itself; it exists so the hygiene rule
    * below can insist every pin under a hint is a CONSCIOUS,
    * registered decision — the swap hatch (an unregistered pin
    * sliding under an existing hint) fails the suite. r17: witness
    * tags are query-bound too — reusing a reviewed tag under a hint in
    * a NEW query is a hard violation until the query is listed here
    * consciously (the review is per-query, not per-name). */
  private val pinWitnessAllowed: Map[String, Binding] = Map(
    "rankops-ranked-rows" -> Binding(Set("q45_hybrid_rrf", "q59_pack_plan",
      "q69_ntile_rank", "q79_epoch_shuffle", "q93_ccnet_buckets",
      "q108_padding_waste", "q114_drift_monitor", "q132_pack_sequences"),
      "RankOps' corpus-sized correctness pin; its hinted sides are " +
      "the offsets/sizes AGGREGATES keyed on (_pid, leg) above it - " +
      "bounded by the aggOk arm, not the pin (the RankOps consumer " +
      "queries)"),
    "verdict-doc-scalars" -> Binding(Set("q124_dedup_verdict",
      "q124b_dedup_verdict_banded", "q134_dedup_verdict_star"),
      "the dedup verdict's corpus-sized (doc_id, fp, q) pin; reaches " +
      "hinted sides only inside the gateKnown(nNodes)-gated " +
      "member/best frames"),
    "shingles-exploded" -> Binding(Set("q124_dedup_verdict",
      "q124b_dedup_verdict_banded", "q134_dedup_verdict_star"),
      "corpus-sized exploded-shingle pins (shingleBase / the banded " +
      "verdict's verify seam); reach hinted sides only under the " +
      "gateVictims-gated victims aggregate (runtime corpus-count " +
      "bound)"),
    "shingles-df-capped" -> Binding(Set("q121_subsume"),
      "the containment family's df-capped shingle pin (cap = DfCap " +
      "both join sides, ContainScaleProbe); reaches hinted sides only " +
      "under the gateVictims-gated victims aggregate"))

  /** EXACT count of hinted sides per query that only the boundPins arm
    * classifies (the ADVICE r16 ask): query binding alone still lets a
    * NEW ungated broadcast() hint on an already-bound-tagged frame
    * slip through inside an already-bound query — freezing the count
    * makes that hint diverge here the day it is written. Queries with
    * no entry must have zero such sides. */
  private val boundPinSideCounts: Map[String, Int] = Map(
    // (q47's trigram-LM side is a LocalRelation since r19 — zero
    // pin-classified sides, so no entry)
    "q57_tfidf_topterms" -> 1, // the gateBroadcast df table
    "q60_bigram_pmi" -> 2, // the unigram table joined as x and as y
    // (q118b/q126's verify returned to the un-hinted melt in r19 —
    // zero pin-classified sides, so no entries)
    "q122_cluster_stats" -> 2, // centroid table self-joined (|labels|^2)
    "q130_bench_contain" -> 1, // the bench shingle table
    "q131_decontaminate_rewrite" -> 1) // the removal-verdict join-back

  /** Per-query entries for hinted sides no structural rule covers —
    * after r16's pin tags these are ONLY raw dimension/eval parquet
    * relations (a scan can't carry a pin tag) plus the gateVictims
    * victim aggregates (bounded by a RUNTIME corpus-count gate the
    * static plan can't show; their pin leaves are witness-tagged, so
    * the side's SHAPE is still pinned). Each entry carries the EXACT
    * number of such sides, a LEAF pattern every one of them must scan
    * (the table file / the witness pin tag — a refactor that keeps the
    * count but swaps the SIDE, q04's 25-row nation dimension replaced
    * by a corpus-table scan, trips the pattern even though the count
    * stays 1), and (r17) the BOUNDING PREDICATE the side's own Filter
    * conditions must carry: for the eval/bench sides the table leaf is
    * corpus-scale and the FILTER is the bound, so before r17 a
    * refactor dropping q55's `doc_id < 10` bench filter — broadcasting
    * every corpus shingle — still matched the `documents.parquet`
    * pattern (r16 verdict finding #2). An empty predicate means the
    * whole leaf is the bound (a true dimension table, the documented
    * all-pairs oracle, a runtime-gated victim aggregate) — recorded in
    * the justification. */
  private val broadcastRawAllowed: Map[String, (Int, String, String, String)] = Map(
    "q04_join_agg" -> ((1, "nation.parquet", "",
      "nation dimension (25 rows - the whole table is the bound)")),
    "q16_cosine_topk" -> ((1, "embeddings.parquet", "(vec_id = 0L)",
      "one query vector")),
    "q25_knn_batch" -> ((1, "embeddings.parquet", "(vec_id < 5L)",
      "5 fixed query vectors")),
    "q31_embed_neardup" -> ((1, "embeddings.parquet", "",
      "all-pairs cosine oracle semantics on the embeddings table (no " +
      "filter by design); q32 is the blocked scale path")),
    "q42_topk_agg" -> ((1, "embeddings.parquet", "(vec_id < 5L)",
      "5 fixed query vectors")),
    "q55_contamination" -> ((1, "documents.parquet", "(doc_id < 10L)",
      "benchmark suite = the held-out docs BELOW the id cut; the " +
      "filter is the bound (dropping it would broadcast every corpus " +
      "shingle)")),
    "q98_retrieval_eval" -> ((1, "embeddings.parquet", "(vec_id < 8L)",
      "8 fixed eval queries")),
    "q99_hard_negatives" -> ((1, "embeddings.parquet", "(vec_id < 8L)",
      "8 fixed eval queries")),
    "q119_maxsim" -> ((1, "embeddings.parquet", "< 2L)",
      "2 fixed query docs' chunks ((vec_id div 4) < 2L)")),
    "q121_subsume" -> ((1, "graft.pin[shingles-df-capped]", "",
      "per-victim doc aggregate - pair-graph-sized, runtime-size-gated " +
      "(gateVictims: corpus-count bound; no static predicate to pin)")),
    "q124_dedup_verdict" -> ((1, "graft.pin[shingles-exploded]", "",
      "victims table - size-gated (gateVictims, runtime bound)")),
    "q124b_dedup_verdict_banded" -> ((1, "graft.pin[shingles-exploded]", "",
      "victims table - size-gated (runtime bound)")),
    "q125_eval_ci" -> ((1, "embeddings.parquet", "(vec_id < 1000L)",
      "1000-query eval set (bounded by the eval harness)")),
    "q134_dedup_verdict_star" -> ((1, "graft.pin[shingles-exploded]", "",
      "victims table - size-gated (runtime bound)")))

  /** The violation kinds a hinted side can carry. `hard` is
    * unconditional (no per-query budget can excuse it): a pin under a
    * forced broadcast whose tag is missing, unregistered, or not bound
    * to this query. `unclassified` sides — (message, leaf descriptor)
    * — are counted AND leaf-pattern-matched against
    * [[broadcastRawAllowed]]. `boundClassified` — leaf descriptors of
    * sides only the boundPins arm classifies — is exact-counted
    * against [[boundPinSideCounts]]. */
  private case class BroadcastAudit(hard: Seq[String],
      unclassified: Seq[(String, String, String)],
      boundClassified: Seq[String])

  /** What a hinted side actually reads, leaf by leaf: the parquet
    * table file for scans, the registered tag for pins — the handle
    * the counted entries' leaf patterns match against. */
  private def leafDesc(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String =
    p.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            "scan:" + fs.location.rootPaths.mkString(";")
          case other => "rel:" + other.getClass.getSimpleName
        }
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        "pin:" + Option(lr.rdd.name).getOrElse("<untagged>")
      case other => other.nodeName
    }.mkString(" | ")

  /** Every Filter condition inside a hinted side, as one string — what
    * the counted entries' required PREDICATES match against (r17: for
    * the eval/bench sides the leaf table is corpus-scale and the
    * filter IS the bound, so the leaf pattern alone let a filter-drop
    * refactor broadcast the whole table). Scanned on the optimized
    * logical plan, where V1 parquet filters are still Filter nodes. */
  private def condDesc(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String =
    p.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.sql.replaceAll("`", "")
    }.mkString(" AND ")

  /** Audits every broadcast-HINTED join side. Only explicit hints are
    * scanned: a stats-based broadcast degrades gracefully to a
    * shuffled join as the data grows, while broadcast()/
    * hint("broadcast") FORCES the collect at 100 TB — an unbounded
    * hinted side is the 8 GB broadcast wall (or a driver OOM) waiting
    * for the first real corpus. */
  private def broadcastHintAudit(
      df: org.apache.spark.sql.DataFrame,
      forQuery: String): BroadcastAudit = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, HintInfo, Join, LocalRelation, LogicalPlan,
      OneRowRelation}
    import org.apache.spark.sql.execution.LogicalRDD
    def pinTags(p: LogicalPlan): Seq[Option[String]] =
      p.collectLeaves().collect { case lr: LogicalRDD =>
        graft.operators.Pins.boundTag(lr.rdd.name) }
    // per-side pin hygiene: EVERY pin under a hinted side must carry a
    // registered tag (bound or witness) — the r15 swap hatch — AND the
    // tag must be bound to THIS query (r17: a tag is a name, and names
    // are never proofs; reusing a registered tag in a new query is a
    // conscious binding edit, not an inheritance)
    def hygiene(p: LogicalPlan): Seq[String] =
      pinTags(p).flatMap {
        case None => Some("UNTAGGED pin (LogicalRDD with no " +
          "graft.pin[...] name) under a forced broadcast")
        case Some(t) =>
          (pinBoundAllowed.get(t), pinWitnessAllowed.get(t)) match {
            case (None, None) =>
              Some(s"pin tag '$t' is not registered in pinBoundAllowed/" +
                "pinWitnessAllowed")
            case (Some(b), _) if !b.allows(forQuery) =>
              Some(s"BOUND pin tag '$t' is bound to ${b.queries.toSeq
                .sorted
                .mkString("{", ",", "}")}, not to $forQuery - a tag is " +
                "a name, not a proof; bind this query consciously in " +
                "pinBoundAllowed (and verify the call site rides the " +
                "tag's documented gate)")
            case (_, Some(b)) if !b.allows(forQuery) =>
              Some(s"WITNESS pin tag '$t' is reviewed only for " +
                s"${b.queries.toSeq.sorted.mkString("{", ",", "}")}, " +
                s"not for " +
                s"$forQuery - review the new hinted side's bound and " +
                "bind the query in pinWitnessAllowed")
            case _ => None
          }
      }
    // the classifying arms, in precedence order; boundPins is reported
    // separately so its per-query use count can be frozen
    def structuralOk(p: LogicalPlan): Boolean = {
      val leaves = p.collectLeaves()
      val leavesLocal = leaves.forall {
        case _: LocalRelation | _: OneRowRelation => true
        case _ => false
      }
      lazy val limited = p.collectFirst { case l: GlobalLimit => l }.isDefined
      // topmost aggregate decides the broadcast's row count; every
      // grouping key must be bound to THIS query (names are not proofs)
      lazy val aggOk = p.collectFirst { case a: Aggregate => a }.exists {
        a =>
          val keys = a.groupingExpressions
            .flatMap(_.references.toSeq.map(_.name)).distinct
          keys.isEmpty || keys.forall(k =>
            broadcastAggKeyAllowed.get(k).exists(_.allows(forQuery)))
      }
      leavesLocal || limited || aggOk
    }
    // an OPAQUE pinned side proves itself through a registered BOUND
    // tag whose binding includes THIS query: every leaf is such a pin
    // or a local relation (witness tags deliberately do NOT satisfy
    // this arm)
    def boundPinsOk(p: LogicalPlan): Boolean = {
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case lr: LogicalRDD =>
          graft.operators.Pins.boundTag(lr.rdd.name)
            .exists(t => pinBoundAllowed.get(t).exists(_.allows(forQuery)))
        case _: LocalRelation | _: OneRowRelation => true
        case _ => false
      }
    }
    val audits = df.queryExecution.optimizedPlan.collect {
      case j: Join =>
        def check(h: Option[HintInfo], side: String,
            pl: LogicalPlan): BroadcastAudit =
          if (h.exists(_.strategy.exists(_.toString.contains("broadcast")))) {
            val viaBound = !structuralOk(pl) && boundPinsOk(pl)
            BroadcastAudit(
              hygiene(pl).map(v => s"$side side: $v"),
              if (structuralOk(pl) || viaBound) Seq.empty
              else Seq((s"forced broadcast on the $side side",
                leafDesc(pl), condDesc(pl))),
              if (viaBound) Seq(leafDesc(pl)) else Seq.empty)
          } else BroadcastAudit(Seq.empty, Seq.empty, Seq.empty)
        Seq(check(j.hint.leftHint, "left", j.left),
          check(j.hint.rightHint, "right", j.right))
    }.flatten
    BroadcastAudit(audits.flatMap(_.hard), audits.flatMap(_.unclassified),
      audits.flatMap(_.boundClassified))
  }

  test("every FORCED broadcast is dimension-, aggregate-, gate-, limit- or pin-bounded") {
    SparkEntry.queries.keys.foreach { name =>
      val audit = broadcastHintAudit(SparkEntry.queries(name)(spark, dir), name)
      assert(audit.hard.isEmpty,
        s"$name has pin-hygiene violations under forced broadcasts:\n  " +
          audit.hard.mkString("\n  ") + "\nEvery pin that reaches a " +
          "broadcast()-hinted side must carry a tag registered in " +
          "pinBoundAllowed (the tag proves the side) or " +
          "pinWitnessAllowed (the side is bounded by an aggregate/" +
          "runtime gate above the pin) - Pins.pin(df, bound)")
      val (expected, pattern, pred) = broadcastRawAllowed.get(name)
        .map(e => (e._1, e._2, e._3)).getOrElse((0, "", ""))
      assert(audit.unclassified.size == expected,
        s"$name has ${audit.unclassified.size} structurally-" +
          s"unclassified hinted broadcast side(s), entry says " +
          s"$expected:\n  " + audit.unclassified.mkString("\n  ") +
          "\nAn explicit broadcast() hint collects the side into the " +
          "driver AT ANY SCALE. If the new side is bounded (dimension, " +
          "bounded-key aggregate, size-gated, bound-tagged pin), " +
          "register it (pin tag or per-query entry with justification); " +
          "otherwise drop the hint (let stats decide) or size-gate it " +
          "(DedupOps.gateBroadcast). A lower count means a stale " +
          "entry - shrink it")
      // the counted sides must also READ what the entry says they
      // read: a count-preserving swap of the side itself (nation
      // dimension -> corpus table) trips here
      audit.unclassified.foreach { case (msg, leaves, conds) =>
        assert(leaves.contains(pattern),
          s"$name: $msg reads [$leaves], but its entry pins the side " +
            s"to '$pattern' - a counted side was swapped; re-justify " +
            "the entry with the new side's leaf pattern")
        // ...and FILTER what the entry says they filter (r17): on the
        // eval/bench sides the leaf table is corpus-scale and the
        // filter is the bound - dropping it must trip here even though
        // leaf and count are unchanged
        assert(pred.isEmpty || conds.contains(pred),
          s"$name: $msg filters [$conds], but its entry requires the " +
            s"bounding predicate '$pred' - the side's bound was " +
            "dropped or rewritten; restore it or re-justify the entry")
      }
      // EXACT count of boundPins-classified sides (r17): a new
      // broadcast() hint on an already-bound-tagged frame inside an
      // already-bound query diverges from the frozen entry the day it
      // is written - verify the new hint rides the tag's documented
      // gate, then bump the entry consciously
      val expBound = boundPinSideCounts.getOrElse(name, 0)
      assert(audit.boundClassified.size == expBound,
        s"$name has ${audit.boundClassified.size} hinted side(s) " +
          s"classified by a BOUND pin tag, boundPinSideCounts says " +
          s"$expBound:\n  " + audit.boundClassified.mkString("\n  ") +
          "\nA higher count means a NEW hint was placed on a " +
          "bound-tagged frame: check it rides the tag's documented " +
          "gate (gateKnown under the frame's own count) before " +
          "bumping the entry. A lower count means a stale entry - " +
          "shrink it")
    }
    // binding hygiene, same as the window/residual nets: bound query
    // names must exist, or a dead binding silently blesses a future
    // query that reuses the name
    assertBindingsLive("broadcastAggKeyAllowed",
      broadcastAggKeyAllowed.map { case (k, b) => s"'$k'" -> b.queries })
    assertBindingsLive("pinBoundAllowed",
      pinBoundAllowed.map { case (t, b) => s"'$t'" -> b.queries })
    assertBindingsLive("pinWitnessAllowed",
      pinWitnessAllowed.map { case (t, b) => s"'$t'" -> b.queries })
    // boundPinSideCounts is keyed BY query name — same liveness rule
    assertBindingsLive("boundPinSideCounts",
      Seq("(keys)" -> boundPinSideCounts.keySet))
  }

  test("hatch closed: a blessed agg-key NAME does not bless a new query") {
    // the third symmetric binding: a hinted broadcast of an aggregate
    // grouped on a corpus-skewed column RENAMED to a blessed key
    // ('bucket' — a shingle stream wearing the DSIR bucket name) in an
    // unlisted query must stay unclassified, while q88's real bucket
    // aggregate classifies through its binding
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val fakeDim = docs
      .select(explode(split(col("text"), " ")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
    val planted = docs.join(broadcast(fakeDim),
      docs("lang") === fakeDim("bucket"))
    val v = broadcastHintAudit(planted, "q999_throwaway")
    assert(v.unclassified.nonEmpty,
      "a bucket-named skewed aggregate under a forced broadcast must " +
        "stay unclassified in an unlisted query")
    assert(broadcastHintAudit(
      SparkEntry.queries("q88_dsir_evidence")(spark, dir),
      "q88_dsir_evidence").unclassified.isEmpty,
      "q88's bound bucket aggregate must classify")
  }

  test("banned exemplar: a hinted corpus-side broadcast is flagged") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val planted = docs.as("a")
      .join(broadcast(Tables.load(spark, dir, "documents").as("b")),
        col("a.doc_id") === col("b.doc_id"))
    val v = broadcastHintAudit(planted, "q999_throwaway")
    assert(v.unclassified.nonEmpty, "a forced corpus broadcast must be flagged")
    // count-preserving SIDE swap (r16 leaf patterns): were this
    // documents-scan side swapped into q04's single counted slot, the
    // entry's 'nation.parquet' leaf pattern would reject it even
    // though the count stays 1
    val swappedDesc = v.unclassified.head._2
    assert(swappedDesc.contains("documents.parquet") &&
      !swappedDesc.contains(broadcastRawAllowed("q04_join_agg")._2),
      s"leaf descriptor must expose the swapped table: $swappedDesc")
    // and a 1-row stats broadcast (the repo's dominant legal shape) is not
    val stats = docs.agg(count(lit(1)).as("n"))
    val legal = docs.crossJoin(broadcast(stats))
    val la = broadcastHintAudit(legal, "q999_throwaway")
    assert(la.hard.isEmpty && la.unclassified.isEmpty)
  }

  test("hatch closed: a pinned-broadcast swap is flagged regardless of counts") {
    // the r15 hatch: a pinned side is an opaque LogicalRDD, so the net
    // counted unclassifiable hinted sides per query — replacing a
    // justified pinned broadcast with an UNBOUNDED pinned corpus side
    // kept the count at N and slipped through. Plant exactly that
    // swap: a query shape whose justified side is a bound-tagged pin,
    // with the pin swapped for (a) an untagged corpus pin and (b) a
    // pin tagged with an unregistered name — both now HARD violations
    // no per-query budget can excuse.
    import org.apache.spark.sql.functions._
    import graft.operators.Pins
    val docs = Tables.load(spark, dir, "documents")
    val justified = Pins.pin(
      docs.groupBy("lang").agg(count(lit(1)).as("c")), "size-gated")
    // forQuery must be BOUND for the tag since r17 (q999 would be a
    // binding hard-violation — the test one below plants that)
    val legit = docs.join(broadcast(justified), "lang")
    val lv = broadcastHintAudit(legit, "q57_tfidf_topterms")
    assert(lv.hard.isEmpty && lv.unclassified.isEmpty,
      s"the bound-tagged pinned broadcast must classify: $lv")
    assert(lv.boundClassified.size == 1,
      "a boundPins-classified side must be visible to the exact-count " +
        s"net: $lv")
    // (a) the swap: same query shape, same side count — untagged pin
    val swapped = docs.join(
      broadcast(Pins.pin(docs.select("doc_id", "lang"))), "lang")
    val sv = broadcastHintAudit(swapped, "q57_tfidf_topterms")
    assert(sv.hard.nonEmpty,
      "an untagged pinned corpus side under a forced broadcast must " +
        "be a HARD violation (the r15 count would have stayed at 1)")
    // (b) an unregistered tag is not a proof either
    val rogue = docs.join(
      broadcast(Pins.pin(docs.select("doc_id", "lang"),
        "totally-bounded-trust-me")), "lang")
    assert(broadcastHintAudit(rogue, "q57_tfidf_topterms").hard.exists(
      _.contains("totally-bounded-trust-me")),
      "an unregistered pin tag must be a HARD violation")
    // (c) a WITNESS tag is hygiene, not a proof: in a query the tag IS
    // reviewed for, the side still stays unclassified (witness pins
    // are legal only under sides bounded by something above them)
    val witness = docs.join(
      broadcast(Pins.pin(docs.select("doc_id", "lang"),
        "shingles-exploded")), "lang")
    val wv = broadcastHintAudit(witness, "q124_dedup_verdict")
    assert(wv.hard.isEmpty && wv.unclassified.nonEmpty,
      "a witness-tagged opaque pin must NOT classify a hinted side")
  }

  test("hatch closed: a registered pin TAG does not bless an unbound query or hint") {
    // the r16 verdict's finding #1, planted both ways: a registered
    // BOUND tag was trusted as a structural proof, so a NEW call site
    // writing Pins.pin(corpus, "size-gated") and hinting it directly —
    // gate-free — classified cleanly. r17 closes it twice over:
    import org.apache.spark.sql.functions._
    import graft.operators.Pins
    val docs = Tables.load(spark, dir, "documents")
    val corpusPin = Pins.pin(docs.select("doc_id", "lang"), "size-gated")
    // (1) in a query NOT bound for the tag, the tagged pin under a
    // hint is a HARD violation regardless of counts
    val unbound = docs.join(broadcast(corpusPin), "lang")
    val uv = broadcastHintAudit(unbound, "q999_throwaway")
    assert(uv.hard.exists(_.contains("BOUND pin tag 'size-gated'")),
      s"a bound-tagged corpus pin hinted in an UNBOUND query must be " +
        s"a hard violation: $uv")
    // (2) in a query that IS bound, the rogue hint classifies but is
    // COUNTED — boundPinSideCounts freezes the per-query count, so a
    // real registry query growing a second pin-classified side
    // diverges from its frozen entry (q57's is 1)
    val inBound = broadcastHintAudit(unbound, "q57_tfidf_topterms")
    assert(inBound.hard.isEmpty && inBound.boundClassified.size == 1,
      s"the exact-count net must see the pin-classified side: $inBound")
    // (3) a WITNESS tag reused in an unreviewed query is a hard
    // violation too (the review is per-query, not per-name)
    val wMisuse = docs.join(
      broadcast(Pins.pin(docs.select("doc_id", "lang"),
        "rankops-ranked-rows")), "lang")
    val wv = broadcastHintAudit(wMisuse, "q999_throwaway")
    assert(wv.hard.exists(_.contains("WITNESS pin tag 'rankops-ranked-rows'")),
      s"a witness tag in an unreviewed query must be a hard violation: $wv")
  }

  test("hatch closed: dropping a counted side's bounding filter is flagged") {
    // the r16 verdict's finding #2, planted: q55's entry pinned the
    // side to documents.parquet, but the BENCH FILTER is what bounds
    // it — a refactor that drops `doc_id < 10` and broadcasts every
    // corpus shingle still matched the leaf pattern. The r17 predicate
    // descriptor sees the filter set.
    import org.apache.spark.sql.functions._
    import graft.functions.gf
    val sh = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(gf.shingles(col("text"), 3))).as("s"))
    // q55's shape with the bench bound DROPPED: same leaf, same count
    val dropped = sh.filter(col("doc_id") >= 10)
      .join(broadcast(sh.select(col("doc_id").as("bench_doc"), col("s"))), "s")
    val dv = broadcastHintAudit(dropped, "q55_contamination")
    assert(dv.unclassified.size == 1, s"side must stay counted: $dv")
    val (_, leaves, conds) = dv.unclassified.head
    val (_, pattern, pred, _) = broadcastRawAllowed("q55_contamination")
    assert(leaves.contains(pattern),
      "the planted swap keeps the leaf pattern - that is the hatch")
    assert(!conds.contains(pred),
      s"the filter-drop must be visible to the predicate check: [$conds]")
    // and the REAL q55 carries the predicate its entry requires
    val real = broadcastHintAudit(
      SparkEntry.queries("q55_contamination")(spark, dir),
      "q55_contamination")
    assert(real.unclassified.size == 1 &&
      real.unclassified.head._3.contains(pred),
      s"q55's bench filter must satisfy its entry: ${real.unclassified}")
  }

  test("banned exemplar: q48's old residual self-join shape is flagged") {
    // the shape that motivated the net (commit 537b98d's parent):
    // equi on user_id alone, the 60 s range predicate left as a
    // residual - Θ(|bot user|²) candidates inside one SMJ key group
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val old = ev.as("a").join(ev.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("a.event_id") < col("b.event_id") &&
        abs(col("b.us") - col("a.us")) <= 60000000L)
      .groupBy(col("a.user_id")).agg(count(lit(1)).as("n_close_pairs"))
    val v = residualJoinViolations(old, "q48_range_join")
    assert(v.nonEmpty, "the q48 quadratic self-join must be flagged")
    assert(v.head.contains("user_id"))
    // and the shipped cumulative rewrite is clean
    assert(residualJoinViolations(
      Queries.q48RangeJoin(spark, dir), "q48_range_join").isEmpty)
  }

  test("hatch closed: a blessed equi-key NAME does not bless a new query") {
    // the r15 allowlist keyed on column-name sets alone — a future
    // unbounded join whose author named the key `bucket` inherited the
    // LSH justification silently. Plant exactly that: an events
    // self-join equi on a corpus-skewed column renamed `bucket`, time
    // residual left in the condition — flagged for any query NOT in
    // the binding, while the genuinely-justified q21 keeps passing.
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id").as("bucket"), col("event_id"),
        unix_micros(col("ts")).as("us"))
    val planted = ev.as("a").join(ev.as("b"),
      col("a.bucket") === col("b.bucket") &&
        col("a.event_id") < col("b.event_id") &&
        abs(col("b.us") - col("a.us")) <= 60000000L)
    val v = residualJoinViolations(planted, "q999_throwaway")
    assert(v.nonEmpty, "a bucket-named unbounded join in an unlisted " +
      "query must be flagged")
    assert(v.head.contains("justified only for"), v.head)
    // the binding still admits the real LSH query
    assert(residualJoinViolations(
      SparkEntry.queries("q21_minhash_lsh")(spark, dir),
      "q21_minhash_lsh").isEmpty)
  }
}
