package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.gf
import graft.index.IvfIndex

/** Structured Streaming surface of the engine.
  *
  * The reference has no streaming, but two of its lifecycles are naturally
  * streaming jobs (SURVEY.md §2.9): upload ingestion (server/upload.go —
  * flatten → chunk → embed → assign → append) and the periodic centroid
  * refresh (server/centroids.go — a triggered batch job). This module
  * expresses them with readStream/writeStream so ingestion scales to a
  * continuous 100 TB feed: every transform below is partition-local or a
  * keyed stateful op — no global shuffles, no driver collects.
  *
  * All transforms are plain DataFrame functions, so they run identically on
  * batch frames (tested against the DuckDB-oracled batch queries) and on
  * streaming frames (tested via MemoryStream).
  */
object Streams {

  /** Chunk-row id encoding used by the binary-index ingest sink and the
    * delete lifecycle: vec_id = doc_id·10⁵ + chunk_id (unique while docs
    * chunk under 100k pieces). */
  val ChunkVecIdBase = 100000L

  // ---------- upload ingestion (reference §3.2 as a stream) ----------

  /** Flatten → chunk → embed → nearest-centroid assign. Stateless and
    * partition-local ⇒ valid on a streaming frame; write with
    * `.writeStream.foreachBatch` appending parquet `partitionBy(centroid_id)`
    * so the IVF search path partition-prunes new data immediately.
    *
    * `provider` is the embed seam: None (default — tests, benchmarks,
    * oracles) keeps the deterministic noop expression inline in
    * codegen; Some(HttpProvider(...)) batches chunk texts to a real
    * embed service per partition ([[graft.functions.Embedder]]), which
    * is the reference's upload lifecycle against Ollama
    * (server/upload.go → ai/ollama/embed.go). Both paths emit the same
    * (qvec quantized, embedding dequantized) column pair. */
  def ingestChunks(docs: DataFrame, model: IvfIndex.Model,
      ctxNum: Int = 256, dim: Int = 64,
      provider: Option[graft.functions.EmbedProvider] = None): DataFrame =
    IvfIndex.assign(chunkEmbed(docs, ctxNum, dim, provider), "embedding", model)
      .select(col("doc_id"), col("chunk_id"), col("chunk"), col("qvec"),
        col("centroid_id"), col("centroid_sim"))

  /** [[ingestChunks]] up to (but not including) the centroid assign —
    * (doc_id, chunk_id, chunk, qvec, embedding). Exposed so a consumer
    * that has NO model yet (the REST server's first upload, a cold
    * bootstrap) can run the same flatten→chunk→embed composition and
    * then [[graft.index.IvfIndex.build]] from these embeddings instead
    * of assigning against a model that doesn't exist. `chunkPrefix`
    * carries the reference's per-request document prefix (upload.go:
    * prefix + section, then "search_document: " prepended — both land
    * in the section prefix here). */
  def chunkEmbed(docs: DataFrame, ctxNum: Int = 256, dim: Int = 64,
      provider: Option[graft.functions.EmbedProvider] = None,
      chunkPrefix: String = "search_document: "): DataFrame = {
    val chunked = docs
      .withColumn("flat", gf.flatten_doc(col("text")))
      .select(col("doc_id"),
        posexplode(gf.split_chunks(col("flat"), lit(chunkPrefix), lit(ctxNum)))
          .as(Seq("chunk_id", "chunk")))
    val embedded = provider match {
      case None =>
        chunked.withColumn("qvec", gf.noop_embed(col("chunk"), dim))
      case Some(p) =>
        graft.functions.Embedder.embedColumn(chunked, "chunk", p) // outCol = qvec
    }
    embedded.withColumn("embedding", gf.dequantize_vec(col("qvec")))
  }

  /** Run the ingest stream to a parquet directory, one IVF list per
    * partition directory. AvailableNow = the reference's periodic refresh
    * trigger: drain everything pending, then stop. Plain appends are
    * at-least-once across checkpoint loss — use [[runIngestUpsert]] for
    * the key-idempotent effectively-once sink. */
  def runIngest(docsStream: DataFrame, model: IvfIndex.Model,
      outDir: String, checkpointDir: String): Unit = {
    val q = ingestChunks(docsStream, model)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("centroid_id").parquet(outDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Ingest into a keyed [[graft.sources.ParquetStore]] via foreachBatch
    * upsert. Upsert is idempotent per key, so a batch replayed after a
    * crash/restart converges to the same store state — effectively-once
    * semantics on an at-least-once channel, the standard pattern for
    * keyed sinks without transactional storage. */
  def runIngestUpsert(docsStream: DataFrame, model: IvfIndex.Model,
      store: graft.sources.ParquetStore, checkpointDir: String,
      ctxNum: Int = 256, dim: Int = 64, compactAfter: Boolean = false): Unit = {
    val q = ingestChunks(docsStream, model, ctxNum, dim)
      .withColumn("chunk_key",
        concat(col("doc_id"), lit("#"), col("chunk_id")))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) store.upsertOrCreate(batch)
      }
      .start()
    q.awaitTermination()
    // AvailableNow has drained and the writer stopped — the only moment
    // store compaction is safe next to this writer (mirrors the binary
    // index's post-drain hook)
    if (compactAfter) store.compact(docsStream.sparkSession)
  }

  /** Ingest straight into the DSv2 binary index
    * ([[graft.sources.IvfBinarySource]]): each micro-batch V2-appends its
    * chunks into the list directories (the sink's declared clustering
    * shuffles per batch; part files are named by task id so batches never
    * collide), and the connector's mtime-validated planning caches pick
    * up the new files on the next search. chunk vec_id = doc_id·10⁵ +
    * chunk_id (unique while docs chunk under 100k pieces). */
  def runIngestBinary(docsStream: DataFrame, model: IvfIndex.Model,
      indexDir: String, checkpointDir: String,
      ctxNum: Int = 256, dim: Int = 64, compactAfter: Boolean = false): Unit = {
    val q = ingestChunks(docsStream, model, ctxNum, dim)
      .select((col("doc_id") * ChunkVecIdBase + col("chunk_id")).cast("long").as("vec_id"),
        col("qvec"), col("centroid_id").cast("int").as("centroid_id"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.format(graft.sources.IvfBinarySource.FORMAT)
          .mode("append").save(indexDir)
      }
      .start()
    q.awaitTermination()
    // each AvailableNow drain leaves one file per (micro-batch, list);
    // optionally fold them back to one per list while the stream is
    // stopped — the only moment compaction is safe next to this writer
    if (compactAfter)
      graft.sources.IvfBinarySource.compact(docsStream.sparkSession, indexDir)
  }

  /** Incremental corpus-growth tracking — the streaming twin of q80's
    * dedup-savings estimator: per source, an exact running doc count and
    * a Datasketches HLL sketch of distinct content fingerprints,
    * maintained across micro-batches in a |sources|-row parquet store.
    *
    * Why this shape scales: the stored state is |sources| rows of a few
    * KB each FOREVER (independent of stream length), each micro-batch
    * contributes one map-side-combined sketch per source, and the merge
    * is register-wise max — associative and commutative, so the stored
    * estimate is IDENTICAL to sketching the whole corpus in one batch
    * (spec-pinned exact, not approximate, equality), and a batch
    * replayed after a crash only re-maxes registers it already fed
    * (idempotent merge; the doc counter is the at-least-once caveat).
    * The merged frame is localCheckpointed before the overwrite so the
    * read-modify-write on one path never races its own scan. */
  def runGrowthTracker(docsStream: DataFrame, storeDir: String,
      checkpointDir: String, lgK: Int = 14): Unit = {
    val q = docsStream
      .select(col("source"), md5(lower(trim(col("text")))).as("fp"))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val delta = batch.groupBy("source")
            .agg(count(lit(1)).as("n_docs"),
              hll_sketch_agg(col("fp"), lit(lgK)).as("sk"))
          val existing =
            if (new java.io.File(storeDir).exists()) s.read.parquet(storeDir)
            else delta.limit(0)
          val merged = existing.unionByName(delta)
            .groupBy("source")
            .agg(sum("n_docs").as("n_docs"), hll_union_agg(col("sk")).as("sk"))
            .localCheckpoint(true) // pin rows BEFORE overwriting their source
          merged.write.mode("overwrite").parquet(storeDir)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Read the tracker store as the q80-shaped report (per source: exact
    * doc count, estimated distinct fingerprints, duplicate fraction). */
  def growthReport(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(storeDir)
      .select(col("source"), col("n_docs"),
        hll_sketch_estimate(col("sk")).as("approx_distinct"))
      .withColumn("dup_frac",
        round(lit(1.0) - col("approx_distinct") / col("n_docs"), 4))

  /** Incremental PCA — the streaming twin of [[graft.operators.Pca.fit]]:
    * each micro-batch contributes its (n, Σx, ΣxxT) moments buffer (one
    * partial-merged aggregate, a single fixed-width row), and the store
    * holds the element-wise SUM of every batch's buffer — moments are
    * additive over any partitioning of the corpus, so refitting from the
    * store equals fitting the whole history in one pass (up to f64
    * summation order; spec pins ~1e-9 relative agreement) without ever
    * re-scanning it. The model-refresh-under-ingest shape: state is ONE
    * d(d+3)/2-double row forever. */
  def runMomentsTracker(vecsStream: DataFrame, vecCol: String, dim: Int,
      storeDir: String, checkpointDir: String): Unit = {
    val q = vecsStream
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          import s.implicits._
          val delta = graft.operators.Pca.momentsFrame(batch, vecCol, dim)
            .head().getSeq[Double](0).toArray
          val merged =
            if (new java.io.File(storeDir).exists()) {
              val cur = s.read.parquet(storeDir).head().getSeq[Double](0).toArray
              require(cur.length == delta.length, "moments dim changed mid-stream")
              cur.zip(delta).map { case (a, b) => a + b }
            } else delta
          // one tiny row: write-then-swap not needed, the frame is local
          Seq(Tuple1(merged.toSeq)).toDF("m")
            .write.mode("overwrite").parquet(storeDir)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Refit the PCA model from the tracked moments store. */
  def pcaModel(s: SparkSession, storeDir: String, dim: Int,
      k: Int): graft.operators.Pca.Model = {
    val m = s.read.parquet(storeDir).head().getSeq[Double](0).toArray
    graft.operators.Pca.modelFromMoments(m, dim, k)
  }

  // ---------- streaming dedup ----------

  /** Exact streaming dedup by content fingerprint: keep the first arrival
    * of each md5(normalized text), with bounded state — the watermark lets
    * Spark expire fingerprints older than the lateness horizon. This is the
    * streaming twin of q18_exact_dedup. */
  def streamingExactDedup(docs: DataFrame, watermarkCol: String = "ts",
      lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withWatermark(watermarkCol, lateness)
      .dropDuplicates("fp")

  /** Model-based quality gating on a document stream — the streaming
    * twin of q78 (`CurationQueries.q78QualityClassifier`), sharing its
    * scorer verbatim. Stateless pure map (no shuffle, no watermark, no
    * state store), so it composes in front of any ingest stream and a
    * failed micro-batch replays identically. Emits the input columns
    * plus n_toks / qscore / keep; filter on `keep` (or a stricter
    * qscore threshold) before the expensive embed step. */
  def qualityGate(docs: DataFrame): DataFrame =
    graft.CurationQueries.scoreQuality(docs)

  /** Validation gate on an ingest stream — [[graft.operators.Expectations]]
    * run per micro-batch: a batch that passes EVERY check appends to
    * `outDir`; a batch with any violation is quarantined WHOLE to
    * `quarantineDir/batch=<id>/` with its check report alongside
    * (`report-<id>.json`), because a violated expectation (dup ids, nulls,
    * broken invariants) means the UPSTREAM producer is broken and the
    * operator should inspect, fix, and replay the batch — row-level
    * salvage would hide the breakage. Cost is one extra aggregate pass
    * over each micro-batch (the suite compiles to a single scan); no
    * state store, no watermark, and a replayed batch gates identically
    * since every check is a pure aggregate of the batch. At-least-once
    * on crash-before-commit, like every foreachBatch sink here. */
  def runValidationGate(docsStream: DataFrame,
      checks: Seq[graft.operators.Expectations.Check],
      outDir: String, quarantineDir: String, checkpointDir: String): Unit = {
    val q = docsStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val report = graft.operators.Expectations.run(batch, checks)
            .collect() // |checks| rows
          if (report.forall(_.getAs[Boolean]("pass")))
            batch.write.mode("append").parquet(outDir)
          else {
            val dest = s"$quarantineDir/batch=$id"
            batch.write.mode("overwrite").parquet(dest)
            val json = report.map(r =>
              s"""{"check":"${r.getString(0)}","n_rows":${r.getLong(1)},""" +
                s""""violations":${r.getLong(2)},"pass":${r.getBoolean(3)}}""")
              .mkString("[", ",", "]")
            val dir = java.nio.file.Paths.get(quarantineDir)
            java.nio.file.Files.createDirectories(dir)
            java.nio.file.Files.write(dir.resolve(s"report-$id.json"),
              json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
          ()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Continuous curation's LAST mile: every micro-batch appends into
    * the training shards and merges the `_manifest.json`
    * ([[graft.sources.TrainingExport.appendShards]] — rows/tokens add,
    * digests xor-fold, so the accumulated manifest is byte-identical to
    * a one-shot export of everything drained, spec-pinned). Compose
    * after the gate trio (exact → LSH → semantic) + [[qualityGate]] so
    * only curated rows reach the shards. Appends are at-least-once
    * across checkpoint loss (a batch replayed after a crash-before-
    * commit double-counts — same contract as [[runIngest]]); within a
    * healthy checkpoint lifecycle each batch lands exactly once. After
    * the drain, a batch [[graft.sources.TrainingExport.exportShards]]
    * over the accumulated corpus is the deterministic compaction. */
  def runExportAppend(docsStream: DataFrame, outDir: String,
      nShards: Int, seed: Long, checkpointDir: String): Unit = {
    val q = docsStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sources.TrainingExport.appendShards(batch, outDir, nShards, seed)
          ()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Incremental-ingest dedup against the HISTORICAL corpus: drop stream
    * documents whose content fingerprint (same md5(lower(trim)) as
    * q18/streamingExactDedup) already exists in a static fingerprint
    * table — a stream-static left_anti join. The static side's bytes are
    * re-scanned every micro-batch but its FILE LISTING is resolved once
    * at stream start (file-source snapshot semantics): fingerprints
    * appended after start are not seen until restart — compose with
    * [[streamingExactDedup]] downstream to drop in-stream duplicates, and
    * restart (or run foreachBatch with a fresh read) to pick up corpus
    * growth. State is zero because the static side is storage, not
    * stream state. `corpusFps` needs one `fp` column (store it bucketed
    * so the per-batch join prunes). */
  def dedupAgainstCorpus(docsStream: DataFrame, corpusFps: DataFrame): DataFrame =
    docsStream
      .withColumn("fp", md5(lower(trim(col("text")))))
      .join(corpusFps.select("fp"), Seq("fp"), "left_anti")

  /** Containment gate on an ingest stream — the incremental twin of
    * q123 ([[graft.DedupQueries.q123CrossContain]]), completing the
    * streaming dedup quartet: exact fingerprint
    * ([[dedupAgainstCorpus]]), syntactic LSH
    * ([[streamingNeardupPairs]]), semantic ([[semanticGate]]), and
    * near-superset (here). Runs in foreachBatch because the
    * per-(corpus-doc, arrival) intersection count is a plain batch
    * aggregate there — a streaming groupBy would pin every pair key in
    * the state store forever. Per micro-batch: arrivals explode to
    * distinct shingles (counts batch-bounded), join the PRECOMPUTED
    * df-capped corpus shingle table ([[graft.DedupQueries
    * .containmentShingles]] — pass it pinned/stored, not recomputed) on
    * the shingle key, and every arrival lands in `outDir` with
    * `contained` (it is a C ≥ thresh copy of a held doc → drop),
    * `supersedes` (it strictly extends a held doc → replace), and the
    * match count. The corpus side is semi-filtered by the batch's
    * shingles at the equi-join, so each batch costs O(batch), never
    * O(corpus). BOTH sides subtract the corpus's stop set
    * ([[graft.DedupQueries.containmentStopShingles]], stored beside the
    * shingle table): the corpus counts are df-capped at build time, so
    * arrival counts must drop the same boilerplate — a raw arrival
    * count against capped corpus counts would skew min() and flip the
    * direction tie (a boilerplate-heavy duplicate would read as
    * `supersedes` and REPLACE the stored doc with a copy). Arrivals
    * additionally carry a BATCH-LOCAL df cap: template spam arriving at
    * volume inside one micro-batch is boilerplate the corpus stop set
    * has never seen, and without the cap it re-creates the hot-bucket
    * join blowup (and the min() skew) batch-side. Docs that lost
    * shingles to that batch cap emit `capped_frac` (fraction of
    * post-stop-set shingles dropped) and `capped` (frac >= 0.5): a
    * recrawl flood of one popular page is indistinguishable from
    * template spam inside a batch, so capped-out docs do NOT pass
    * silently as novel — they are ROUTED through an exact batch verify
    * (the q123 shape, uncapped batch side vs the df-capped corpus) and
    * their `contained`/`supersedes`/`n_matches` come from that pass
    * (`verified` = true marks the routed rows).
    * Stateless; snapshot semantics as [[dedupAgainstCorpus]]. */
  def runContainmentGate(docsStream: DataFrame, corpusShingles: DataFrame,
      stopShingles: DataFrame, outDir: String, checkpointDir: String,
      thresh: Double = 0.9): Unit = {
    val q = docsStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ex = batch.select(col("doc_id"),
            explode(array_distinct(
              gf.shingles(col("text"), graft.DedupQueries.N))).as("s"))
          .join(stopShingles, Seq("s"), "left_anti")
          // batch-bounded; kernel once — feeds the df aggregate, the
          // per-doc raw counts, and the probe join
          .localCheckpoint(true)
        // BATCH-LOCAL df cap, the same quadratic guard the corpus side
        // was built under: a template-spam batch (one phrase arriving
        // at volume) would otherwise re-create the hot-bucket blowup
        // batch-side — the corpus stop set only knows the CORPUS's
        // boilerplate — and batch-shared phrases would skew the min()
        // normalization exactly the way corpus boilerplate did. The cap
        // is a groupBy partial aggregate joined back, NOT a shingle-key
        // window: a flood batch's hottest shingle must not funnel the
        // batch through one task before the cap can drop it.
        val sh = ex.join(
            ex.groupBy("s").agg(count(lit(1)).as("bdf"))
              .filter(col("bdf") <= graft.DedupQueries.DfCap), "s")
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
          .select("doc_id", "s", "n")
          .localCheckpoint(true) // joined once below, aggregated once
        // shingles-lost accounting: a doc whose shingles were mostly
        // eaten by the BATCH cap got no real containment check this
        // batch (a >cap recrawl flood of one true duplicate looks
        // exactly like template spam here), so it must not pass
        // silently as novel — `capped` routes it to the exact batch
        // verify (the q123 shape) instead of straight into the corpus
        val rawN = ex.groupBy("doc_id").agg(count(lit(1)).as("raw_n"))
        val survN = sh.groupBy("doc_id").agg(first(col("n")).as("surv_n"))
        val pairs = corpusShingles.as("a")
          .join(sh.as("b"), col("a.s") === col("b.s"))
          .groupBy(col("a.doc_id").as("doc_old"), col("b.doc_id").as("doc_id"))
          .agg(count(lit(1)).as("i"),
            first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
          .withColumn("c", col("i").cast("double") / least(col("na"), col("nb")))
          .filter(col("c") >= thresh)
        val verdicts = pairs.groupBy("doc_id")
          .agg(max(when(col("nb") <= col("na"), 1).otherwise(0)).as("_cont"),
            max(when(col("nb") > col("na"), 1).otherwise(0)).as("_sup"),
            count(lit(1)).as("n_matches"))
        val gated = batch.select("doc_id").join(verdicts, Seq("doc_id"), "left")
          .join(rawN, Seq("doc_id"), "left")
          .join(survN, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_cont") === 1, lit(false)).as("contained"),
            coalesce(col("_sup") === 1, lit(false)).as("supersedes"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            round(when(coalesce(col("raw_n"), lit(0L)) === 0, lit(0.0))
              .otherwise(lit(1.0) - coalesce(col("surv_n"), lit(0L))
                .cast("double") / col("raw_n")), 4).as("capped_frac"),
            (when(coalesce(col("raw_n"), lit(0L)) === 0, lit(0.0))
              .otherwise(lit(1.0) - coalesce(col("surv_n"), lit(0L))
                .cast("double") / col("raw_n")) >= 0.5).as("capped"))
          .localCheckpoint(true) // read twice: capped routing + final join
        // ROUTED exact verify for capped-out docs (the q123 shape): their
        // FULL post-stop-set shingle counts against the df-capped corpus
        // table. The batch cap blinded the in-batch check for these docs
        // (a >cap recrawl flood of one true duplicate is indistinguishable
        // from template spam batch-side), so their verdict comes from this
        // pass, not the flag. Bounded: the corpus side is df-capped, so
        // each capped shingle fans out ≤ DfCap corpus rows — and the
        // verify joins capped docs against the CORPUS, never against the
        // batch, so a 70-copy flood never grinds 70² pairs.
        val cappedIds = gated.filter(col("capped")).select("doc_id")
        val out = if (cappedIds.isEmpty) {
          // common case — no flood this batch: skip the corpus-join
          // verify entirely (isEmpty is one cheap scan of the pinned
          // batch-sized gated frame; the corpus side never plans)
          gated.withColumn("verified", lit(false))
        } else {
          val exC = ex.join(cappedIds, Seq("doc_id"), "left_semi")
          val vb = exC.join(
            exC.groupBy("doc_id").agg(count(lit(1)).as("nb")), Seq("doc_id"))
          val vVerd = corpusShingles.as("a")
            .join(vb.as("b"), col("a.s") === col("b.s"))
            .groupBy(col("a.doc_id").as("doc_old"), col("b.doc_id").as("doc_id"))
            .agg(count(lit(1)).as("i"),
              first(col("a.n")).as("na"), first(col("b.nb")).as("vnb"))
            .withColumn("c", col("i").cast("double") / least(col("na"), col("vnb")))
            .filter(col("c") >= thresh)
            .groupBy("doc_id")
            .agg(max(when(col("vnb") <= col("na"), 1).otherwise(0)).as("v_cont"),
              max(when(col("vnb") > col("na"), 1).otherwise(0)).as("v_sup"),
              count(lit(1)).as("v_matches"))
          gated.join(vVerd, Seq("doc_id"), "left")
            .select(col("doc_id"),
              when(col("capped"), coalesce(col("v_cont") === 1, lit(false)))
                .otherwise(col("contained")).as("contained"),
              when(col("capped"), coalesce(col("v_sup") === 1, lit(false)))
                .otherwise(col("supersedes")).as("supersedes"),
              when(col("capped"), coalesce(col("v_matches"), lit(0L)))
                .otherwise(col("n_matches")).as("n_matches"),
              col("capped_frac"), col("capped"),
              // verified = this row's verdict came from the routed exact
              // pass rather than the in-batch capped check
              col("capped").as("verified"))
        }
        out.write.mode("append").parquet(outDir)
      }
      .start()
    q.awaitTermination()
  }

  /** Contamination gate on an ingest stream — the streaming twin of
    * q87: flag (or drop) arriving documents that share ≥ `minShared`
    * distinct shingles with a held-out benchmark set, summarized as a
    * BROADCAST Bloom filter over benchmark shingle hashes. Stateless:
    * the probe is a row-local codegen expression, so there is no state
    * store, no watermark, and a replayed micro-batch gates identically.
    * The bloom admits ~fpp false hits per clean shingle, so `hits` is a
    * small OVERCOUNT bound (never an undercount — a benchmark shingle
    * always probes true): docs below `minShared` even WITH the fp slack
    * are certainly clean, which is the triage a stream can do without
    * joining the benchmark table; route the flagged tail through the
    * exact batch verify (q87's join) before discarding anything. */
  def contaminationGate(docs: DataFrame,
      benchBloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter],
      minShared: Int = 3): DataFrame =
    docs
      .withColumn("_sh", array_distinct(gf.shingles(col("text"), 3)))
      .withColumn("hits",
        size(filter(transform(col("_sh"),
            s => gf.bloom_might_contain(xxhash64(s), benchBloom)),
          h => h)))
      .withColumn("contaminated", col("hits") >= minShared)
      .drop("_sh")

  /** Benchmark-DECONTAMINATION gate on an ingest stream — the streaming
    * twin of q130 ([[graft.DedupQueries.benchContainment]]), giving
    * continuous ingest the same release-audit rule the batch export
    * path applies through [[graft.CurationRun.Decontaminate]]: an
    * arriving document is contaminated when ≥ 80% of some benchmark
    * example's distinct shingles appear in it. Where
    * [[contaminationGate]] is the cheap bloom TRIAGE (absolute shared
    * count, overcount-bounded, no join), this is the EXACT verdict —
    * run it on everything when the suite is modest, or behind the
    * bloom's flagged tail when it is not.
    *
    * foreachBatch (the q123 pattern): the per-(bench, arrival)
    * intersection count is a plain batch aggregate there — a streaming
    * groupBy would pin every pair key in the state store forever. The
    * suite is PREPARED ONCE before the stream starts
    * ([[graft.DedupQueries.prepareBench]] — pinned shingle/size
    * tables), so an AvailableNow catch-up over thousands of batches
    * re-probes the pin instead of re-running thousands of identical
    * suite-side explode jobs; the probe join is size-gated (broadcast
    * for a normal suite, sort-merge for a union-of-all-suites bench)
    * and the batch's text never shuffles.
    *
    * Each arrival is keyed by a per-batch synthetic row id for the
    * verdict join-back — never null, never duplicated — so a NULL
    * doc_id arrival gets ITS OWN verdict (a using-join on doc_id
    * silently coalesced such rows to contaminated=false: a false-clean
    * from a safety gate) and at-least-once duplicate arrivals emit one
    * receipt row each, not a cross-product. Every arrival lands in
    * `outDir` with its worst-case containment, hit count, and the
    * `contaminated` verdict — the quarantine split is a downstream
    * filter on that column, so the audit trail keeps the clean rows'
    * receipts too. Stateless: a replayed micro-batch gates
    * identically. */
  def runDecontaminationGate(docsStream: DataFrame, bench: DataFrame,
      outDir: String, checkpointDir: String): Unit = {
    val prep = graft.DedupQueries.prepareBench(bench) // once, not per batch
    val q = docsStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pin the keyed batch: the row id must be IDENTICAL on the
        // probe side and the join-back side, and an unpinned batch can
        // recompute with a different partition layout between the two.
        // DELIBERATELY a one-copy localCheckpoint, not Pins.pin: on a
        // cluster Pins.pin would replicate every micro-batch, and
        // micro-batch replay covers block loss — a batch whose pin
        // blocks die with an executor fails the batch, and the stream
        // REPLAYS it from the checkpointed offsets (unlike a batch
        // export, where a lost pin kills the whole run)
        val keyed = batch.select(col("doc_id"), col("text"))
          .withColumn("_rid", monotonically_increasing_id())
          .localCheckpoint(true)
        val pairs = graft.DedupQueries.benchContainment(
          keyed.select(col("_rid").as("doc_id"), col("text")), prep)
        val per = pairs.groupBy(col("corpus_doc").as("_rid"))
          .agg(max(col("containment")).as("max_containment"),
            max(when(col("contaminated"), 1).otherwise(0)).as("_c"),
            count(lit(1)).as("n_bench_hits"))
        keyed.join(per, Seq("_rid"), "left")
          .select(col("doc_id"), col("text"),
            coalesce(col("max_containment"), lit(0.0)).as("max_containment"),
            coalesce(col("n_bench_hits"), lit(0L)).as("n_bench_hits"),
            coalesce(col("_c") === 1, lit(false)).as("contaminated"))
          .write.mode("append").parquet(outDir)
        // batch-scoped pin: release its blocks before the next batch
        graft.operators.DedupOps.releaseCheckpoint(keyed)
      }
      .start()
    // the suite pin outlives its last probe — release it with the run,
    // on the failure path too (a long-lived driver may catch a batch
    // error and restart the gate; the old pin must not linger)
    try q.awaitTermination()
    finally graft.operators.DedupOps.releaseCheckpoint(prep.shingles)
  }

  /** The REWRITE twin of [[runDecontaminationGate]] — q131's span
    * surgery applied per micro-batch (the PaLM/GPT-4 report shape:
    * cut the leaked 8-token chunks, keep the rest of the arriving
    * document), mirroring the batch export's
    * [[graft.CurationRun.Decontaminate.Rewrite]] so ingest and export
    * apply one rule. Every arrival lands in `outDir` with its cleaned
    * `text`, chunk accounting, and a `dropped` flag for fully-leaked
    * docs (empty after surgery — nothing to train on; kept as a row so
    * the audit trail holds the receipt, filtered by the consumer).
    * Same plan per batch as q131 — size-gated benchmark chunk set,
    * batch text never shuffles, removal verdicts ride per-row idx
    * arrays — with the suite chunk set PREPARED ONCE before the stream
    * starts ([[graft.AnalyticsQueries.prepareRewriteBench]]), and each
    * arrival keyed by a per-batch synthetic row id exactly like
    * [[runDecontaminationGate]]: a null-doc_id arrival lands with its
    * receipt (the previous inner using-join dropped it), and m
    * duplicate arrivals of one doc_id emit m receipt rows, not m².
    * Stateless; replayed micro-batches rewrite identically. */
  def runDecontaminationRewrite(docsStream: DataFrame, bench: DataFrame,
      outDir: String, checkpointDir: String): Unit = {
    val prep = graft.AnalyticsQueries.prepareRewriteBench(bench) // once
    val q = docsStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // pinned synthetic row key — deliberately a one-copy
        // localCheckpoint, not Pins.pin: micro-batch replay covers
        // block loss (see runDecontaminationGate)
        val keyed = batch.select(col("doc_id"), col("text"))
          .withColumn("_rid", monotonically_increasing_id())
          .localCheckpoint(true)
        // the pinned removal-verdict frame comes back alongside the
        // result so this batch can RELEASE it after the write — the
        // plain form would strand one verdict pin per micro-batch
        // until plan GC (an AvailableNow catch-up runs thousands).
        // That verdict pin goes through Pins.pin, so a cluster keeps a
        // replica of it too; it holds one row per leaked arrival, so
        // the replica is cheap.
        val (rew0, removedPin) =
          graft.AnalyticsQueries.decontaminateRewritePinned(
            keyed.select(col("_rid").as("doc_id"), col("text")), prep)
        val rew = rew0.withColumnRenamed("doc_id", "_rid")
        // inner join is exact here: every _rid appears exactly once on
        // each side (the rewrite emits one row per input row)
        keyed.drop("text").join(rew, Seq("_rid"))
          .select(col("doc_id"), col("text_kept").as("text"),
            col("n_chunks"), col("n_removed"),
            (length(trim(col("text_kept"))) === 0).as("dropped"))
          .write.mode("append").parquet(outDir)
        graft.operators.DedupOps.releaseCheckpoint(keyed)
        graft.operators.DedupOps.releaseCheckpoint(removedPin)
      }
      .start()
    try q.awaitTermination()
    finally graft.operators.DedupOps.releaseCheckpoint(prep.chunks)
  }

  // ---------- windowed aggregation with watermark ----------

  /** Tumbling event-time window counts per event type (the streaming twin
    * of q12_time_agg). Late rows beyond the watermark are dropped; state
    * for closed windows is evicted — bounded memory at any scale. */
  def windowedEventStats(events: DataFrame, window_ : String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  // ---------- stream-stream join ----------

  /** Watermarked stream-stream inner join: pair each left event with
    * right events for the same key within `withinSeconds` AFTER it.
    * Both sides carry watermarks and the join condition bounds event-time
    * distance, so Spark can expire buffered state — the join works on an
    * unbounded pair of streams with bounded memory. */
  def joinWithinWindow(left: DataFrame, right: DataFrame, key: String,
      withinSeconds: Long, lateness: String = "30 minutes"): DataFrame = {
    // flat prefix-renamed columns: packing ts into a struct would give a
    // stream two event-time columns, which Spark rejects
    val l = left.withWatermark("ts", lateness)
      .toDF(left.columns.map("l_" + _): _*)
    val r = right.withWatermark("ts", lateness)
      .toDF(right.columns.map("r_" + _): _*)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinSeconds SECONDS"))
  }

  // ---------- stateful sessionization ----------

  // ---------- incremental heavy hitters ----------

  final case class MgState(n: Long, keys: Array[String], counts: Array[Long])
  final case class BucketCandidates(bucket: Long, n: Long,
                                    candidates: Seq[String])

  /** Streaming heavy-hitter candidates — the incremental twin of q83's
    * Misra-Gries pruning pass. Tokens hash into `buckets` keyed groups,
    * each holding ONE bounded [[graft.functions.MisraGries]] summary in
    * state: k counters per bucket, so state is k·buckets forever,
    * independent of stream length. Every occurrence of a token lands in
    * the same bucket, so the token's in-bucket count IS its global
    * count while the bucket absorbs at most the whole stream — the MG
    * no-false-negative guarantee transfers: any token with global
    * frequency > n/(k+1) of the TOTAL stream is in its bucket's
    * candidate set. Update-mode output re-emits a bucket's refreshed
    * candidates whenever a batch touches it (take the max-n row per
    * bucket for the current view); the exact verification count stays
    * q83's batch pass 2 over the candidate union. */
  def frequentTokenCandidates(docs: DataFrame, k: Int = 31,
      buckets: Int = 64)(implicit spark: SparkSession)
      : Dataset[BucketCandidates] = {
    import spark.implicits._
    docs
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("tok"),
        pmod(xxhash64(col("tok")), lit(buckets.toLong)).as("bucket"))
      .as[(String, Long)]
      .groupByKey(_._2)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (bucket: Long, rows: Iterator[(String, Long)],
         st: GroupState[MgState]) => {
          val mg = st.getOption
            .map(s => graft.functions.MisraGries.restore(k, s.n, s.keys, s.counts))
            .getOrElse(new graft.functions.MisraGries(k))
          mg.addAll(rows.map(_._1))
          val (ks, cs) = mg.estimates.toArray.unzip
          st.update(MgState(mg.n, ks, cs))
          BucketCandidates(bucket, mg.n, ks.toSeq.sorted)
        })
  }

  final case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  /** Per-user bounded-history state: the k most-recent (ts_us,
    * event_id) pairs as parallel arrays (compact, encoder-friendly) —
    * k-bounded by construction, so a crawl-scale bot costs k state
    * slots, never a growing history. */
  final case class HistState(tsUs: Array[Long], ids: Array[Long])
  final case class SessState(startUs: Long, lastUs: Long, n: Int)
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Int)
  final case class DupPair(doc_id: Long, canonical_id: Long, bucket: String)
  /** One CLOSED drift window: final the moment it is emitted (append
    * semantics — no retraction needed, unlike the bounded-history
    * snapshots). */
  final case class DriftWin(source: String, bucket: Long, n_docs: Long,
      mean_q: Double, drift: Double)
  /** Per-source drift state: open-window partials as parallel arrays
    * (bucket start / count / quality sum) plus three scalars for every
    * window ever closed. Open windows are bounded by the allowed
    * lateness (≤ lateness/windowLen + 2 concurrently open); the closed
    * history is three scalars however long the stream runs. */
  final case class DriftState(openStarts: Array[Long], openNs: Array[Long],
      openSums: Array[Double], closedN: Long, closedSum: Double,
      lastClosedStart: Long)

  // ---------- streaming near-dup candidate pairs (MinHash LSH) ----------

  /** Semantic near-dup gate on an embedding stream — the incremental
    * twin of q94/[[graft.operators.DedupOps.semDedup]], completing the
    * streaming gate trio: exact fingerprint ([[dedupAgainstCorpus]]),
    * syntactic LSH ([[streamingNeardupPairs]]), semantic (here). Each
    * arriving vector is assigned to its nearest centroid by the SAME
    * broadcast codegen argmax the batch index uses, then compared only
    * against that one cluster's corpus members via a stream-static
    * equi-join on centroid_id — the SemDeDup cost model (Σ per-arrival
    * cluster sizes, never a corpus cross-join), and when the corpus side
    * is the list-partitioned index, partition pruning per micro-batch.
    * Emits every arrival with its assignment and the `dup` verdict at ε.
    *
    * Stateless BY CONSTRUCTION: the exists-a-neighbor verdict is a
    * stream-static left_semi / left_anti pair — no state store, no
    * watermark, and crucially no streaming aggregation (a groupBy-max
    * formulation would pin every vec_id ever seen in the state store) —
    * so a replayed batch gates identically; snapshot semantics as
    * [[dedupAgainstCorpus]] (restart to see corpus growth). In-stream
    * duplicates are NOT decided here: land accepted vectors and run the
    * batch verdict ([[graft.operators.DedupOps.semDedup]]) on a cadence,
    * which also supplies per-pair detail (best match, similarity) that a
    * stateless gate cannot aggregate. */
  def semanticGate(vecsStream: DataFrame, model: IvfIndex.Model,
      corpus: DataFrame, eps: Double = 0.35): DataFrame = {
    val assigned = IvfIndex.assign(vecsStream, "embedding", model)
      .select(col("vec_id"), col("embedding"), col("centroid_id"))
    val members = corpus.select(col("centroid_id").as("_ccid"),
      col("embedding").as("_cvec"))
    val near = col("centroid_id") === col("_ccid") &&
      (round(gf.cosine_sim(col("embedding"), col("_cvec")), 4) + 0.0) >= eps
    assigned.join(members, near, "left_semi").withColumn("dup", lit(true))
      .unionByName(
        assigned.join(members, near, "left_anti").withColumn("dup", lit(false)))
  }

  /** [[semanticGate]] with the DSv2 BINARY INDEX as the corpus side and
    * per-batch connector pruning: the generic gate's stream-static join
    * cannot prune the static scan (the batch's probe lists are runtime
    * data, and the connector does not implement runtime V2 filtering),
    * so a full-corpus-scan-per-micro-batch lurks at scale. This runner
    * closes that gap with foreachBatch: per batch it assigns arrivals,
    * collects their DISTINCT probe lists (micro-batch-bounded, tiny),
    * and reads the index with an explicit `centroid_id.isin(lists)`
    * filter — which the connector pushes, so only the probed `list=`
    * directories are planned and their vector bytes dequantized (the
    * spec pins `lists=[…]` in the per-batch plan). Each batch reads
    * O(arrivals · listSize) index bytes, never the corpus. Verdicts land
    * in `outDir` as parquet. Same snapshot caveat as the generic gate:
    * index growth is picked up per BATCH here (each batch re-plans the
    * connector listing), one step fresher than the static-frame form. */
  def runSemanticGateBinary(vecsStream: DataFrame, model: IvfIndex.Model,
      indexPath: String, outDir: String, checkpointDir: String,
      eps: Double = 0.35, onBatchPlan: String => Unit = _ => ()): Unit = {
    val q = vecsStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val assigned = IvfIndex.assign(batch, "embedding", model)
          .select(col("vec_id"), col("embedding"), col("centroid_id"))
          .localCheckpoint(true) // assign once: probed-list collect + join
        val lists = assigned.select("centroid_id").distinct()
          .collect().map(_.getInt(0)).toSeq
        if (lists.isEmpty) ()
        else {
          val members = spark.read
            .format(graft.sources.IvfBinarySource.FORMAT).load(indexPath)
            .filter(col("centroid_id").isin(lists: _*))
            .select(col("centroid_id").as("_ccid"),
              gf.dequantize_vec(col("qvec")).as("_cvec"))
          val near = col("centroid_id") === col("_ccid") &&
            (round(gf.cosine_sim(col("embedding"), col("_cvec")), 4) + 0.0) >= eps
          val verdicts = assigned.join(members, near, "left_semi")
            .withColumn("dup", lit(true))
            .unionByName(assigned.join(members, near, "left_anti")
              .withColumn("dup", lit(false)))
            .drop("embedding")
          onBatchPlan(verdicts.queryExecution.executedPlan.toString)
          verdicts.write.mode("append").parquet(outDir)
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Streaming LSH candidate generation — the incremental twin of
    * q21_minhash_lsh. Incoming docs explode to (band-bucket, doc) keys;
    * per-bucket state holds ONLY the first (canonical) doc ever seen, so
    * each later doc sharing the bucket emits one (doc, canonical, bucket)
    * pair and state stays O(1) per bucket regardless of how many dups
    * pile in (the batch form's bucket self-join is O(members²)).
    *
    * Composition at scale: this stream feeds candidate pairs to the
    * BATCH resolution ([[graft.operators.DedupOps.dedupKeepCanonical]])
    * on a cadence; a pair here means "shares ≥1 band", exactly the q21
    * candidate relation restricted to earliest-canonical edges. Bucket
    * state has no TTL — production would partition the bucket space by
    * content date and retire whole partitions, not individual entries. */
  def streamingNeardupPairs(docs: DataFrame, n: Int = 3, k: Int = 16,
      bands: Int = 4)(implicit spark: SparkSession): Dataset[DupPair] = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(gf.lsh_bands(gf.minhash(col("text"), n, k), bands)).as("bucket"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (bucket: String, rows: Iterator[(Long, String)], state: GroupState[Long]) => {
          // deterministic within a batch: process ids in ascending order
          val ids = rows.map(_._1).toArray.sorted
          var canonical = state.getOption.getOrElse(Long.MaxValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[DupPair]
          ids.foreach { id =>
            if (canonical == Long.MaxValue) canonical = id
            else if (id != canonical) out += DupPair(id, canonical, bucket)
          }
          if (canonical != Long.MaxValue) state.update(canonical)
          out.iterator
        })
  }

  /** One state-merge step of [[streamingBoundedHistory]]: previous
    * survivors + batch arrivals, keep the k most recent by the batch
    * operator's total order (ts_us, event_id) DESC. Ordered by a
    * reverse Ordering, NOT by sortBy negation: `-Long.MinValue`
    * overflows back to `Long.MinValue` and would silently mis-sort
    * boundary values, making the batch-twin equality conditional on
    * "realistic" inputs. Split out so StreamsSpec can property-test
    * the order with Long.MinValue/MaxValue, which no runnable stream
    * can carry through watermark math. */
  private[graft] def mergeHistory(prev: Array[(Long, Long)],
      arrivals: Iterator[(Long, Long)], k: Int): Array[(Long, Long)] =
    (prev ++ arrivals).sorted(Ordering[(Long, Long)].reverse).take(k)

  /** Keep-last-N per user over a stream — the incremental twin of
    * [[graft.operators.RankOps.boundedUserHistory]] (q135's operator;
    * the q40/q29 bot disposition carried onto the streaming surface).
    * Per-user state is a k-bounded buffer merged with each batch's
    * arrivals — the same bounded contract as the batch operator's
    * CollectTopK heap: no state row and no task ever holds more than
    * `maxEvents` events for one user at ANY skew.
    *
    * OUTPUT SEMANTICS — Update-mode SNAPSHOTS: each micro-batch emits,
    * for every user WITH ARRIVALS in the batch, that user's current
    * k-most-recent survivor set (recency = (ts_us, event_id) DESC —
    * the batch operator's total order; event ids must be unique per
    * user, its contract too). Append semantics are impossible for
    * keep-last-N — a later arrival EVICTS an earlier survivor and a
    * streaming sink cannot retract an appended row — so consumers read
    * the latest snapshot per user. StreamsSpec proves every emitted
    * snapshot equal to the batch operator over the stream's prefix.
    *
    * STATE TTL: an EventTimeTimeout drops a user's buffer once the
    * WATERMARK (set here from ts_us, `ttlMinutes` delay — sessionize's
    * convention) passes their newest event + TTL, so state is bounded
    * by k × recently-active users, not by all users ever seen. A
    * timed-out user that reappears starts a fresh history — correct
    * for the bot disposition: an expired history only matters if newer
    * events superseded it, and those arrive with the user. */
  def streamingBoundedHistory(events: Dataset[Ev], maxEvents: Int,
      ttlMinutes: Int)(implicit spark: SparkSession): Dataset[Ev] = {
    import spark.implicits._
    require(maxEvents >= 1, s"maxEvents must be >= 1, got $maxEvents")
    require(ttlMinutes >= 1, s"ttlMinutes must be >= 1, got $ttlMinutes")
    val ttlMs = ttlMinutes * 60L * 1000L
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$ttlMinutes minutes")
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[HistState]) => {
          if (state.hasTimedOut) {
            // TTL expiry: the user has been silent past the watermark
            // horizon — drop the buffer, emit nothing (snapshots are
            // only refreshed on arrivals)
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
              .map(s => s.tsUs.zip(s.ids))
              .getOrElse(Array.empty[(Long, Long)])
            val merged =
              mergeHistory(prev, rows.map(r => (r._3, r._2)), maxEvents)
            state.update(HistState(merged.map(_._1), merged.map(_._2)))
            // flush horizon = newest survivor + TTL; never at-or-before
            // the current watermark (Spark rejects it — possible when a
            // late batch arrives past the user's horizon)
            val horizon = merged.head._1 / 1000L + ttlMs
            state.setTimeoutTimestamp(
              math.max(horizon, state.getCurrentWatermarkMs() + 1))
            merged.iterator.map { case (t, i) => Ev(user, i, t) }
          }
        })
  }

  /** Upper bound on concurrently-open window partials per source a
    * [[streamingDriftMonitor]] configuration may keep (the bound is
    * lateness/window + 2): generous for any sane lateness budget, low
    * enough that a misconfig fails at construction instead of growing
    * 40k-element state arrays. */
  val MaxOpenDriftWindows = 1024

  /** Spark's Round on DoubleType, replicated (BigDecimal HALF_UP at
    * scale 4) so [[streamingDriftMonitor]]'s driver-side fold rounds
    * exactly like the batch twin's `round(expr, 4)`. */
  private[graft] def round4(x: Double): Double =
    BigDecimal(x).setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
      .toDouble

  /** Windowed drift over a stream — the incremental twin of
    * [[graft.AuditQueries.driftWindows]] (q136's operator): per-source
    * tumbling event-time windows of `windowMinutes`, each emitted ONCE
    * — when the watermark passes its end — with its mean quality and
    * the drift from the source's cumulative mean through that window,
    * inclusive. The alerting form of q114's retrospective dashboard:
    * page when the NEWEST window drifts, instead of discovering at
    * month-end that a bad crawl config poisoned four weeks of data.
    *
    * Implemented as ONE flatMapGroupsWithState keyed on source — NOT a
    * windowed aggregation feeding a second stateful op (Spark rejects
    * flatMapGroupsWithState downstream of an aggregation): arrivals
    * fold into open-window partials in state; every open window whose
    * end the watermark has passed closes in start order, folding its
    * mass into the source's running (count, sum) and emitting its row.
    * An EventTimeTimeout armed at the earliest open window's end
    * closes windows for a source gone silent.
    *
    * CONTRACTS, each shared with the batch twin or with standard
    * windowed-aggregation semantics: (1) rows arriving for a window
    * at-or-before the source's closed frontier are DROPPED — the same
    * verdict a watermarked aggregation gives beyond-lateness data;
    * (2) empty windows emit no row and add no cumulative mass (the
    * batch twin aggregates only non-empty buckets); (3) emitted rows
    * are FINAL (append mode — a closed window never updates, so no
    * retraction problem, unlike the bounded-history snapshots). State
    * per source = three scalars + open-window partials, bounded by
    * lateness/windowLen + 2 concurrently-open windows IN STEADY STATE
    * — i.e. once the watermark tracks arrivals. The bound is
    * transiently exceedable: windows close against the watermark as of
    * the END of the PREVIOUS batch, so one micro-batch whose rows span
    * B windows (a catch-up replay of a long outage in few batches, or
    * a first batch over deep history) holds up to B open partials
    * until the next batch's watermark sweeps them closed — operators
    * must not treat the steady-state bound as a per-batch hard
    * invariant (BASELINE.md's round-18 catch-up table measures both
    * regimes; a per-file catch-up replay stays at the steady bound
    * because each batch advances the watermark before the next folds).
    * `source` is a bounded dimension — the same premise q114/q136's
    * aggregate rides — so no state TTL is needed. StreamsSpec proves the emitted
    * rows equal the batch operator over the full input, bucket for
    * bucket, including a multi-window close fired by the timeout
    * alone. Expects columns (source string, ts_us long, q double) with
    * ts_us >= 0 (micros since epoch — Spark's own watermark clamps at
    * 0, so pre-1970 event time is outside streaming semantics anyway);
    * `bucket` in the output = floorDiv(ts_us, window), which for the
    * non-negative domain equals the batch twin's `ts_us div
    * <window_us>` (SQL div truncates toward zero — the two would
    * differ on negative micros, another reason the domain is stated).
    *
    * ALERTING: because rows are append-final, "page when the newest
    * window drifts" is a filter plus any sink — each drifting window
    * pages exactly once, no dedup tier needed (StreamsSpec proves the
    * exactly-once + completeness pair against the batch twin):
    * {{{
    * Streams.streamingDriftMonitor(scored, 10, 5)
    *   .filter(col("drift") > tau)
    *   .writeStream
    *   .foreachBatch { (alerts: Dataset[DriftWin], _: Long) =>
    *     alerts.collect().foreach(pager.page) // final + dimension-sized
    *   }.start()
    * }}} */
  def streamingDriftMonitor(scored: DataFrame, windowMinutes: Int,
      latenessMinutes: Int)(implicit spark: SparkSession): Dataset[DriftWin] = {
    import spark.implicits._
    require(windowMinutes >= 1,
      s"windowMinutes must be >= 1, got $windowMinutes")
    require(latenessMinutes >= 0,
      s"latenessMinutes must be >= 0, got $latenessMinutes")
    // the per-source state bound IS lateness/window + 2 open windows —
    // config-derived, but a lateness ≫ window misconfig (say 30 days
    // of lateness on 1-minute windows) quietly turns "three scalars
    // per source" into 43k live partials per source. Refuse upfront,
    // at the site that chose the numbers, like boundedHistory's k
    // contract.
    require(latenessMinutes / windowMinutes + 2 <= MaxOpenDriftWindows,
      s"latenessMinutes=$latenessMinutes over windowMinutes=" +
        s"$windowMinutes keeps up to ${latenessMinutes / windowMinutes + 2} " +
        s"window partials live per source (> $MaxOpenDriftWindows); " +
        "widen the window or cap the allowed lateness")
    val winUs = windowMinutes * 60L * 1000000L
    scored
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$latenessMinutes minutes")
      // ts stays in the projection: the watermark column must reach
      // the stateful operator or Spark rejects EventTimeTimeout
      .select(col("source").cast("string"), col("ts_us").cast("long"),
        col("q").cast("double"), col("ts"))
      .as[(String, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(driftStep(winUs) _)
  }

  /** One micro-batch step of [[streamingDriftMonitor]] for one source:
    * fold arrivals into open-window partials, then close every window
    * the watermark has passed, in start order. Split out so the spec
    * can name it; all invariants (drop-late, close-in-order, inclusive
    * cumulative) live here. */
  private[graft] def driftStep(winUs: Long)(src: String,
      rows: Iterator[(String, Long, Double, java.sql.Timestamp)],
      state: GroupState[DriftState]): Iterator[DriftWin] = {
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val st = state.getOption.getOrElse(DriftState(
      Array.empty, Array.empty, Array.empty, 0L, 0.0, Long.MinValue))
    val open = scala.collection.mutable.TreeMap.empty[Long, (Long, Double)]
    st.openStarts.indices.foreach { i =>
      open(st.openStarts(i)) = (st.openNs(i), st.openSums(i)) }
    rows.foreach { case (_, tsUs, q, _) =>
      val start = Math.floorDiv(tsUs, winUs) * winUs
      // at-or-before the closed frontier = beyond-watermark late: drop
      if (start > st.lastClosedStart) {
        val (n, sq) = open.getOrElse(start, (0L, 0.0))
        open(start) = (n + 1, sq + q)
      }
    }
    var closedN = st.closedN
    var closedSum = st.closedSum
    var lastClosed = st.lastClosedStart
    val out = scala.collection.mutable.ArrayBuffer.empty[DriftWin]
    while (open.nonEmpty && open.head._1 + winUs <= wmUs) {
      val (start, (n, sq)) = open.head
      open.remove(start)
      closedN += n
      closedSum += sq
      out += DriftWin(src, Math.floorDiv(start, winUs), n, round4(sq / n),
        round4(math.abs(sq / n - closedSum / closedN)))
      lastClosed = start
    }
    val arr = open.toArray
    state.update(DriftState(arr.map(_._1), arr.map(_._2._1),
      arr.map(_._2._2), closedN, closedSum, lastClosed))
    // a silent source must still close its open windows: fire when the
    // watermark passes the earliest open end (never at-or-before the
    // current watermark — Spark rejects that)
    if (open.nonEmpty)
      state.setTimeoutTimestamp(math.max((open.head._1 + winUs) / 1000L,
        state.getCurrentWatermarkMs() + 1))
    out.iterator
  }

  /** Event-time sessionization with a gap timeout (streaming twin of
    * q29_sessionize): per-user sessions close after `gapMinutes` of
    * silence. flatMapGroupsWithState keeps one small state record per live
    * user; EventTimeTimeout + watermark flush sessions whose gap horizon
    * has passed, so state is bounded by the number of concurrently-active
    * users, not the stream length. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30)(
      implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[SessState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, s.startUs, s.lastUs, s.n))
          } else {
            val sorted = rows.map(r => (r._3, r._2)).toArray.sortBy(identity)
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var st = state.getOption.orNull
            sorted.foreach { case (us, _) =>
              st match {
                case null => st = SessState(us, us, 1)
                case s if us - s.lastUs > gapUs =>
                  out += Session(user, s.startUs, s.lastUs, s.n)
                  st = SessState(us, us, 1)
                case s => st = SessState(s.startUs, us, s.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              // flush when the watermark passes last event + gap; never
              // set a timeout at-or-before the current watermark (Spark
              // rejects it — possible when a late batch arrives for a
              // session whose gap horizon has already passed)
              val horizon = st.lastUs / 1000L + gapMinutes * 60L * 1000L
              state.setTimeoutTimestamp(
                math.max(horizon, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
        })
  }
}
