package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Training-shard export — the last mile of the curation pipeline: the
  * curated document set becomes `nShards` deterministic, epoch-shuffled
  * parquet shards plus a machine-readable manifest with per-shard
  * row/token counts and an order-independent content digest.
  *
  * The reference stops at serving search results; a training lake also
  * has to FEED the trainer, and that handoff has three hard
  * requirements this sink encodes:
  *
  *  - **Determinism**: shard membership and intra-shard order are pure
  *    functions of (doc_id, seed) — `xxhash64(seed, doc_id)` for the
  *    shard, `md5(seed:doc_id)` for the order — so a re-run after a
  *    crash, or on a different cluster size, produces the same shards
  *    and the same manifest. No `rand()`, no partition-index
  *    dependence. A new seed (= a new epoch) reshuffles both.
  *  - **Verifiability**: the manifest digest is `bit_xor` over per-row
  *    `xxhash64(doc_id, text)` — `xxhash64(doc_id, copy, text)` for
  *    mixture exports, whose rows carry a `copy` column (identical-text
  *    copies would otherwise xor-cancel in pairs) — order-independent
  *    and mergeable, so it is computed map-side in the same job that
  *    writes, and [[verifyShards]] can re-derive it from the written
  *    files alone to certify the handoff (the trainer's side of the
  *    contract; it keys the digest on `copy` whenever the files carry
  *    that column).
  *  - **Scale**: one hash shuffle on the shard key, map-side combined
  *    stats, one file per shard (each shard is written by exactly one
  *    task after the repartition — at 100 TB, size nShards so a shard
  *    is a few GB). The manifest is nShards rows — driver-trivial.
  */
object TrainingExport {

  final case class ShardStat(shard: Int, rows: Long, tokens: Long, digest: Long)

  private def fs(p: Path): FileSystem = IvfBinarySource.fs(p)

  /** Columns the export stamps onto every row. `_ord` is persisted so
    * the trainer reads a shard `ORDER BY _ord` and gets the epoch's
    * deterministic sample order without re-deriving it. */
  private def stamped(docs: DataFrame, nShards: Int, seed: Long): DataFrame =
    docs
      .withColumn("shard",
        pmod(xxhash64(lit(seed), col("doc_id")), lit(nShards)).cast("int"))
      .withColumn("_ord",
        md5(concat_ws(":", lit(seed), col("doc_id")).cast("binary")))

  /** Write `docs` (must carry `doc_id` and `text`) as epoch-`seed`
    * shards under `outDir` and return the per-shard manifest, which is
    * also persisted as `outDir/_manifest.json` (written to a temp file
    * and renamed, so a torn write can't masquerade as a manifest). */
  def exportShards(docs: DataFrame, outDir: String, nShards: Int,
      seed: Long): Seq[ShardStat] = {
    val st = stamped(docs, nShards, seed)
      .withColumn("tokens", gf.token_count(col("text")).cast("long"))
    val stats = writeShards(st, outDir, nShards, "overwrite", keyOnCopy = false)
    writeManifest(docs.sparkSession, outDir, nShards, seed, stats,
      keyedOnCopy = false)
    stats
  }

  /** The one write-and-certify tail every export path shares: shard
    * repartition (nShards partitions keyed on shard — one file per
    * shard), in-shard order, zstd parquet, per-shard stats. The digest
    * KEYING is explicit, never inferred from the frame: a directory
    * must hold one keying end to end or its manifest is meaningless
    * (see [[appendShards]]'s fail-fast). */
  private def writeShards(st: DataFrame, outDir: String, nShards: Int,
      mode: String, keyOnCopy: Boolean): Seq[ShardStat] = {
    st.repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("_ord"))
      .write.mode(mode).option("compression", "zstd")
      .partitionBy("shard").parquet(outDir)
    shardStats(st, keyOnCopy)
  }

  /** Mixture-aware export — q111's plan REALIZED directly into epoch
    * shards with no materialized duplicated corpus in between: `rates`
    * is the |sources|-row mixture table ([[graft.CurationQueries
    * .mixtureRates]]), applied row-locally by the shared integer-exact
    * rule while the rows stream toward the shard writer. Each
    * (doc_id, copy) instance is an INDEPENDENT sample: shard and order
    * derive from (seed, doc_id, copy), so a 2.4-epoch source's copies
    * scatter across shards and positions instead of clumping — the
    * difference between "2.4 epochs of X" and "the same shard twice".
    * The digest term includes `copy`, because xor over per-row hashes
    * of IDENTICAL text copies would cancel in pairs and let a tamper
    * that removes both copies pass verification. Same one-shuffle
    * write and manifest contract as [[exportShards]]; [[verifyShards]]
    * certifies mixed exports transparently (the written rows carry
    * `copy`, and the stat digest keys on it when present). */
  def exportMixedShards(docs: DataFrame, rates: DataFrame, outDir: String,
      nShards: Int, seed: Long): Seq[ShardStat] = {
    // tokens BEFORE the explode: one token_count per document, not per copy
    val st = graft.CurationQueries.applyMixture(
        docs.withColumn("tokens", gf.token_count(col("text")).cast("long")),
        rates)
      .withColumn("shard",
        pmod(xxhash64(lit(seed), col("doc_id"), col("copy")), lit(nShards))
          .cast("int"))
      .withColumn("_ord",
        md5(concat_ws(":", lit(seed), col("doc_id"), col("copy")).cast("binary")))
    val stats = writeShards(st, outDir, nShards, "overwrite", keyOnCopy = true)
    writeManifest(docs.sparkSession, outDir, nShards, seed, stats,
      keyedOnCopy = true)
    stats
  }

  /** Incremental append — the streaming/continuous-curation twin of
    * [[exportShards]]: stamp the batch, append its rows into the shard
    * directories, and MERGE the manifest (rows and tokens add, digests
    * xor-fold — all three are associative and commutative, and shard
    * membership is a pure function of (seed, doc_id), so append(A);
    * append(B) produces byte-for-byte the manifest of export(A ∪ B),
    * spec-pinned). Each append lands as new files per touched shard;
    * re-running [[exportShards]] over the accumulated corpus IS the
    * compaction (deterministic, one file per shard again). The channel
    * is at-least-once: a replayed batch would double-count — drive it
    * from a checkpointed stream (see Streams.runExportAppend) so
    * batches are not replayed, or dedup upstream on doc_id. */
  def appendShards(docs: DataFrame, outDir: String, nShards: Int,
      seed: Long): Seq[ShardStat] = {
    val spark = docs.sparkSession
    // FAIL FAST on digest-keying drift: appends stamp plain rows (no
    // `copy`), so appending into a mixture export would merge digests
    // computed under two different hash keyings — a mismatch the
    // verifier could only see (or worse, MISS: hash functions skip a
    // null `copy` on the appended rows) long after the corruption
    val priorExists = fs(manifestPath(outDir)).exists(manifestPath(outDir))
    // legacy manifests predate the keying field: fall back to the file
    // schema exactly like verifyShards — a pre-existing export whose
    // FILES carry `copy` is a mixture export whether or not its
    // manifest could say so, and getOrElse(false) would let the append
    // proceed into precisely the keying corruption this check exists
    // to prevent (caught only later, by verifyShards, after the merge)
    val priorKeyedOnCopy = priorExists &&
      manifestKeyedOnCopy(spark, outDir).getOrElse(
        spark.read.parquet(outDir).columns.contains("copy"))
    if (priorKeyedOnCopy)
      throw new IllegalStateException(
        s"$outDir holds a mixture export (digests keyed on copy); " +
          "appendShards stamps copy-less rows — re-export instead")
    val st = stamped(docs, nShards, seed)
      .withColumn("tokens", gf.token_count(col("text")).cast("long"))
    val batchStats = writeShards(st, outDir, nShards, "append", keyOnCopy = false)
    val prior = if (priorExists) readManifest(spark, outDir) else Seq.empty
    val merged = mergeStats(prior, batchStats)
    writeManifest(spark, outDir, nShards, seed, merged, keyedOnCopy = false)
    merged
  }

  private def mergeStats(a: Seq[ShardStat], b: Seq[ShardStat]): Seq[ShardStat] =
    (a ++ b).groupBy(_.shard).map { case (s, parts) =>
      ShardStat(s, parts.map(_.rows).sum, parts.map(_.tokens).sum,
        parts.map(_.digest).reduce(_ ^ _))
    }.toSeq.sortBy(_.shard)

  private def shardStats(st: DataFrame, keyOnCopy: Boolean): Seq[ShardStat] = {
    // mixed exports carry `copy`: it must enter the digest or two
    // identical-text copies xor-cancel each other out of the manifest
    require(!keyOnCopy || st.columns.contains("copy"),
      "digest keyed on copy but the rows carry no copy column")
    val digest =
      if (keyOnCopy) expr("bit_xor(xxhash64(doc_id, copy, text))")
      else expr("bit_xor(xxhash64(doc_id, text))")
    st.groupBy(col("shard"))
      .agg(count(lit(1)).as("rows"),
        sum("tokens").as("tokens"),
        digest.as("digest"))
      .collect()
      .map(r => ShardStat(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_.shard).toSeq
  }

  // underscore prefix: Spark/Hadoop file indexes treat _-prefixed files
  // as metadata, so the manifest can live inside the parquet root
  // without being planned as a data file
  private def manifestPath(outDir: String) = new Path(outDir, "_manifest.json")

  private def writeManifest(spark: SparkSession, outDir: String,
      nShards: Int, seed: Long, stats: Seq[ShardStat],
      keyedOnCopy: Boolean): Unit = {
    val body = stats.map(s =>
        s"""{"shard":${s.shard},"rows":${s.rows},"tokens":${s.tokens},"digest":${s.digest}}""")
      .mkString(
        s"""{"n_shards":$nShards,"seed":$seed,""" +
          s""""digest_keyed_on_copy":$keyedOnCopy,"shards":[""", ",", "]}")
    val p = manifestPath(outDir)
    val tmp = new Path(outDir, s"._manifest.json.tmp")
    val efs = fs(p)
    val out = efs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (efs.exists(p)) efs.delete(p, false)
    efs.rename(tmp, p)
  }

  /** Parse `outDir/_manifest.json` back into shard stats. */
  def readManifest(spark: SparkSession, outDir: String): Seq[ShardStat] = {
    val body = readManifestBody(outDir)
    // the writer controls the format — a flat regex parse keeps this
    // dependency-free (no JSON lib beyond Spark's internals needed)
    val entry =
      """\{"shard":(-?\d+),"rows":(\d+),"tokens":(\d+),"digest":(-?\d+)\}""".r
    entry.findAllMatchIn(body).map(m =>
      ShardStat(m.group(1).toInt, m.group(2).toLong,
        m.group(3).toLong, m.group(4).toLong)).toSeq.sortBy(_.shard)
  }

  private def readManifestBody(outDir: String): String = {
    val p = manifestPath(outDir)
    val efs = fs(p)
    val in = efs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The manifest's recorded digest keying; None for manifests written
    * before the field existed. */
  def manifestKeyedOnCopy(spark: SparkSession, outDir: String): Option[Boolean] =
    """"digest_keyed_on_copy":(true|false)""".r
      .findFirstMatchIn(readManifestBody(outDir)).map(_.group(1).toBoolean)

  /** The trainer-side certification: recompute rows/tokens/digest from
    * the WRITTEN files and diff against the manifest. Returns the shard
    * ids that disagree (empty = the handoff is intact). One read of the
    * export, map-side combined — the same cost as any full scan, and
    * partition pruning applies if only some shards are checked. */
  def verifyShards(spark: SparkSession, outDir: String): Seq[Int] = {
    val manifest = readManifest(spark, outDir)
    val files = spark.read.parquet(outDir)
    // recompute under the MANIFEST's keying (legacy manifests without
    // the field fall back to the file schema); files that cannot honor
    // the recorded keying are unverifiable — every shard reports bad
    val keyed = manifestKeyedOnCopy(spark, outDir)
      .getOrElse(files.columns.contains("copy"))
    if (keyed && !files.columns.contains("copy"))
      return manifest.map(_.shard).sorted
    val got = shardStats(files, keyed)
    val gotBy = got.map(s => s.shard -> s).toMap
    val bad = manifest.collect {
      case m if !gotBy.get(m.shard).contains(m) => m.shard
    }
    val extra = got.map(_.shard).filterNot(manifest.map(_.shard).contains)
    (bad ++ extra).sorted
  }
}
