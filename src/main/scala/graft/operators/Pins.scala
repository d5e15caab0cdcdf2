package graft.operators

import org.apache.spark.sql.DataFrame

/** Lineage-severing materialization pins with a RELIABLE mode.
  *
  * The engine pins intermediates (RankOps' ranked rows, CurationRun's
  * survivor set, the dedup verdict's shingle/simhash tables) via
  * `localCheckpoint(true)`: materialize once, cut the lineage, store
  * the blocks on executors. That is the right default — no filesystem
  * round-trip — but the blocks DIE WITH AN EXECUTOR: lineage is
  * severed, so a lost block is unrecoverable and the job fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. At test scale irrelevant; on a
  * multi-hour 100 TB curation run executor loss is routine, and a pin
  * that is load-bearing for CORRECTNESS (RankOps) must not also be a
  * single point of job failure.
  *
  * So every corpus-scale pin in the long-running paths (RankOps,
  * CurationRun, packSequences, the dedup verdict family) routes
  * through [[pin]], which picks the mechanism per session:
  *
  *   - default: `localCheckpoint(true)` — fast, executor-resident;
  *   - `spark.graft.reliablePins=true` (plus an
  *     `sc.setCheckpointDir(...)` the caller owns): `checkpoint(true)`
  *     — the pin is files on the checkpoint FS (HDFS/S3 on a cluster),
  *     so losing every executor costs a re-read, never the job.
  *
  * The reliable mode trades one write+read of the pinned projection
  * per pin for fault tolerance — pins are NARROW by convention
  * (RankOps scaladoc), so the tax is proportional to the ranked
  * projection, not the corpus text. Checkpoint files live until the
  * RDD is GC'd (set `spark.cleaner.referenceTracking.cleanCheckpoints`
  * =true) or the caller clears the directory after the run.
  * [[DedupOps.releaseCheckpoint]] stays correct in both modes (block
  * unpersist is a no-op for file-backed pins). */
object Pins {

  /** Session conf: "true" routes [[pin]] through reliable file-backed
    * checkpoints. Requires `sparkContext.setCheckpointDir(...)`. */
  val ReliableConf = "spark.graft.reliablePins"

  /** A [[withReliable]]/[[withReliableRun]] scope: the forced mode,
    * plus (for run scopes) the checkpoint files this scope's own pins
    * wrote — recorded per pin so run-exit cleanup deletes EXACTLY this
    * run's files. Deleting the run DIR wholesale instead would (a)
    * destroy a pre-existing directory that happened to share the name
    * and (b) under two concurrent reliable runs — whose interleaved
    * `setCheckpointDir` calls can land either run's files in either
    * dir, the dir being SparkContext-global while the mode is
    * thread-scoped — delete the OTHER run's live checkpoint files out
    * from under its still-running stages. */
  private final class Scope(val reliable: Boolean) {
    private val files = scala.collection.mutable.ArrayBuffer[String]()
    def record(f: String): Unit = synchronized { files += f }
    def recorded: Seq[String] = synchronized { files.toSeq }
  }

  private val scopeMode =
    new scala.util.DynamicVariable[Option[Scope]](None)

  /** Run `body` with every [[pin]] inside forced to `reliable`
    * (file-backed) or local, overriding the session conf — the
    * per-entry-point override of [[ReliableConf]]. The conf is
    * SESSION-GLOBAL: flipping it to harden one multi-hour export would
    * also tax every dimension-sized pin in the session (bench/
    * q57-class tables) with the 1.7× file round-trip, so the
    * corpus-scale entry points ([[graft.CurationRun.exportCurated]]'s
    * `reliable` arg, [[withReliableRun]]) scope the mode to their own
    * pins through here instead. The scope rides a DynamicVariable —
    * an inheritable thread-local — and pins are EAGER (they
    * materialize at call time on the calling thread), so a
    * driver-synchronous entry point is fully covered; work handed to
    * OTHER threads inside `body` (custom thread pools) is not, and
    * falls back to the session conf. Reliable mode still requires a
    * checkpoint dir — use [[withReliableRun]] to scope the dir and
    * its cleanup too. */
  def withReliable[T](reliable: Boolean)(body: => T): T =
    scopeMode.withValue(Some(new Scope(reliable)))(body)

  /** [[withReliableRun]] enter/exit gate (one JVM, one SparkContext —
    * the engine's deploy shape). The checkpoint DIR is
    * SparkContext-global while run scopes are thread-local, so
    * overlapping runs must agree on (a) how many are live, (b) the ONE
    * pre-run dir the last exit restores — a per-run "prev" may be a
    * sibling's soon-deleted run dir. */
  private val runGate = new Object
  private var liveRuns: Int = 0
  private var outerCheckpointDir: Option[String] = None
  // the <dir>/<uuid> run dirs registered by the CURRENT epoch's enters
  // — the last-out restore checks membership before writing over the
  // context dir (a caller that set its own dir mid-epoch, outside any
  // run scope, owns the newer value and must not be clobbered)
  private var epochRunDirs: Set[String] = Set.empty
  // removeEmpty targets an earlier-exiting run could not delete (a
  // sibling's live pin files still inside — by design the non-recursive
  // delete fails harmlessly); the LAST run out retries them so empty
  // uuid/run dirs don't leak on the checkpoint FS after the sibling
  // exits. Insertion-ordered (uuid dirs enqueue before their parents),
  // valued by failed-delete count: a path that keeps failing is not a
  // racing sibling but a PERMANENTLY undeletable dir (the documented
  // pre-existing-`dir`-with-foreign-content case) — after
  // [[MaxRemovalRetries]] strikes it is dropped, so it neither retains
  // cross-epoch state forever nor costs every future epoch's last-out
  // run an FS RPC.
  private val pendingRemovals =
    scala.collection.mutable.LinkedHashMap[String, Int]()

  /** Failed LAST-OUT retry sweeps tolerated per pending path before it
    * is abandoned as permanently occupied (foreign content in a
    * pre-existing run `dir`). Only last-out sweeps count — per-exit
    * direct failures are the expected sibling race and accrue no
    * strikes (see removeEmpty) — so three strikes means three separate
    * sweeps, each with zero live siblings and all pin files already
    * deleted, still could not remove the dir. */
  private val MaxRemovalRetries = 3

  /** Test hook: how many paths are currently pending retry. */
  private[graft] def pendingRemovalCount: Int =
    runGate.synchronized { pendingRemovals.size }

  /** Harden ONE run: sets `dir` as the checkpoint dir, forces every
    * [[pin]] in `body` through reliable file-backed checkpoints, and
    * on exit (success or failure) deletes the run's OWN checkpoint
    * files — wherever a concurrent run's interleaved
    * `setCheckpointDir` made them land — then `dir` itself only if
    * nothing else lives in it. This is the run-exit cleanup story for
    * clusters that don't enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints`. The previous
    * checkpoint dir (if any) is restored by the LAST live run to exit
    * (an earlier exit must not redirect a still-running sibling's pins
    * into an untracked dir — the dir is context-global, the scopes
    * thread-local); when NONE was set, the deleted run path stays
    * registered on the SparkContext (Spark has no public unset) — a
    * caller later flipping the session conf to reliable mode must set
    * its own dir, as that mode's contract already requires.
    *
    * `body` must fully MATERIALIZE its outputs before returning (write
    * its shards, collect its stats): any frame still referencing a pin
    * after exit reads deleted files. The engine's run-shaped entry
    * points (exportCurated, packSequences→write) satisfy this by
    * construction. */
  def withReliableRun[T](spark: org.apache.spark.sql.SparkSession,
      dir: String)(body: => T): T = {
    val sc = spark.sparkContext
    // enter and exit under one lock so overlapping runs compose:
    //  - the dir to restore is captured ONCE, by the FIRST run to
    //    enter (each run's own "prev" may be a sibling's soon-swept
    //    run dir — restoring that resurrects deleted state);
    //  - the count and setCheckpointDir move atomically (an exit
    //    observing count 0 between a sibling's set and its increment
    //    would restore right over the sibling's fresh dir).
    val runCkptDir = runGate.synchronized {
      // capture only when empty: a non-empty value at liveRuns==0 means
      // a previous epoch's restore FAILED and the context still points
      // at that epoch's deleted run dir — overwriting would trade the
      // user's real dir for the stale path; keeping it lets this
      // epoch's exit retry the restore
      val captured = liveRuns == 0 && outerCheckpointDir.isEmpty
      if (captured) outerCheckpointDir = sc.getCheckpointDir
      // set FIRST, count after: a throwing setCheckpointDir (unwritable
      // path, unreachable FS) must not leak a live-run count that would
      // suppress every later run's restore for the JVM's lifetime
      try sc.setCheckpointDir(dir)
      catch {
        case e: Throwable =>
          // a FAILED enter leaves the context dir unchanged and no exit
          // will ever run for this scope — undo this call's capture, or
          // a stale value would suppress the NEXT epoch's capture and
          // its exit would restore this pre-call dir over whatever the
          // caller set in between
          if (captured) outerCheckpointDir = None
          throw e
      }
      liveRuns += 1
      // setCheckpointDir registered <dir>/<uuid> — the subdir THIS run
      // created and owns; read it INSIDE the lock (outside, a sibling's
      // enter could swap the context dir first and this run would
      // capture — and later delete — the sibling's uuid dir while
      // leaking its own). Cleanup below deletes exactly it plus the
      // run's recorded pin files, never a tree walk over `dir` (which
      // may pre-exist with foreign content, even foreign EMPTY dirs).
      val rd = sc.getCheckpointDir
      rd.foreach(epochRunDirs += _)
      rd
    }
    val scope = new Scope(true)
    try scopeMode.withValue(Some(scope))(body)
    finally {
      // every cleanup step is isolated: a transient FS failure in one
      // must neither abort the remaining sweep nor mask the body's
      // real exception with its own. Interrupts re-set the thread flag
      // (swallowing one would keep a cancelled driver thread issuing
      // blocking FS RPCs for the rest of the sweep); fatal errors
      // propagate (NonFatal).
      def quietly(what: String)(step: => Unit): Unit =
        try step catch {
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
            System.err.println(s"[Pins] run-exit $what interrupted")
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[Pins] run-exit $what failed: $e")
        }
      runGate.synchronized {
        liveRuns -= 1
        // restore only when NO other run scope is live: an earlier
        // restore would point a still-running sibling's pins at a dir
        // neither run's cleanup tracks (dir context-global, scopes
        // thread-local). On SUCCESS the outer capture is cleared so
        // the next epoch re-captures the caller's then-current dir; on
        // failure it stays set — the context now points at a soon-
        // deleted run dir, and a later enter must NOT overwrite the
        // real outer dir with that stale path (its exit retries the
        // restore instead).
        if (liveRuns == 0) {
          // GUARD: restore only while the context still points at one
          // of this epoch's own run dirs. A caller that called
          // setCheckpointDir itself mid-epoch (outside any run scope)
          // owns the newer value — writing the epoch-start capture
          // over it would silently clobber it, so the capture is
          // dropped instead and the caller's dir stands.
          if (sc.getCheckpointDir.exists(epochRunDirs.contains))
            outerCheckpointDir.foreach(d =>
              quietly("checkpoint-dir restore") {
                sc.setCheckpointDir(d)
                outerCheckpointDir = None
              })
          else outerCheckpointDir = None
          epochRunDirs = Set.empty
        }
      }
      val hconf = sc.hadoopConfiguration
      // this run's pin files (recorded per pin — under concurrent runs
      // they may sit in EITHER run's uuid dir, wherever the
      // interleaved setCheckpointDir landed them). No exists() guard:
      // delete on a missing path returns false without throwing, and
      // the extra round trip per pin is pure metadata-RPC cost.
      scope.recorded.foreach { f =>
        quietly(s"pin delete $f") {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(hconf).delete(p, true)
        }
      }
      // then the uuid dir this run created, and `dir` itself — both
      // NON-recursive, so a racing sibling's checkpoint write (or a
      // foreign occupant of a pre-existing `dir`) makes the delete
      // FAIL harmlessly instead of destroying live files. (The
      // previous emptiness-check-then-recursive-delete had exactly
      // that TOCTOU window, and its tree sweep also removed foreign
      // empty directories it never created.) The expected non-empty
      // IOException stays silent; anything else (FS resolution,
      // RuntimeExceptions from object-store clients) is isolated by
      // the same quietly wrapper as the other steps.
      // `counting`: strikes accrue ONLY during last-out retry sweeps.
      // A per-exit direct failure is EXPECTED whenever siblings are
      // live (their cross-landed pins legitimately occupy either
      // run's dirs), so counting those would let >=3 overlapping runs
      // on one shared dir burn all strikes inside a single epoch and
      // abandon a dir the very next sweep would have removed. At a
      // last-out sweep no sibling is live and every sibling pin is
      // already deleted — a failure there really is foreign content.
      def removeEmpty(path: String, counting: Boolean): Unit =
        quietly(s"dir remove $path") {
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(hconf)
          try {
            fs.delete(p, false)
            runGate.synchronized { pendingRemovals -= path }
          } catch {
            case _: java.io.IOException =>
              // expected while a sibling's live pin files occupy the dir
              // (interleaved setCheckpointDir lands either run's files in
              // either uuid dir) — record it so the LAST run out retries
              // after the sibling's own pin deletes, instead of leaking
              // an empty dir on the checkpoint FS forever. Bounded: a
              // path still failing at MaxRemovalRetries last-out sweeps
              // is permanently occupied (foreign content) and is
              // dropped for good.
              runGate.synchronized {
                // a strike must mean "no sibling could explain this
                // failure" — re-check liveRuns AT FAILURE TIME, not just
                // at the sweep snapshot: a run that entered between the
                // last-out snapshot and this delete may have landed live
                // pin files in the dir (shared parent dirs are legal),
                // and counting that sibling race as foreign content
                // would permanently abandon a legitimately shared dir
                // after three coincidences
                val strikes = pendingRemovals.getOrElse(path, 0) +
                  (if (counting && liveRuns == 0) 1 else 0)
                if (strikes >= MaxRemovalRetries) {
                  pendingRemovals -= path
                  System.err.println(s"[Pins] giving up on non-empty dir " +
                    s"$path after $strikes failed retry sweeps " +
                    "(foreign content)")
                } else pendingRemovals.update(path, strikes)
              }
          }
        }
      runCkptDir.foreach(removeEmpty(_, counting = false))
      removeEmpty(dir, counting = false)
      // last out: retry what earlier exits could not remove (insertion
      // order — uuid dirs before their parent run dirs). A concurrent
      // enter flips liveRuns first and the retry defers to ITS exit.
      val retry = runGate.synchronized {
        if (liveRuns == 0) pendingRemovals.keys.toSeq else Seq.empty
      }
      retry.foreach(removeEmpty(_, counting = true))
    }
  }

  /** RDD-name prefix carrying a pin's machine-readable tag (see
    * [[pin(df:org\.apache\.spark\.sql\.DataFrame,bound:String)*]]):
    * a tagged pin's checkpoint RDD is named `graft.pin[<bound>]`. */
  val BoundTagPrefix = "graft.pin["

  /** The tag carried by a pinned frame's LogicalRDD, if any — how the
    * structural broadcast net reads a pin's justification back out of
    * an optimized plan (the pin itself is an opaque leaf there). */
  def boundTag(rddName: String): Option[String] =
    Option(rddName).filter(n =>
      n.startsWith(BoundTagPrefix) && n.endsWith("]"))
      .map(n => n.substring(BoundTagPrefix.length, n.length - 1))

  /** [[pin]] with a machine-readable TAG, surfaced through the
    * checkpoint RDD's name as `graft.pin[<bound>]`. A pin reaches the
    * optimizer as an opaque LogicalRDD, so a broadcast()-hinted join
    * side backed by a pin is structurally unreadable — the r15 net
    * could only COUNT such sides per query, and a refactor swapping a
    * justified pinned broadcast for an unbounded one kept the count
    * intact (r15 verdict finding #1). Every pin that reaches a hinted
    * broadcast side in a registry plan must therefore carry a tag
    * REGISTERED (with its boundedness or participation justification)
    * in PlanRegressionSpec — an untagged or unregistered pin under a
    * forced broadcast fails the suite the day it is written. */
  def pin(df: DataFrame, bound: String): DataFrame = {
    require(bound != null && bound.nonEmpty, "pin tag must be non-empty")
    pinImpl(df, Some(bound))
  }

  /** Materialize `df` and sever its lineage — localCheckpoint by
    * default, reliable `checkpoint` when [[ReliableConf]] is set or a
    * [[withReliable]] scope forces it. Untagged: fine for pins that
    * never reach a broadcast()-hinted join side (use
    * [[pin(df:org\.apache\.spark\.sql\.DataFrame,bound:String)*]]
    * there). */
  def pin(df: DataFrame): DataFrame = pinImpl(df, None)

  private def pinImpl(df: DataFrame, bound: Option[String]): DataFrame = {
    val s = df.sparkSession
    val scope = scopeMode.value
    val reliable = scope.map(_.reliable).getOrElse(
      java.lang.Boolean.parseBoolean(s.conf.get(ReliableConf, "false")))
    if (reliable) {
      require(s.sparkContext.getCheckpointDir.isDefined,
        s"reliable pins ($ReliableConf=true or Pins.withReliable(true)) " +
          "need sparkContext.setCheckpointDir(...) — or use " +
          "Pins.withReliableRun, which owns the dir and its cleanup")
      // checkpoint runs the plan twice on an unpersisted frame (eager
      // count, then the checkpoint-write job recomputes — RDD
      // .checkpoint's scaladoc suggests persisting first). That advice
      // targets LONG lineages; the engine's pins sit one stage past a
      // shuffle, so the "recompute" is a local shuffle-file re-read —
      // measured CHEAPER at 10M than the persist alternative's full
      // cache write+read round-trip (BASELINE.md round 11: 22.8 s direct vs
      // 74-125 s with persist scaffolding). Deliberately unpersisted.
      val out = df.checkpoint(true)
      // record the pin's checkpoint files with the active scope so a
      // run-scoped exit can delete exactly its own
      scope.foreach { sc0 =>
        out.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.getCheckpointFile.foreach(sc0.record)
          case _ => ()
        }
      }
      tag(out, bound)
    } else tag(df.localCheckpoint(true), bound)
  }

  /** Surface `bound` through the fresh checkpoint RDD's name. The
    * LogicalRDD holds the RDD by reference, so the rename is visible to
    * any plan the pinned frame later joins into. FAILS LOUDLY when a
    * requested tag cannot be applied: if a Spark upgrade changed
    * checkpoint()'s analyzed-plan shape away from LogicalRDD, silently
    * dropping the tag would violate pin(df, bound)'s documented
    * contract and surface only later as confusing 'UNTAGGED pin' hard
    * violations in PlanRegressionSpec — far from the pin site that
    * asked. Better to fail here, at that site, on the first tagged pin
    * after the upgrade. */
  private def tag(out: DataFrame, bound: Option[String]): DataFrame = {
    bound.foreach { b =>
      out.queryExecution.analyzed match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.setName(s"$BoundTagPrefix$b]")
        case other => throw new IllegalStateException(
          s"Pins.pin(df, \"$b\"): cannot surface the tag — the " +
            s"checkpointed frame analyzed to ${other.nodeName}, not " +
            "LogicalRDD (Spark checkpoint plan shape changed?); the " +
            "structural broadcast net reads tags from the LogicalRDD's " +
            "RDD name, so an un-surfaced tag would break pin()'s contract")
      }
    }
    out
  }

  /** `.pin()` postfix form, so pin sites read like the
    * `.localCheckpoint(true)` calls they replace. */
  implicit final class Pinned(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = Pins.pin(df)
    def pin(bound: String): DataFrame = Pins.pin(df, bound)
  }
}
