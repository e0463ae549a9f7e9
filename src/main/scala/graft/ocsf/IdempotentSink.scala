package graft.ocsf

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exactly-once per (route, batch) parquet landing (SURVEY.md §2 A24).
  *
  * The plain `mode("append")` fan-out is at-least-once across a crash
  * MID-batch: Structured Streaming replays the whole micro-batch with
  * the same batchId, re-appending files for routes that already
  * finished. The reference tolerates the same window via Firehose
  * retry idempotence (/root/reference/README.md:34-46); here the
  * window is closed with a two-phase commit, every step of which is
  * idempotent under replay:
  *
  *  1. STAGE — write the batch's files (final partition layout) under
  *     a per-ATTEMPT dir `table/_staging/batch_<id>/g<gen>/`. `gen` is
  *     a process-wide generation counter per (table, batch), so a
  *     replayed attempt in the same JVM never shares a staging path
  *     with a timed-out attempt it superseded — the two bulk writes
  *     cannot interleave on the same files. The write leaves no
  *     `_SUCCESS` marker: the manifest below is the commit.
  *  2. MANIFEST — atomically publish the staged file list WITH SIZES
  *     and each file's stats, read from its footer ([[StatsIndex]]: they
  *     commit with the file, so a reader's prune is never stale)
  *     (paths carry the `g<gen>/` component; a count header plus a
  *     `#end` trailer make the format self-terminating, so a torn
  *     publish on a non-atomic store is detectable at ANY cut point,
  *     even one inside the last entry's length digits) as
  *     `_committed_batches/<id>.manifest`
  *     (write-temp-then-rename). Until a VALID manifest exists, a
  *     replay restarts from step 1 under a fresh generation; a
  *     truncated manifest is discarded and replaced under the lock.
  *  3. PROMOTE — move each manifest entry into the table and VERIFY
  *     its length against the manifest. Replays resume: a destination
  *     already at its recorded length means that file already moved; a
  *     destination at the WRONG length is the half-copied residue of a
  *     crashed non-atomic (copy+delete) rename and is deleted and
  *     re-promoted from staging. Nothing is marked done on length
  *     mismatch — copy, verify, only then mark.
  *  4. COMMIT — atomically publish `_committed_batches/<id>.committed`
  *     and delete the batch staging dir (ALL generations). Once this
  *     exists the (route, batch) is done and every later replay
  *     returns without touching data — and sweeps any staging leftovers
  *     an earlier crash orphaned. The in-process bookkeeping for the
  *     (table, batch) — its generation counter and control lock — is
  *     evicted here: the committed marker itself fences any straggler
  *     (and a straggler that races the eviction sees a freshly-zeroed
  *     generation counter, which can never equal its own generation).
  *
  * Concurrent attempts for the same (table, batch) — a timed-out
  * route write whose cancellation has not landed yet racing the replayed
  * batch — are serialized at the CONTROL steps (manifest publish,
  * promote, commit run under one in-process lock per key) and the
  * stale attempt is rejected there with [[SupersededAttemptException]]
  * before it can publish or promote anything. Only the bulk staging
  * write runs unlocked, and it targets a generation-unique dir. The
  * control steps are metadata-only (a handful of renames), so holding
  * the lock through them cannot wedge on data volume. A superseded
  * attempt whose staging write straggles past the winner's cleanup can
  * leave an orphaned `_staging` dir behind; it is invisible to readers
  * (underscore-prefixed) and swept by the next replay of any committed
  * batch for that table.
  *
  * OBJECT-STORE SAFETY — the committed manifests are the READ
  * CONTRACT, not just bookkeeping: [[committedFiles]] returns exactly
  * the data files of committed batches, and [[OcsfTables.load]] reads
  * a batch-committed table through it (`basePath`-anchored, so
  * partition columns and pruning still work). A store whose rename is
  * copy+delete (S3A) can crash between the copy and the delete, or
  * mid-copy; either way the replay repairs the file (length-verified
  * re-promote) and readers-by-manifest see each row exactly once at
  * every point — they never see uncommitted, duplicated, or truncated
  * objects, because they only ever open the exact paths a committed
  * manifest names. Directory-scanning readers outside this contract
  * (e.g. Athena over the same prefix) keep the weaker pre-existing
  * guarantee: staged state is invisible (underscore-prefixed) but a
  * mid-promote batch may be partially visible until its marker lands.
  * Control files are write-once: existence of `.committed` implies a
  * fully promoted, length-verified batch on any store, and manifest
  * validity is self-checked via the count header + `#end` trailer.
  *
  * CONCURRENCY CONTRACT — one writer per (table, WRITER NAMESPACE),
  * not one writer per table. The stream owns the default namespace
  * (pair names are bare batch ids; Structured Streaming's checkpoint
  * lease forbids a second query on the same checkpoint). A backfill
  * running BESIDE the live stream passes a `writerId`: its control
  * pairs land as `w-<writerId>-<batchId>`, its staging dirs are
  * namespace-unique, and the two writers never share a control file,
  * a staging path, or an in-process lock key — so neither can skip,
  * overwrite, or silently drop the other's rows. Readers by manifest
  * see the union. The attempt lock is per-JVM and per-namespace:
  * TWO drivers in the SAME namespace are still out of contract (they
  * would race the manifest publish and one side's rows could be
  * silently dropped) — give every concurrent job its own writerId.
  *
  * Control files are one pair per batch: O(batches) small objects per
  * table, and every read or maintenance op takes them in through one
  * [[scanPairs]] — one LIST of the control dir plus one GET per
  * manifest in it. At streaming cadence over months, run
  * [[compactCommits]] to merge them into one pair — the read contract
  * only requires that the set of (manifest, committed) pairs names
  * every live data file exactly once, and [[committedFiles]] dedups on
  * final paths, so the compaction's publish-then-delete windows are
  * reader-safe at every crash point. Foreign-writer (`w-*`) pairs are
  * NEVER folded by default — a replay of that writer checks its own
  * pair name, and folding it away would make the replay restage and
  * duplicate rows; pass `foldWriters` once a backfill is retired (will
  * never re-run) to merge its pairs into the compacted history.
  *
  * MAINTENANCE — [[compactCommits]], [[compactDataFiles]] and
  * [[deleteWhere]] are one commit, [[fold]], over different inputs: it
  * replaces live committed pairs by one superseding pair whose
  * manifest names the files it restaged (promoted like a batch's) and
  * the files it carried (left in place), then settles the inputs. A
  * control merge carries every file, a data compaction restages every
  * row, an erasure restages the affected files and carries the rest.
  * Each op, [[vacuum]] included, starts with the same [[settle]] of
  * whatever a crashed predecessor left, on the op's one scan.
  */
object IdempotentSink {

  /** Thrown by a (route, batch) attempt that lost the generation race:
    * a newer replay of the same batch began after this attempt's
    * `writeBatch` call. The loser must not publish a manifest, promote
    * or commit — the winner owns the batch. */
  final class SupersededAttemptException(msg: String)
      extends RuntimeException(msg)

  /** Latest attempt generation per (qualified table dir, batchId).
    * Entries live only while the batch is in flight — evicted on
    * commit, so a year-long streaming query holds at most the
    * in-flight batches, not its whole history. */
  private val generations = new ConcurrentHashMap[String, AtomicLong]()

  /** Process-wide generation sequence: every attempt — across ALL
    * (table, batch) keys and across evict/recreate cycles — draws a
    * UNIQUE generation. A per-key counter restarted at 1 after
    * eviction could hand a post-evict replay the same gen a
    * first-attempt straggler still holds, letting the straggler pass
    * the fence; a globally unique gen can never collide. */
  private val genSeq = new AtomicLong(0L)

  /** Control-step lock per (qualified table dir, batchId). Evicted on
    * commit together with [[generations]]. */
  private val controlLocks = new ConcurrentHashMap[String, Object]()

  private def genCounter(key: String): AtomicLong =
    generations.computeIfAbsent(key, _ => new AtomicLong(0L))
  private[ocsf] def lockFor(key: String): Object =
    controlLocks.computeIfAbsent(key, _ => new Object)

  /** Drop the in-process bookkeeping for a committed (table, batch).
    * Safe even with a straggler attempt still running: its next
    * control step either sees the committed marker (no-op return) or
    * finds its generation entry gone ([[checkCurrent]] treats a
    * missing entry as superseded WITHOUT recreating it, and drops the
    * lock entry the straggler's `lockFor` may have just recreated), so
    * the race leaves no permanent per-(table, batch) residue. */
  private def evict(key: String): Unit = {
    generations.remove(key)
    controlLocks.remove(key)
    ()
  }

  /** In-flight bookkeeping keys (spec hook: commit must evict). */
  private[ocsf] def bookkeepingKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    generations.keySet.asScala.toSet ++ controlLocks.keySet.asScala.toSet
  }

  /** Control-pair base name for a (writer, batch): the stream (empty
    * writerId) owns bare batch ids; any other writer is namespaced as
    * `w-<writerId>-<batchId>`. `writerId` must not contain `-` (it
    * delimits the batch id) and must stay clear of the reserved
    * `compact`/`compactdata` prefixes by construction of the `w-`
    * namespace. */
  private[ocsf] def pairName(writerId: String, batchId: Long): String = {
    require(writerId.matches("[A-Za-z0-9_.]*"),
      s"writerId must match [A-Za-z0-9_.]* (got '$writerId')")
    if (writerId.isEmpty) batchId.toString else s"w-$writerId-$batchId"
  }

  /** The writerId of a namespaced pair name, None for stream batches
    * and compaction pairs. */
  private[ocsf] def writerIdOf(pair: String): Option[String] =
    if (!pair.startsWith("w-")) None
    else {
      val rest = pair.stripPrefix("w-")
      val i = rest.lastIndexOf('-')
      if (i > 0) Some(rest.substring(0, i)) else None
    }

  private[ocsf] def attemptKey(fs: FileSystem, tableDir: Path, pair: String): String =
    s"${fs.makeQualified(tableDir)}#$pair"

  /** Idempotently land one route's slice of a micro-batch. Safe to
    * call again for the same (route, writerId, batchId) after a crash
    * OR timeout at ANY point — the replay either skips (already
    * committed), resumes the promote, or restages under a fresh
    * generation while the superseded attempt is fenced off at its next
    * control step.
    *
    * `writerId` namespaces this writer's commit log (see the
    * concurrency contract above): a backfill job writing beside the
    * live stream passes its own id (e.g. `"backfill20260813"`) and the
    * two writers share nothing — control pairs, staging dirs and locks
    * are all namespace-unique. The default empty id is the stream's
    * namespace. */
  def writeBatch(df: DataFrame, baseDir: String, route: String,
                 region: String, accountId: String, batchId: Long,
                 filesPerDay: Int = 0, writerId: String = ""): Unit =
    begin(df.sparkSession, baseDir, route, region, accountId, batchId,
      filesPerDay, writerId)(df)

  /** [[writeBatch]] split at its generation draw: registers the attempt
    * now, superseding every earlier attempt for the same (route,
    * writerId, batchId), and returns the body that lands the route's
    * frame. [[OcsfSink.fanOutIdempotent]] begins every route on the
    * calling thread before it queues the bodies on its pool, so
    * attempts are ordered by call: a route write that a timed-out call
    * queued but had not started cannot supersede the replay after it. */
  private[ocsf] def begin(spark: SparkSession, baseDir: String, route: String,
                          region: String, accountId: String, batchId: Long,
                          filesPerDay: Int, writerId: String): DataFrame => Unit = {
    val tableDir = new Path(s"$baseDir/${OcsfSink.tableName(route)}")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val pair = pairName(writerId, batchId)
    val gen = beginAttempt(fs, tableDir, pair)
    df => runAttempt(df, fs, tableDir, route, region, accountId, pair, filesPerDay, gen)
  }

  /** Registers a new attempt generation, superseding any in-flight
    * attempt for the same (table, batch). The generation is drawn from
    * the process-wide [[genSeq]], so it is unique across evictions —
    * a recreated entry can never equal a straggler's old gen.
    * Package-private so the spec can model a timed-out attempt racing
    * its replay. */
  private[ocsf] def beginAttempt(fs: FileSystem, tableDir: Path,
                                 pair: String): Long = {
    val g = genSeq.incrementAndGet()
    // max-accumulate, not set: two racing beginAttempts must leave the
    // NEWEST gen current whichever order their writes land
    genCounter(attemptKey(fs, tableDir, pair))
      .accumulateAndGet(g, (a, b) => math.max(a, b))
    g
  }

  /** Fences a stale attempt at a control step. A MISSING generation
    * entry means the batch committed and was evicted while this
    * straggler was in flight: fence it without recreating the entry
    * (a `computeIfAbsent` here would leak a zeroed counter forever in
    * exactly the timeout-race case eviction targets), and drop the
    * lock entry the straggler's own `lockFor` just recreated. */
  private[ocsf] def checkCurrent(key: String, gen: Long, route: String,
                                 pair: String): Unit = {
    val counter = generations.get(key)
    if (counter == null) {
      controlLocks.remove(key)
      throw new SupersededAttemptException(
        s"attempt g$gen for route=$route batch=$pair raced the commit " +
          "of a newer replay (bookkeeping already evicted); aborting")
    }
    if (counter.get() != gen)
      throw new SupersededAttemptException(
        s"attempt g$gen for route=$route batch=$pair was superseded " +
          "by a newer replay of the same batch; aborting without publishing")
  }

  /** A batch pair on disk, as [[runAttempt]] probes it. */
  private sealed trait PairState
  private case object Absent extends PairState
  private case object Torn extends PairState
  private final case class Published(entries: Seq[(String, Long)]) extends PairState
  private case object Committed extends PairState

  /** The body of one attempt at a fixed generation. Package-private
    * for the superseded-attempt spec. Unlocked, it returns at once if
    * the pair is committed, and stages the route's frame ([[stage]])
    * unless a valid manifest is already on disk. Then ONE lock section
    * runs: the fence, a fresh probe of the pair (the committed-marker
    * check), adopt the manifest on disk or publish its own, promote,
    * mark ([[commit]]), evict. What it promotes is what it holds in
    * memory: the manifest it publishes is never read back. */
  private[ocsf] def runAttempt(df: DataFrame, fs: FileSystem, tableDir: Path,
                               route: String, region: String,
                               accountId: String, pair: String,
                               filesPerDay: Int, gen: Long): Unit = {
    val key = attemptKey(fs, tableDir, pair)
    val manifest = new Path(tableDir, s"_committed_batches/$pair.manifest")
    val batchStaging = new Path(tableDir, s"_staging/batch_$pair")
    // a marker is only ever published after its manifest
    def probe(): PairState =
      if (!fs.exists(manifest)) Absent
      else if (fs.exists(new Path(tableDir, s"_committed_batches/$pair.committed"))) Committed
      else readManifestFull(fs, manifest).fold[PairState](Torn)(md => Published(md.entries))
    val seen = probe()
    // already done: sweep any staging dir a pre-commit crash (or a
    // straggling superseded attempt) orphaned, then no-op
    if (seen == Committed) { fs.delete(batchStaging, true); evict(key); return }
    val staged = Option.unless(seen.isInstanceOf[Published])(stage(fs,
      OcsfSink.partitionedFrame(df, region, accountId, filesPerDay), batchStaging, s"g$gen"))
    lockFor(key).synchronized {
      checkCurrent(key, gen, route, pair)
      // probe again: the attempt this one superseded may have
      // published or committed since, and a manifest is write-once
      probe() match {
        case Committed => fs.delete(batchStaging, true)
        case Published(entries) => commit(fs, tableDir, pair, route, entries, None, Some(batchStaging))
        case state =>
          val (entries, stats) = staged.getOrElse(throw new IllegalStateException(
            s"manifest gone before commit: $manifest (route=$route batch=$pair)"))
          // a torn manifest from a crashed non-atomic publish blocks
          // the write-once rename: discard it before republishing
          if (state == Torn) fs.delete(manifest, false)
          commit(fs, tableDir, pair, route, entries, Some(manifestBody(entries, stats)),
            Some(batchStaging))
      }
      evict(key)
    }
  }

  /** Writes `rows` under `root/<attempt>/` partitioned by region,
    * accountId and eventDay, lists it once and reads each file's footer
    * stats once: the entries relative to `root`, and their stats by
    * final relative path (none for an unreadable footer). No `_SUCCESS`:
    * the dir is private to one attempt, and the manifest, published only
    * after the job succeeded, is the commit. Algorithm 1 is pinned: on
    * Hadoop 3.4 algorithm 2's task commit merges file by file, which
    * cost a route commit 60 + 24·F filesystem calls against 58 + 16·F. */
  private def stage(fs: FileSystem, rows: DataFrame, root: Path, attempt: String)
      : (Seq[(String, Long)], Map[String, StatsIndex.FileStats]) = {
    val dir = new Path(root, attempt)
    rows.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.algorithm.version", "1")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .partitionBy(OcsfSink.PartitionCols: _*)
      .parquet(dir.toString)
    val entries = listRelative(fs, dir).map { case (rel, len) => (s"$attempt/$rel", len) }
    (entries, entries.flatMap { case (rel, len) =>
      StatsIndex.footerStats(fs.getConf, new Path(root, rel), len).map(finalRelPath(rel) -> _)
    }.toMap)
  }

  /** The commit of a batch and of a fold: publish `manifest` (None: a
    * valid one on disk names `staged`), promote `staged` from `staging`,
    * publish the marker, drop `staging` (None: nothing was staged). */
  private def commit(fs: FileSystem, tableDir: Path, pair: String, route: String,
                     staged: Seq[(String, Long)], manifest: Option[String],
                     staging: Option[Path]): Unit = {
    val cb = new Path(tableDir, "_committed_batches")
    manifest.foreach(writeAtomic(fs, new Path(cb, s"$pair.manifest"), _))
    for (dir <- staging; (rel, len) <- staged)
      promoteOne(fs, dir, tableDir, rel, len, route, pair)
    writeAtomic(fs, new Path(cb, s"$pair.committed"), "")
    staging.foreach(fs.delete(_, true))
  }

  /** Move one staged file to its final path and VERIFY the landed
    * length against the manifest (copy, verify, only then treat as
    * done). Idempotent under replay on stores with non-atomic
    * (copy+delete) rename: a complete destination is accepted as
    * already promoted, a half-copied destination is deleted and
    * re-promoted from the still-present source. The source-presence
    * check runs BEFORE any destination delete: if the length
    * mismatches and staging is gone too, the landed bytes are the only
    * copy left — preserve them and fail loudly rather than deleting
    * the evidence and wedging every replay on "staged file lost". One
    * `getFileStatus` probes the destination before the rename and one
    * after (FileNotFound = absent); the source is probed only before
    * deleting a torn destination or after a failed rename (a rename of
    * a missing source fails by FileNotFound on the local filesystem). */
  private def promoteOne(fs: FileSystem, staging: Path, tableDir: Path,
                         rel: String, len: Long, route: String,
                         batch: String): Unit = {
    val src = new Path(staging, rel)
    // drop the g<gen>/ attempt component: files land at the same
    // table-relative path whichever generation staged them
    val dst = new Path(tableDir, finalRelPath(rel))
    def landed: Option[Long] =
      try Some(fs.getFileStatus(dst).getLen)
      catch { case _: java.io.FileNotFoundException => None }
    def lost(detail: String) = new IllegalStateException(
      s"staged file lost before promote: $rel (route=$route batch=$batch)$detail")
    val before = landed
    if (before.contains(len)) return
    if (before.isDefined) { // torn copy residue
      if (!fs.exists(src)) throw lost(s"; incomplete destination $dst PRESERVED for inspection")
      fs.delete(dst, false)
    }
    fs.mkdirs(dst.getParent)
    val moved = try fs.rename(src, dst) catch { case _: java.io.FileNotFoundException => false }
    if (!moved && !fs.exists(src)) throw lost("")
    if (!landed.contains(len))
      throw new IllegalStateException(
        s"promote failed or landed incomplete: $src -> $dst " +
          s"(route=$route batch=$batch)")
    ()
  }

  private def finalRelPath(rel: String): String =
    rel.split('/').drop(1).mkString("/")

  /** True if the table has a batch-commit log with at least one
    * committed batch — i.e. [[committedFiles]] is its read contract. */
  def hasCommitLog(fs: FileSystem, tableDir: Path): Boolean = {
    val cb = new Path(tableDir, "_committed_batches")
    fs.exists(cb) && fs.listStatus(cb).exists(
      _.getPath.getName.endsWith(".committed"))
  }

  /** The read contract of a batch-committed table: the exact final
    * data-file paths of every COMMITTED batch, from the committed
    * manifests. Readers opening precisely these paths see each row
    * exactly once on any store — uncommitted batches, staging dirs,
    * torn-rename residue and straggler leftovers are simply never
    * named. One [[scanPairs]]: one directory listing + one small read
    * per manifest in the control dir. */
  def committedFiles(fs: FileSystem, tableDir: Path): Seq[Path] =
    scanPairs(fs, tableDir).files

  /** One snapshot of a table's commit log, as [[scanPairs]] read it:
    * every manifest as (pair name, has a committed marker?, parsed
    * content — None when torn), sorted by name, plus the torn
    * `.{name}.tmp` leftovers of [[writeAtomic]]. Every view a reader or
    * a maintenance op takes of the log is a pure function of it, so an
    * operation pays the control-file LIST/GET tax once per snapshot,
    * not once per view. */
  private[ocsf] final class LogScan(fs: FileSystem, tableDir: Path,
                                    val pairs: Seq[(String, Boolean, Option[ManifestData])],
                                    val tmps: Seq[Path]) {
    /** Every pair with a manifest; markers are a subset ([[scanPairs]]
      * raises on a marker without its manifest). */
    val names: Set[String] = pairs.map(_._1).toSet
    private lazy val parsed = pairs.map(p => p._1 -> p._3).toMap
    def manifest(n: String): Option[ManifestData] = parsed.getOrElse(n, None)
    def hasCommitted: Boolean = pairs.exists(_._2)

    /** Committed pairs, parsed; an unreadable committed manifest raises. */
    lazy val committed: Seq[(String, ManifestData)] =
      pairs.collect { case (n, true, md) =>
        n -> md.getOrElse(throw new IllegalStateException(
          s"committed manifest unreadable: $tableDir/_committed_batches/$n.manifest"))
      }

    /** Every pair a committed manifest supersedes. The union includes
      * dead manifests' own supersedes sets, so an interrupted cleanup
      * chain (A superseded {1,2}, B superseded {A}) keeps 1 and 2
      * excluded while they linger. */
    lazy val superseded: Set[String] =
      committed.iterator.flatMap(_._2.supersedes).toSet

    /** Superseded pairs still on disk: an interrupted cleanup to settle,
      * and the exclusions a new superseding manifest must carry. */
    def ghosts: Set[String] = superseded.intersect(names)

    /** Live committed pairs: committed manifests nothing supersedes — a
      * dead pair's rows live in the superseding manifest's files. */
    lazy val live: Seq[(String, ManifestData)] =
      committed.filterNot { case (n, _) => superseded.contains(n) }

    /** The committed read contract ([[committedFiles]]). */
    lazy val files: Seq[Path] = finalPaths(live.map(_._2))

    /** The stats the live manifests record, by final path; a file whose
      * entry records none is absent. */
    lazy val stats: Map[Path, StatsIndex.FileStats] =
      live.flatMap(_._2.stats).map { case (rel, s) => new Path(tableDir, rel) -> s }.toMap

    /** Every final path any parseable manifest names, committed or
      * still in flight — the superset [[OcsfTables.load]]'s stray guard
      * checks a directory scan against (an uncommitted manifest's files
      * are a legitimate mid-promote transient and must not trip it). */
    lazy val named: Set[Path] = pairs.flatMap(_._3).flatMap(_.entries)
      .map { case (rel, _) => fs.makeQualified(new Path(tableDir, finalRelPath(rel))) }
      .toSet

    /** See [[IdempotentSink.filesAsOf]]. */
    def filesAsOf(asOfBatch: Long): Seq[Path] = {
      val (folded, batches, writers) = splitPairs(live)
      requireAboveHorizon(folded, batches, asOfBatch, "asOfBatch", tableDir)
      // writer pairs (backfills) are off the stream batch axis: their
      // rows are base state, included at every snapshot — a backfill
      // loads HISTORY, so excluding it from asOf reads would make old
      // snapshots silently lose rows that were always logically there
      finalPaths(folded.map(_._2) ++ writers.map(_._2) ++ batches.collect {
        case (id, md) if id <= asOfBatch => md
      })
    }

    /** See [[IdempotentSink.filesSince]]. */
    def filesSince(afterBatch: Long): Seq[Path] = {
      val (folded, batches, _) = splitPairs(live)
      requireAboveHorizon(folded, batches, afterBatch, "afterBatch", tableDir)
      // foreign-writer (backfill) pairs are NOT emitted here: the cursor
      // is a STREAM batch id and cannot order another writer's pairs.
      // A CDC consumer detects backfills via [[writerPairNames]] and
      // re-syncs (or reads them once by name) — silent interleaving
      // would hand it the same backfill on every poll.
      finalPaths(batches.collect { case (id, md) if id > afterBatch => md })
    }

    /** Live committed pairs a data rewrite may take as inputs: all but
      * foreign-writer `w-*` pairs. */
    def rewriteInputs: Seq[(String, ManifestData)] =
      live.filterNot(_._1.startsWith("w-"))

    /** Fresh `<prefix>-<k>` sequence number: one past the largest k any
      * manifest (committed or crashed) or any committed `#supersedes`
      * header names. A settled pair's name can outlive its files in its
      * superseder's header; a new pair under that name would be born
      * superseded, and the superseder with it. */
    def nextK(prefix: String): Int = (names ++ superseded).flatMap(n =>
      if (n.startsWith(s"$prefix-")) n.stripPrefix(s"$prefix-").toIntOption
      else None).maxOption.getOrElse(-1) + 1

    /** This view minus the pairs in `settled` (deleted since the scan). */
    def without(settled: Set[String]): LogScan =
      if (settled.isEmpty) this
      else new LogScan(fs, tableDir, pairs.filterNot(p => settled(p._1)), tmps)

    private def finalPaths(mds: Seq[ManifestData]): Seq[Path] =
      mds.flatMap(_.entries)
        .map { case (rel, _) => new Path(tableDir, finalRelPath(rel)) }
        .distinct
  }

  /** The one read of a table's control directory — every reader and
    * maintenance op derives its view from the [[LogScan]] this returns;
    * only a writer's checks on its own pair and [[hasCommitLog]] read
    * the log otherwise. One LIST plus one GET per manifest, with the
    * orphan-marker check (a `.committed` whose manifest is gone =
    * committed data silently out of contract) and ONE reread when a
    * concurrent compaction races the listing (a pair's marker and
    * manifest can be deleted between a paginated LIST and its GETs,
    * making the pair look orphaned — or its manifest open throw — when
    * the directory never actually held that state). */
  private[ocsf] def scanPairs(fs: FileSystem, tableDir: Path): LogScan = {
    val cb = new Path(tableDir, "_committed_batches")
    // Left(Some(names)) = committed markers without manifests;
    // Left(None) = a manifest vanished between LIST and GET (race)
    def attempt(): Either[Option[Set[String]], LogScan] = {
      if (!fs.exists(cb)) return Right(new LogScan(fs, tableDir, Nil, Nil))
      val entries = fs.listStatus(cb).map(_.getPath)
      val done = entries.filter(_.getName.endsWith(".committed"))
        .map(_.getName.stripSuffix(".committed")).toSet
      val parsed =
        try entries.toSeq
          .filter(_.getName.endsWith(".manifest"))
          .sortBy(_.getName)
          .map { m =>
            val n = m.getName.stripSuffix(".manifest")
            (n, done.contains(n), readManifestFull(fs, m))
          }
        catch { case _: java.io.FileNotFoundException => return Left(None) }
      val orphan = done -- parsed.map(_._1).toSet
      if (orphan.nonEmpty) return Left(Some(orphan))
      Right(new LogScan(fs, tableDir, parsed, entries.toSeq.filter(p =>
        p.getName.startsWith(".") && p.getName.endsWith(".tmp"))))
    }
    attempt() match {
      case Right(r) => r
      case Left(_) => attempt() match { // one reread: racing a compaction?
        case Right(r) => r
        case Left(Some(orphan)) => throw new IllegalStateException(
          s"committed marker(s) without manifest under $cb: " +
            s"${orphan.toSeq.sorted.mkString(", ")} — committed data " +
            "would be invisible to readers; restore the manifest(s)")
        case Left(None) => throw new IllegalStateException(
          s"manifests under $cb kept vanishing between listing and read — " +
            "a compaction is racing this reader; re-run against a quiet table")
      }
    }
  }

  /** Splits live committed pairs into (compaction pairs, per-batch
    * pairs keyed by numeric STREAM batch id, foreign-writer `w-*`
    * pairs). Writer pairs are off the stream's batch axis: their batch
    * ids count a different writer's progress, so they must neither
    * masquerade as compaction folds (which would wrongly engage the
    * time-travel horizon check) nor be ordered against stream ids. */
  private def splitPairs(live: Seq[(String, ManifestData)])
      : (Seq[(String, ManifestData)], Seq[(Long, ManifestData)],
         Seq[(String, ManifestData)]) = {
    val (writerPairs, rest) = live.partition(_._1.startsWith("w-"))
    val (batches, folded) = rest.partition(_._1.toLongOption.isDefined)
    (folded, batches.map { case (n, md) => n.toLong -> md }, writerPairs)
  }

  /** The oldest batch id at which per-batch history is still intact, or
    * None when a compaction exists whose coverage cannot be bounded.
    *
    * Invariant this rests on: streaming batch ids are monotonic and
    * every compaction folds ALL live pairs up to its `maxBatchId`
    * bound, so the folded set is always a PREFIX of history — every
    * folded batch id is strictly below every live per-batch id. The
    * floor is therefore `minLiveBatchId - 1` (conservative: the true
    * fold horizon may be lower), falling back to the compaction pairs'
    * own coverage — the `#maxbatch` header every fold writes (carried
    * transitively across chained folds), or the largest numeric id in
    * their `#supersedes` headers — when no per-batch pair survives at
    * all. */
  private def horizonFloor(folded: Seq[(String, ManifestData)],
                           batches: Seq[(Long, ManifestData)]): Option[Long] =
    batches.map(_._1).minOption.map(_ - 1).orElse(
      folded.flatMap(p =>
        p._2.maxBatch ++ p._2.supersedes.flatMap(_.toLongOption)).maxOption)

  private def requireAboveHorizon(folded: Seq[(String, ManifestData)],
                                  batches: Seq[(Long, ManifestData)],
                                  requested: Long, what: String,
                                  tableDir: Path): Unit =
    if (folded.nonEmpty) {
      val floor = horizonFloor(folded, batches).getOrElse(
        throw new IllegalStateException(
          s"$what=$requested unavailable under $tableDir: compaction has " +
            "folded the entire per-batch history and its coverage cannot " +
            "be bounded from the surviving headers"))
      require(requested >= floor,
        s"$what=$requested is below the compaction horizon ($floor) under " +
          s"$tableDir: compaction folded those batches' manifests, so " +
          "per-batch granularity is gone (run compaction less often, or " +
          "checkpoint consumers faster, to keep more history)")
    }

  /** Snapshot read contract AS OF a batch: the final data-file paths of
    * every committed batch with id <= `asOfBatch`. Compaction trades
    * history for control-file count — below its horizon only the
    * folded (latest) view exists, and this THROWS rather than serving
    * a wrong snapshot. Metadata-only: one [[scanPairs]], the same cost
    * as [[committedFiles]]. */
  def filesAsOf(fs: FileSystem, tableDir: Path, asOfBatch: Long): Seq[Path] =
    scanPairs(fs, tableDir).filesAsOf(asOfBatch)

  /** Incremental (CDC-style) read contract: the final data-file paths
    * of committed batches with id > `afterBatch` — what a downstream
    * consumer that already processed through `afterBatch` still needs.
    * Append-only lake, so changes are pure inserts. THROWS when
    * compaction has folded any batch beyond `afterBatch` (the consumer
    * lags the compaction cadence — its unread rows no longer exist at
    * per-batch granularity). */
  def filesSince(fs: FileSystem, tableDir: Path, afterBatch: Long): Seq[Path] =
    scanPairs(fs, tableDir).filesSince(afterBatch)

  /** The live committed foreign-writer (`w-<writerId>-<batchId>`)
    * pairs of a table — the backfills a stream-axis CDC consumer
    * ([[filesSince]]) does not see. Poll it beside `filesSince`: a
    * name appearing here is a completed backfill batch to ingest once
    * (its files come from the pair's manifest via
    * [[committedFiles]]-style reads); names are stable until an
    * operator retires them via `compactCommits(foldWriters = ...)`. */
  def writerPairNames(fs: FileSystem, tableDir: Path): Seq[String] =
    scanPairs(fs, tableDir).live.map(_._1).filter(_.startsWith("w-")).sorted

  /** Delete one superseded pair — its data files FIRST (skipping any
    * path in `protectedFiles`: a control-only merge re-owns its inputs'
    * files without rewriting them), then marker, then manifest, so no
    * crash cut strands a file no manifest names or produces the
    * marker-without-manifest state readers reject. `md` is the pair's
    * manifest as the caller's [[scanPairs]] parsed it (None when torn:
    * only the control files go). */
  private def settlePair(fs: FileSystem, tableDir: Path, n: String,
                         md: Option[ManifestData],
                         protectedFiles: Set[Path]): Unit = {
    val cb = new Path(tableDir, "_committed_batches")
    md.foreach(_.entries.foreach { case (rel, _) =>
      val p = new Path(tableDir, finalRelPath(rel))
      if (!protectedFiles.contains(fs.makeQualified(p)))
        fs.delete(p, false)
    })
    fs.delete(new Path(cb, s"$n.committed"), false)
    fs.delete(new Path(cb, s"$n.manifest"), false)
  }

  /** The first step of every maintenance op: finish whatever an
    * interrupted predecessor left. Settles every superseded ghost (an
    * interrupted cleanup) and every unmarked `compact-*`/`compactdata-*`
    * manifest (a fold that crashed before its marker) through the
    * protected-aware [[settlePair]] — a control merge's files are all
    * still live and stay, a crashed rewrite's promoted files are named
    * by no live pair and go — then drops orphaned rewrite staging.
    * Maintenance owns those namespaces and runs writer-free, so none of
    * it can be an in-flight promote. Returns `log` minus the pairs it
    * settled: the view the op goes on with, without a rescan. */
  private def settle(fs: FileSystem, tableDir: Path, log: LogScan): LogScan = {
    val settled = (log.ghosts.toSeq.sorted ++ log.pairs.collect {
      case (n, false, _) if n.startsWith("compact") => n
    }).distinct
    if (settled.nonEmpty) {
      val protectedFiles = log.files.map(fs.makeQualified).toSet
      settled.foreach(n => settlePair(fs, tableDir, n, log.manifest(n), protectedFiles))
    }
    val staging = new Path(tableDir, "_staging")
    if (fs.exists(staging))
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith("compactdata_"))
        .foreach(p => fs.delete(p, true))
    log.without(settled.toSet)
  }

  /** The one commit of every maintenance op: replace `inputs` (live
    * committed pairs of the settled view `log`) by one fresh pair
    * `<prefix>-<k>` naming `restaged`'s rows, written under
    * `_staging/<prefix>_<k>/`, plus the `carried` files, which stay
    * where they are. Steps 1 to 4 are a batch's own [[stage]] and
    * [[commit]]. In order, each step atomic or idempotent:
    *  1. STAGE `restaged` partitioned by region/accountId/eventDay, and
    *     read each staged file's footer stats. The dir is private to
    *     this fold: [[settle]] dropped any a crashed fold left.
    *  2. MANIFEST: publish the staged files with their stats and the
    *     carried files with the stats their input entries recorded,
    *     `#supersedes` = the inputs (the settled view holds no ghost to
    *     carry), `#maxbatch` = the largest batch id they (transitively)
    *     cover — what keeps the time-travel horizon boundable across
    *     chained folds — and `layout` as `#layout`.
    *  3. PROMOTE the staged files, length-verified ([[promoteOne]]):
    *     fresh part-file names, so the inputs' files stay live for
    *     readers meanwhile.
    *  4. COMMIT: publish the marker and drop the staging dir. The
    *     marker is the atomic swap: every input is now superseded by
    *     name, and the read contract is exactly the new pair's files.
    *  5. CLEANUP: settle every input against the new pair's files —
    *     files no longer named go first, then the marker, then the
    *     manifest.
    * Until step 4 the new manifest is unmarked and invisible; between 4
    * and 5 the inputs are ghosts that [[LogScan.files]] excludes. A
    * crash anywhere leaves state the next op's [[settle]] finishes. */
  private def fold(fs: FileSystem, tableDir: Path, log: LogScan, prefix: String,
                   inputs: Seq[(String, ManifestData)],
                   restaged: Option[DataFrame], carried: Seq[(String, Long)],
                   layout: Option[String] = None): Unit = {
    val k = log.nextK(prefix)
    val stagingRoot = new Path(tableDir, s"_staging/${prefix}_$k")
    val (staged, stagedStats) = restaged.map(stage(fs, _, stagingRoot, "c"))
      .getOrElse((Nil, Map.empty[String, StatsIndex.FileStats]))
    // re-anchor under the staged files' attempt component so finalRelPath holds
    val entries = staged ++ carried
      .map { case (rel, len) => (s"c/${finalRelPath(rel)}", len) }.distinct
    val stats = inputs.flatMap(_._2.stats).toMap ++ stagedStats
    val maxBatch = inputs.flatMap { case (n, md) => n.toLongOption ++ md.maxBatch }
      .maxOption
    commit(fs, tableDir, s"$prefix-$k", prefix, staged,
      Some(manifestBody(entries, stats, inputs.map(_._1).toSet, maxBatch, layout)),
      restaged.map(_ => stagingRoot))
    val keep = entries.map { case (rel, _) =>
      fs.makeQualified(new Path(tableDir, finalRelPath(rel)))
    }.toSet
    inputs.foreach { case (n, md) => settlePair(fs, tableDir, n, Some(md), keep) }
  }

  /** Merge the control files of every COMMITTED batch into ONE
    * (manifest, committed) pair named `compact-<k>`, then delete the
    * originals — bounding the one-GET-per-manifest tax every
    * [[scanPairs]] pays at streaming cadence (a 10 s trigger over months
    * is 10⁵–10⁶ small control objects per table). A [[fold]] that
    * restages nothing and carries every input file: one scan feeds the
    * settle and the merge, and no manifest is opened twice. OFFLINE
    * maintenance: run it only while no writer is active on the table
    * (the same single-writer contract the sink itself requires).
    *
    * Reader-safe at every crash point by ordering alone: between the
    * merged marker and the originals' deletes the merged pair and the
    * superseded originals name the same data files, and the read
    * contract excludes the superseded ones. A crashed compaction is
    * simply re-run: the re-run's [[settle]] drops its unmarked
    * `compact-*` manifest before publishing its own.
    *
    * `maxBatchId` bounds WHICH batch pairs may merge: only pairs whose
    * name parses as a batch id <= maxBatchId (compact-* and
    * compactdata-* pairs always may — they hold only previously-folded
    * batches).
    * This is what makes the STREAMING in-band call safe: the streaming
    * checkpoint commits batch N only after foreachBatch(N) returns, so
    * folding N's own pair inside the batch would let a crash-before-
    * checkpoint replay find no pair, restage, and DUPLICATE N's rows
    * beside the merged manifest's. Pass `batchId - 1` from inside a
    * batch; the offline default folds everything.
    *
    * Foreign-writer (`w-<writerId>-<n>`) pairs are folded ONLY for
    * writerIds listed in `foldWriters` — for everyone else they are
    * untouchable for the same replay reason as maxBatchId: that
    * writer's crash replay looks for its OWN pair name, and folding it
    * away would make the replay restage and duplicate its rows. List a
    * writer only once it is RETIRED (its job finished and will never
    * re-run); this is the merge step that absorbs a completed backfill
    * into the compacted history.
    *
    * Returns the number of batch pairs merged (0 = nothing to do). */
  def compactCommits(fs: FileSystem, tableDir: Path,
                     maxBatchId: Long = Long.MaxValue,
                     foldWriters: Set[String] = Set.empty): Int = {
    val log = settle(fs, tableDir, scanPairs(fs, tableDir))
    val inputs = log.live.filterNot { case (n, _) =>
      // a batch newer than maxBatchId is untouchable: its streaming
      // checkpoint may not have committed yet (see scaladoc)
      n.toLongOption.exists(_ > maxBatchId) ||
        // a foreign writer's pair is untouchable unless that writer is
        // explicitly retired: its replay checks this pair's existence
        (n.startsWith("w-") && !writerIdOf(n).exists(foldWriters.contains))
    }
    if (inputs.size < 2) return 0
    fold(fs, tableDir, log, "compact", inputs, None, inputs.flatMap(_._2.entries))
    inputs.size
  }

  /** Rewrite the data files of every committed batch into (at most)
    * `filesPerDay` files per (region, accountId, eventDay) partition —
    * the DATA half of the small-files problem [[compactCommits]] only
    * half-solves: at a 10 s trigger a route accrues ~8.6k batches/day,
    * each with its own parquet files, and reading a day then opens
    * thousands of small objects however few control files remain.
    *
    * OFFLINE maintenance, single operator, no concurrent writer on the
    * table (the same contract as [[compactCommits]]). Readers BY
    * MANIFEST ([[OcsfTables.load]]) are safe at every point; a
    * directory-scanning reader (Athena over the prefix) may see rows
    * doubled during the publish-to-cleanup window and must not run
    * concurrently. A [[fold]] into a `compactdata-<k>` pair that
    * restages every input row (read through
    * [[OcsfTables.committedReader]] with the data columns merged across
    * every file's footer, laid by [[rewriteLayout]]) and carries
    * nothing. The rewritten files' manifest entries record their stats,
    * so a lake whose manifests predate per-file stats prunes again
    * after one rewrite.
    *
    * `zorderCols` additionally re-lays each day partition along the
    * Morton curve of those columns ([[graft.operators.Zorder]]) —
    * narrow per-file min-max stats on every layout column, the
    * OPTIMIZE-ZORDER maintenance op for the lake's read side.
    *
    * Returns the number of input pairs compacted (0 = nothing to do). */
  def compactDataFiles(spark: SparkSession, tableDir: Path,
                       filesPerDay: Int = 1,
                       zorderCols: Seq[String] = Nil): Int = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val log = settle(fs, tableDir, scanPairs(fs, tableDir))
    // every live pair but foreign-writer (w-*) ones: their owner's
    // replay checks the pair by name (rewriting + superseding it would
    // duplicate rows on replay). Retire a backfill via
    // compactCommits(foldWriters) first; its rows then live in a
    // compact-* pair this rewrite CAN fold.
    val inputs = log.rewriteInputs
    // already at the target layout? (filesPerDay files per partition
    // dir) — counts files, not pairs: a control-file merge leaves one
    // pair that can still name thousands of small objects
    val partDirs = inputs.flatMap(_._2.entries.map { case (rel, _) =>
      finalRelPath(rel).split('/').dropRight(1).mkString("/")
    }).toSet
    // With zorderCols set, a file-count-satisfying state only no-ops
    // when the surviving single pair RECORDS the same layout in its
    // manifest (`#layout zorder:...` — written by this rewrite's own
    // output): a hash-compacted, freshly written, or post-delete pair
    // at the target count still holds interleaved rows and must be
    // re-laid. This keeps the maintenance loop idempotent without ever
    // treating "few files" as "clustered files".
    val layout = layoutTag(zorderCols)
    if (inputs.isEmpty ||
        ((zorderCols.isEmpty ||
            (inputs.size <= 1 && inputs.forall(_._2.layout == layout))) &&
          inputs.map(_._2.entries.size).sum <= partDirs.size * filesPerDay))
      return 0
    val files = inputs.flatMap(_._2.entries.map { case (rel, _) =>
      new Path(tableDir, finalRelPath(rel))
    }).distinct
    val rows = OcsfTables.committedReader(spark, fs, tableDir, files, mergeSchemas = true)(files)
    fold(fs, tableDir, log, "compactdata", inputs,
      Some(rewriteLayout(rows, filesPerDay, zorderCols, partDirs.size * filesPerDay)),
      Nil, layout)
    inputs.size
  }

  /** The `#layout` a rewrite with `zorderCols` produces. */
  private def layoutTag(zorderCols: Seq[String]): Option[String] =
    if (zorderCols.isEmpty) None else Some("zorder:" + zorderCols.mkString(","))

  /** The physical split+order of a data rewrite. With `zorderCols`:
    * cluster each day's rows along the Morton curve
    * ([[graft.operators.Zorder]], C34) so per-file min-max stats
    * narrow on EVERY layout column; the file split is the TOP z bits —
    * a z-RANGE cut into `zFiles` files via an EXPLICIT-count
    * `repartitionByRange` (an implicit repartition would let AQE
    * coalesce the layout away), so clustering survives across files.
    * Without: the salted split of a route write
    * ([[OcsfSink.saltedByDay]]), each file time-sorted. Either way the
    * sort leads with the partition keys, which is the order the
    * partitioned write requires, so the write keeps it instead of
    * re-sorting. */
  private def rewriteLayout(rows: DataFrame, filesPerDay: Int,
                            zorderCols: Seq[String], zFiles: Int): DataFrame =
    if (zorderCols.isEmpty) OcsfSink.saltedByDay(rows, filesPerDay)
    else {
      import org.apache.spark.sql.functions.col
      val keys = OcsfSink.PartitionCols.map(col) :+ col("__z")
      val bits = math.min(16, 63 / zorderCols.size)
      graft.operators.Zorder.withZValue(rows, zorderCols, "__z", bits)
        .repartitionByRange(math.max(1, zFiles), keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("__z")
    }

  /** Row-level delete: permanently remove every committed row matching
    * SQL predicate `cond` — the erasure request (GDPR/DSAR takedown)
    * the reference punts to "rewrite the S3 prefix by hand". Rewrites
    * ONLY the files that contain matching rows; every untouched file
    * is CARRIED by name into the superseding manifest (no copy), so
    * the IO cost scales with the data actually touched, not the
    * table — and the stats the manifests record ([[StatsIndex]])
    * pre-prune which files are even scanned for matches, on the
    * driver. Rewritten files get fresh stats and carried files keep
    * theirs, so the output prunes at once.
    *
    * Same offline single-operator contract as [[compactDataFiles]],
    * and the same [[fold]] into a `compactdata-<k>` pair: it restages
    * the kept rows of the affected files and carries the rest, and
    * supersedes EVERY live pair (a partial fold would break the horizon
    * derivation's prefix invariant and leak post-snapshot rows into old
    * snapshots). A crash anywhere re-runs safely; the re-run re-scans
    * (already-deleted rows simply no longer match). Readers by
    * manifest are exact at every point; a directory scanner may see
    * kept rows doubled and deleted rows still present during the
    * publish-to-cleanup window.
    *
    * Erasure semantics the caller must know:
    *  - rows where `cond` is NULL are KEPT (three-valued logic, same
    *    as `DELETE WHERE` in SQL);
    *  - time travel ([[OcsfTables.loadAsOf]]) below the new horizon
    *    THROWS afterwards — erased rows are not resurrectable, which
    *    is the point of an erasure;
    *  - live foreign-writer (`w-*`) pairs REFUSE the delete: their
    *    owner's replay would restage the erased rows. Retire them
    *    first via [[compactCommits]]`(foldWriters = ...)`;
    *  - pass the table's `filesPerDay`/`zorderCols` to re-lay the
    *    rewritten slice like the rest of the table. The output pair
    *    records the `#layout` header ONLY when every superseded pair
    *    already recorded the same layout (the carried files are part
    *    of the pair too — a mixed pair must stay rewrite-eligible);
    *    an erasure over a z-ordered table with matching `zorderCols`
    *    therefore keeps the maintenance loop a no-op, while one
    *    without re-layout leaves the header off and the next
    *    `compactDataFiles(zorderCols = ...)` restores clustering.
    *
    * Returns the number of rows deleted. */
  def deleteWhere(spark: SparkSession, tableDir: Path, cond: String,
                  filesPerDay: Int = 1,
                  zorderCols: Seq[String] = Nil): Long = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    import org.apache.spark.sql.functions.{coalesce, count, expr, input_file_name, lit, not}
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val log0 = scanPairs(fs, tableDir)
    require(log0.hasCommitted,
      s"$tableDir has no batch-commit log — deleteWhere needs a table " +
        "written through IdempotentSink")
    val log = settle(fs, tableDir, log0)
    val liveWriters = log.committed.map(_._1).filter(_.startsWith("w-"))
    require(liveWriters.isEmpty,
      s"$tableDir has live foreign-writer pairs ${liveWriters.toSeq.sorted}" +
        " — a delete over them would be undone by the writer's replay;" +
        " retire them first via compactCommits(foldWriters = ...)")
    val inputs = log.rewriteInputs
    if (inputs.isEmpty) return 0L
    val entries = inputs.flatMap(_._2.entries)
    def finalOf(rel: String): Path = new Path(tableDir, finalRelPath(rel))

    // which committed files hold matching rows? The manifest stats'
    // pre-prune (advisory) bounds the scan; the scan itself reads only
    // the predicate's columns
    val candidates = StatsIndex.prune(spark, entries.map(e => finalOf(e._1)).distinct,
      log.stats, cond)
    if (candidates.isEmpty) return 0L
    val delCond = expr(cond)
    val read = OcsfTables.committedReader(spark, fs, tableDir, candidates,
      mergeSchemas = true)
    val matches = read(candidates)
      .filter(delCond)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => normalizePath(fs, r.getString(0)) -> r.getLong(1))
    val deleted = matches.map(_._2).sum
    if (deleted == 0L) return 0L
    val affectedFiles = matches.map(_._1).toSet

    // EVERY live pair is superseded — not just the affected ones —
    // because the commit log's horizon derivation rests on folds being
    // prefix-closed over the batch axis ([[horizonFloor]]): folding
    // batch 1 while batch 0 stays live would let loadAsOf(0) serve
    // batch 1's surviving rows into a batch-0 snapshot. Folding
    // everything keeps snapshots exact and gives the RIGHT erasure
    // semantics: below-horizon history (which still contains the
    // erased rows) refuses to serve rather than resurrecting them.
    // Untouched files are carried BY NAME (no copy) — only files that
    // actually contain matching rows are rewritten.
    val (rewrite, carried) = entries.partition { case (rel, _) =>
      affectedFiles.contains(normalizePath(fs, finalOf(rel)))
    }
    val rewriteFiles = rewrite.map(e => finalOf(e._1)).distinct
    val kept = read(rewriteFiles).where(not(coalesce(delCond, lit(false))))
    // z-ordered: one staged file per affected input file, capped by the
    // per-day quota — the rewrite covers only a SLICE of each day, so
    // the full day quota would inflate the file count past the
    // compaction target and force a needless follow-up rewrite
    val zFiles = math.min(rewriteFiles.size,
      rewriteFiles.map(_.getParent).toSet.size * filesPerDay)
    // record the layout ONLY when the whole output pair (staged AND
    // carried files) is uniformly laid: every superseded pair must
    // already record it
    fold(fs, tableDir, log, "compactdata", inputs,
      Some(rewriteLayout(kept, filesPerDay, zorderCols, zFiles)), carried,
      layoutTag(zorderCols).filter(l => inputs.forall(_._2.layout.contains(l))))
    deleted
  }

  /** Offline janitor for the residue no replay ever reclaims: a
    * writer that CRASHED AND NEVER CAME BACK leaves its attempt
    * staging dir (`_staging/batch_<pair>/g<gen>/`) and possibly a
    * `.{name}.tmp` from a torn [[writeAtomic]] — both invisible to
    * readers (staging is underscore-hidden, tmp files are dot-hidden)
    * but real object-store storage forever. Every OTHER residue class
    * already self-heals: a replay resumes its own staging, and the
    * data-rewrite ops settle crashed `compactdata` state on their next
    * run (which this also invokes).
    *
    * Deletes ONLY bookkeeping residue, never data: batch staging dirs
    * for pairs that are already COMMITTED (their rows live at final
    * paths; the staging copy is a leftover) or whose pair name has no
    * manifest at all AND is not in-flight in this process (a crashed
    * first attempt — nothing was published, nothing is lost), plus
    * torn control-dir tmp files. Final-path data files named by no
    * manifest (out-of-contract plain appends) are NOT touched — the
    * [[OcsfTables.load]] stray guard reports those; deleting them
    * could destroy data this operator does not own.
    *
    * OFFLINE, single operator, same contract as the other maintenance
    * ops. Returns (stagingDirsRemoved, tmpFilesRemoved). */
  def vacuum(spark: org.apache.spark.sql.SparkSession,
             tableDir: Path): (Int, Int) = {
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val cb = new Path(tableDir, "_committed_batches")
    if (!fs.exists(cb)) return (0, 0)
    val log = settle(fs, tableDir, scanPairs(fs, tableDir))
    val done = log.committed.map(_._1).toSet
    val staging = new Path(tableDir, "_staging")
    var dirs = 0
    if (fs.exists(staging)) {
      fs.listStatus(staging).map(_.getPath)
        .filter(_.getName.startsWith("batch_")).foreach { d =>
          val pair = d.getName.stripPrefix("batch_")
          val inFlight =
            bookkeepingKeys.contains(attemptKey(fs, tableDir, pair))
          // committed → rows are at final paths, staging is residue;
          // no manifest and not in-flight → crashed first attempt,
          // nothing published. A published-but-unmarked batch manifest
          // keeps its staging (a replay may still resume its promote).
          if (!inFlight && (done.contains(pair) || !log.names.contains(pair))) {
            fs.delete(d, true)
            dirs += 1
          }
        }
    }
    var tmps = 0
    log.tmps.foreach { p => fs.delete(p, false); tmps += 1 }
    (dirs, tmps)
  }

  /** Canonical per-file key: `input_file_name()` URIs (empty
    * authority) and manifest-derived Paths (null authority) must
    * compare equal — rebuilt from URI components, never `toString`. */
  private[ocsf] def normalizePath(fs: FileSystem, p: Path): String = {
    val u = fs.makeQualified(p).toUri
    s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
  }
  private[ocsf] def normalizePath(fs: FileSystem, s: String): String =
    normalizePath(fs, new Path(new java.net.URI(s)))

  /** Data files under `root` with their lengths, as `/`-relative
    * paths, skipping `_`- and `.`-prefixed bookkeeping files. */
  private def listRelative(fs: FileSystem, root: Path): Seq[(String, Long)] = {
    val rootUri = fs.makeQualified(root).toUri
    val it = fs.listFiles(root, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        out += ((rootUri.relativize(fs.makeQualified(f.getPath).toUri).getPath,
          f.getLen))
    }
    out.result()
  }

  private val ManifestHeader = "#graft-manifest files="
  private val ManifestTrailer = "#end"
  private val SupersedesHeader = "#supersedes "
  private val MaxBatchHeader = "#maxbatch "
  private val LayoutHeader = "#layout "

  /** Parsed manifest: the staged data files (with lengths), the
    * control-pair base names this manifest REPLACES, on compaction
    * manifests the largest batch id the pair covers, and the per-file
    * stats its entries record, keyed by final relative path. A
    * committed manifest whose name appears in another committed
    * manifest's `supersedes` set is dead — its entries are excluded
    * from the read contract, which is what makes a data-rewriting
    * compaction's marker publish an atomic swap for readers-by-
    * manifest. `maxBatch` keeps the time-travel horizon boundable
    * across CHAINED compactions: a second-generation fold's supersedes
    * set names only earlier compaction pairs (no numeric batch ids),
    * so without the explicit carry the folded coverage would be
    * unknowable and [[filesAsOf]]/[[filesSince]] would have to refuse
    * every request. */
  private[ocsf] final case class ManifestData(entries: Seq[(String, Long)],
                                              supersedes: Set[String],
                                              maxBatch: Option[Long] = None,
                                              layout: Option[String] = None,
                                              stats: Map[String, StatsIndex.FileStats] = Map.empty)

  /** Manifest body: a count header, an optional `#supersedes` line, an
    * optional `#maxbatch` line, an optional `#layout` line (the
    * physical clustering a data rewrite produced, e.g.
    * `zorder:time,severity` — what lets the maintenance loop no-op
    * ONLY when the requested layout is already in place), one
    * `path<TAB>length` line per staged data file, followed by
    * `<TAB>stats` ([[StatsIndex.encode]]) when `stats` holds the file's
    * final relative path, and a `#end` trailer. The trailer makes the
    * format SELF-TERMINATING: a prefix cut anywhere — including inside
    * the last entry's length digits or stats, where the count still
    * matches and every line still parses — is detectably torn, because
    * `#end` is the final bytes written and survives no truncation. */
  private def manifestBody(entries: Seq[(String, Long)],
                           stats: Map[String, StatsIndex.FileStats],
                           supersedes: Set[String] = Set.empty,
                           maxBatch: Option[Long] = None,
                           layout: Option[String] = None): String = {
    val supersLine =
      if (supersedes.isEmpty) Nil
      else Seq(s"$SupersedesHeader${supersedes.toSeq.sorted.mkString(",")}")
    val maxLine = maxBatch.map(m => s"$MaxBatchHeader$m").toSeq
    val layoutLine = layout.map(l => s"$LayoutHeader$l").toSeq
    (s"$ManifestHeader${entries.size}" +:
      (supersLine ++ maxLine ++ layoutLine ++
        entries.map { case (rel, len) =>
          (Seq(rel, len.toString) ++ stats.get(finalRelPath(rel)).map(StatsIndex.encode))
            .mkString("\t")
        }) :+
      ManifestTrailer).mkString("\n")
  }

  /** Parse a manifest; None means torn/invalid (publish crashed on a
    * non-atomic store) and the caller must discard and republish. Only
    * the self-terminating header+trailer format is valid — any other
    * content is treated as torn, so a replay restages under a fresh
    * generation rather than trusting a file of unknown provenance. */
  private[ocsf] def readManifestFull(fs: FileSystem, p: Path): Option[ManifestData] = {
    val lines = readLines(fs, p)
    lines.headOption match {
      case Some(h) if h.startsWith(ManifestHeader) &&
          lines.last == ManifestTrailer =>
        val expected = h.stripPrefix(ManifestHeader).toIntOption
        val (supersedes, afterSupers) = lines.tail.dropRight(1) match {
          case s +: rest if s.startsWith(SupersedesHeader) =>
            (s.stripPrefix(SupersedesHeader).split(',')
              .iterator.filter(_.nonEmpty).toSet, rest)
          case rest => (Set.empty[String], rest)
        }
        val (maxBatch, afterMax) = afterSupers match {
          case m +: rest if m.startsWith(MaxBatchHeader) =>
            (m.stripPrefix(MaxBatchHeader).toLongOption, rest)
          case rest => (None, rest)
        }
        val (layout, body) = afterMax match {
          case l +: rest if l.startsWith(LayoutHeader) =>
            (Some(l.stripPrefix(LayoutHeader)), rest)
          case rest => (None, rest)
        }
        // an entry's stats field is optional: manifests written before
        // per-file stats have none, and an unreadable one only costs
        // pruning for that file
        val parsed = body.map { l =>
          l.split('\t') match {
            case Array(rel, len) => len.toLongOption.map(n => (rel, n, None))
            case Array(rel, len, st) => len.toLongOption.map(n => (rel, n, StatsIndex.decode(st)))
            case _ => None
          }
        }
        if (expected.contains(parsed.size) && parsed.forall(_.isDefined)) {
          val es = parsed.flatten
          Some(ManifestData(es.map(e => (e._1, e._2)), supersedes, maxBatch, layout,
            es.collect { case (rel, _, Some(st)) => finalRelPath(rel) -> st }.toMap))
        } else None
      case _ => None // torn, zero-byte, or unknown format: never trusted
    }
  }

  /** Publish a small control file atomically: existence implies
    * complete content (write to a dot-temp sibling, then rename). */
  private def writeAtomic(fs: FileSystem, dst: Path, content: String): Unit = {
    // `create` makes the missing parent dirs itself
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val os = fs.create(tmp, true)
    try os.write(content.getBytes(StandardCharsets.UTF_8)) finally os.close()
    if (!fs.rename(tmp, dst) && !fs.exists(dst))
      throw new IllegalStateException(s"could not publish $dst")
    ()
  }

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val is = fs.open(p)
    try scala.io.Source.fromInputStream(is, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally is.close()
  }
}
