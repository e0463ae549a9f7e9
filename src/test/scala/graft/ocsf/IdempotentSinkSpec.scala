package graft.ocsf

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A24 — the two-phase (stage → manifest → promote → commit) batch
  * write: every step must be idempotent under replay, so a crash at
  * ANY point between routes or inside one route's write never
  * duplicates rows. */
class IdempotentSinkSpec extends SparkSpec {

  private val region = "us-east-1"
  private val acct = "123456789012"

  /** (uid, day) rows; distinct days land in distinct partition dirs,
    * so multi-day batches stage MULTIPLE files — the partial-promote
    * scenario needs at least two. */
  private def df(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("uid", "day")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"))
  }

  private def tableUids(base: Path): Seq[String] =
    spark.read.parquet(s"$base/dns_activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq

  test("self-termination property: EVERY strict prefix of a manifest parses as torn") {
    val base = Files.createTempDirectory("idem-tear")
    // a real batch manifest and a real compaction manifest (supersedes
    // + maxbatch headers) — the two shapes a torn publish can leave
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"),
      base.toString, "DNS Activity", region, acct, batchId = 0L)
    IdempotentSink.writeBatch(df("e3" -> "2023-11-14"),
      base.toString, "DNS Activity", region, acct, batchId = 1L)
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cb = base.resolve("dns_activity/_committed_batches")
    val batchManifest = Files.readAllBytes(cb.resolve("0.manifest"))
    assert(IdempotentSink.compactCommits(fs, tableDir) == 2)
    val compactManifest = Files.readAllBytes(cb.resolve("compact-0.manifest"))
    val probe = Files.createTempDirectory("idem-tear-probe")
    for (bytes <- Seq(batchManifest, compactManifest)) {
      val p = new org.apache.hadoop.fs.Path(s"$probe/m.manifest")
      // the full content must parse...
      Files.write(Paths.get(s"$probe/m.manifest"), bytes)
      assert(IdempotentSink.readManifestFull(fs, p).isDefined, "full manifest must parse")
      // ...and EVERY strict byte-prefix must be rejected as torn — the
      // property the #end trailer buys on a non-atomic store, including
      // cuts inside the last entry's length digits where the line count
      // still matches and every line still parses
      for (cut <- 0 until bytes.length) {
        Files.write(Paths.get(s"$probe/m.manifest"), bytes.take(cut))
        assert(IdempotentSink.readManifestFull(fs, p).isEmpty,
          s"prefix of length $cut parsed as a valid manifest")
      }
    }
  }

  test("writeBatch skips a fully committed (route, batch) on replay") {
    val base = Files.createTempDirectory("idem-skip")
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), base.toString, "DNS Activity",
      region, acct, batchId = 0L)
    assert(tableUids(base) == Seq("e1", "e2"))
    // full replay of the same batch: marker short-circuits, zero dups
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), base.toString, "DNS Activity",
      region, acct, batchId = 0L)
    assert(tableUids(base) == Seq("e1", "e2"))
    // the NEXT batch appends normally
    IdempotentSink.writeBatch(df("e3" -> "2023-11-14"), base.toString, "DNS Activity",
      region, acct, batchId = 1L)
    assert(tableUids(base) == Seq("e1", "e2", "e3"))
    // bookkeeping is invisible to readers but present on disk
    assert(Files.exists(base.resolve("dns_activity/_committed_batches/0.committed")))
    assert(Files.exists(base.resolve("dns_activity/_committed_batches/1.committed")))
    assert(!Files.exists(base.resolve("dns_activity/_staging/batch_0")))
  }

  test("batch fanOutIdempotent replays without duplicating any route") {
    import spark.implicits._
    val base = Files.createTempDirectory("idem-fanout")
    val classified = Seq(
      ("""{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a1","cid":"c1","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"one.example.com"}""", ""),
      ("""{"event_simpleName":"ProcessRollup2","name":"ProcessRollup2V19","aid":"a2","cid":"c2","id":"e2","timestamp":"1700000000123","event_platform":"Win","ImageFileName":"C:\\x\\cmd.exe","RawProcessId":"42"}""", ""))
      .toDF("raw", "unused").select(col("raw"))
    val loaded = graft.sources.FdrSource.mappedWithClass(
      graft.sources.FdrSource.withEventName(
        classified.withColumn("fields",
          from_json(col("raw"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))))
    OcsfSink.fanOutIdempotent(loaded, base.toString, region, acct, runId = 1L)
    val n1 = spark.read.parquet(s"$base/dns_activity").count()
    val n2 = spark.read.parquet(s"$base/process_activity").count()
    assert(n1 == 1 && n2 == 1)
    // the whole fan-out replayed under the same runId: zero new rows
    OcsfSink.fanOutIdempotent(loaded, base.toString, region, acct, runId = 1L)
    assert(spark.read.parquet(s"$base/dns_activity").count() == n1)
    assert(spark.read.parquet(s"$base/process_activity").count() == n2)
  }

  test("writeBatch resumes a half-promoted batch without restaging") {
    val base = Files.createTempDirectory("idem-resume")
    val table = base.resolve("dns_activity")
    val staging = table.resolve("_staging/batch_7")
    val genDir = staging.resolve("g1")
    // stage exactly as writeBatch does (same layout, overwrite mode,
    // per-attempt generation dir)
    OcsfSink.partitionedFrame(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), region, acct, 0).write
      .mode("overwrite")
      .partitionBy("region", "accountId", "eventDay")
      .parquet(genDir.toString)
    val staged = Files.walk(genDir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => genDir.relativize(p).toString)
      .filterNot(p => Paths.get(p).getFileName.toString.matches("^[_.].*"))
      .toSeq.sorted
    assert(staged.nonEmpty, "staging produced no data files")
    // crash AFTER the manifest published, DURING the promote: one file
    // already moved into the table, the rest still staged
    val sizes = staged.map(r => r -> Files.size(genDir.resolve(r))).toMap
    val cb = table.resolve("_committed_batches")
    Files.createDirectories(cb)
    Files.write(cb.resolve("7.manifest"),
      (s"#graft-manifest files=${staged.size}" +:
        staged.map(r => s"g1/$r\t${sizes(r)}") :+ "#end")
        .mkString("\n").getBytes("UTF-8"))
    val moved = genDir.resolve(staged.head)
    val dst = table.resolve(staged.head)
    Files.createDirectories(dst.getParent)
    Files.move(moved, dst)

    IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), base.toString, "DNS Activity",
      region, acct, batchId = 7L)
    assert(tableUids(base) == Seq("e1", "e2"))
    // resumed, not restaged: the landed files are the ORIGINAL staged
    // names (a restage would have minted fresh part-file UUIDs)
    val landed = Files.walk(table).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => table.relativize(p).toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    assert(landed == staged, s"landed=$landed staged=$staged")
    assert(Files.exists(cb.resolve("7.committed")))
    assert(!Files.exists(staging))
    // and a second replay after commit is a no-op
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), base.toString, "DNS Activity",
      region, acct, batchId = 7L)
    assert(tableUids(base) == Seq("e1", "e2"))
  }

  test("a published, unmarked pair whose staged file is gone fails the replay loudly") {
    val base = Files.createTempDirectory("idem-lost")
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), base.toString,
      "DNS Activity", region, acct, batchId = 0L)
    // the pair is published but unmarked, one file never landed, and
    // its staging is gone: nothing is left to promote it from
    val table = base.resolve("dns_activity")
    val marker = table.resolve("_committed_batches/0.committed")
    Files.delete(marker)
    val landed = Files.walk(table).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    assert(landed.size == 2)
    Files.delete(landed.last)
    val e = intercept[IllegalStateException] {
      IdempotentSink.writeBatch(df("e1" -> "2023-11-14", "e2" -> "2023-11-15"), base.toString,
        "DNS Activity", region, acct, batchId = 0L)
    }
    assert(e.getMessage.contains("staged file lost before promote"), e.getMessage)
    assert(!Files.exists(marker), "a pair missing a file must not be marked committed")
  }

  test("commit evicts bookkeeping: the generation/lock maps do not grow across batches") {
    val base = Files.createTempDirectory("idem-evict")
    (0L until 6L).foreach { b =>
      IdempotentSink.writeBatch(df(s"e$b" -> "2023-11-14"), base.toString,
        "DNS Activity", region, acct, batchId = b)
    }
    // every batch committed → every (table, batch) entry evicted; a
    // year-long streaming query must not accumulate one entry per batch
    assert(!IdempotentSink.bookkeepingKeys.exists(_.contains("idem-evict")),
      "committed (table, batch) bookkeeping must be evicted")
    assert(tableUids(base) == (0 until 6).map("e" + _))
    // reads go through the batch-commit log for this table
    assert(OcsfTables.load(spark, base.toString, "DNS Activity").count() == 6)
  }

  test("a superseded attempt is fenced off and cannot publish or promote") {
    val base = Files.createTempDirectory("idem-fence")
    val batch = df("e1" -> "2023-11-14", "e2" -> "2023-11-15")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    // attempt g1 begins (the route future the streaming layer later
    // times out and abandons), then the replayed batch begins a NEWER
    // attempt — but has not committed yet
    val gen1 = IdempotentSink.beginAttempt(fs, tableDir, pair = "3")
    val gen2 = IdempotentSink.beginAttempt(fs, tableDir, pair = "3")
    // the abandoned g1 attempt gets scheduled mid-replay: it stages
    // into its own generation dir, then must abort at the manifest
    // control step — the replay owns the batch now
    intercept[IdempotentSink.SupersededAttemptException] {
      IdempotentSink.runAttempt(batch, fs, tableDir, "DNS Activity",
        region, acct, pair = "3", filesPerDay = 0, gen = gen1)
    }
    assert(!Files.exists(base.resolve("dns_activity/_committed_batches/3.manifest")),
      "a fenced attempt published a manifest")
    // the current attempt then lands the batch exactly once
    IdempotentSink.runAttempt(batch, fs, tableDir, "DNS Activity",
      region, acct, pair = "3", filesPerDay = 0, gen = gen2)
    assert(tableUids(base) == Seq("e1", "e2"))
    // a late replay of the FENCED generation is also harmless: the
    // committed marker short-circuits it
    IdempotentSink.runAttempt(batch, fs, tableDir, "DNS Activity",
      region, acct, pair = "3", filesPerDay = 0, gen = gen1)
    assert(tableUids(base) == Seq("e1", "e2"))
    // a straggler's staging leftovers (it wrote its gen dir before the
    // winner's cleanup... or after) are swept on the next replay
    val orphan = base.resolve(s"dns_activity/_staging/batch_3/g$gen1")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-straggler.parquet"), Array[Byte](1, 2, 3))
    IdempotentSink.writeBatch(batch, base.toString, "DNS Activity",
      region, acct, batchId = 3L)
    assert(tableUids(base) == Seq("e1", "e2"))
    assert(!Files.exists(base.resolve("dns_activity/_staging/batch_3")))
  }

  test("a manifest cut inside the last entry's length digits is torn, not trusted") {
    // the cut point the count header alone cannot catch: the line count
    // matches and every line still parses, but the last length is a
    // truncated prefix — only the #end trailer exposes it. A replay
    // must restage rather than promote (and then fail the verify, which
    // previously wedged the batch forever after deleting the landed dst)
    val base = Files.createTempDirectory("idem-torn-len")
    val table = base.resolve("dns_activity")
    val cb = table.resolve("_committed_batches")
    Files.createDirectories(cb)
    Files.write(cb.resolve("5.manifest"),
      ("#graft-manifest files=1\n" +
        "g1/region=us-east-1/accountId=123456789012/eventDay=20231114/part-0.parquet\t12")
        .getBytes("UTF-8")) // real length was 12345; cut mid-digits, no #end
    IdempotentSink.writeBatch(df("t1" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 5L)
    assert(tableUids(base) == Seq("t1"))
    assert(OcsfTables.load(spark, base.toString, "DNS Activity").count() == 1)
  }

  test("a straggler racing commit-time eviction is fenced without re-leaking bookkeeping") {
    val base = Files.createTempDirectory("idem-evict-race")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    // straggler attempt g1 begins; the replay (g2) lands and commits,
    // evicting the (table, batch) bookkeeping
    val gen1 = IdempotentSink.beginAttempt(fs, tableDir, pair = "4")
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 4L)
    val key = IdempotentSink.attemptKey(fs, tableDir, "4")
    assert(!IdempotentSink.bookkeepingKeys.contains(key), "commit must evict")
    // the straggler now reaches its next control step: lockFor recreates
    // the lock entry (the computeIfAbsent race), then the generation
    // check must fence it AND remove the recreated entry — not mint a
    // zeroed counter that leaks forever
    IdempotentSink.lockFor(key)
    intercept[IdempotentSink.SupersededAttemptException] {
      IdempotentSink.checkCurrent(key, gen1, "DNS Activity", "4")
    }
    assert(!IdempotentSink.bookkeepingKeys.contains(key),
      "fencing a post-eviction straggler must not re-leak (table, batch) entries")
    assert(tableUids(base) == Seq("e1"))
  }

  test("a committed marker without its manifest fails the read loudly") {
    val base = Files.createTempDirectory("idem-orphan-marker")
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 0L)
    IdempotentSink.writeBatch(df("e2" -> "2023-11-15"), base.toString,
      "DNS Activity", region, acct, batchId = 1L)
    // naive compaction deleted a manifest but left the marker: batch 1's
    // committed data just left the read contract — that must throw, not
    // silently shrink the table
    Files.delete(base.resolve("dns_activity/_committed_batches/1.manifest"))
    val e = intercept[IllegalStateException] {
      OcsfTables.load(spark, base.toString, "DNS Activity").count()
    }
    assert(e.getMessage.contains("without manifest"))
  }

  test("compactCommits merges committed batches into one pair; reads identical at every crash point") {
    val base = Files.createTempDirectory("idem-compact")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    (0L until 3L).foreach { b =>
      IdempotentSink.writeBatch(df(s"e$b" -> "2023-11-14"), base.toString,
        "DNS Activity", region, acct, batchId = b)
    }
    val cb = base.resolve("dns_activity/_committed_batches")
    def controlFiles(): Seq[String] = // skip Hadoop local-FS .crc sidecars
      Files.list(cb).iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq.sorted
    val before = OcsfTables.load(spark, base.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    assert(before == Seq("e0", "e1", "e2") && controlFiles().size == 6)

    // snapshot the originals so the publish-then-delete crash window —
    // merged pair AND originals both present — can be reconstructed
    val saved = controlFiles().map(n => n -> Files.readAllBytes(cb.resolve(n)))

    assert(IdempotentSink.compactCommits(fs, tableDir) == 3)
    assert(controlFiles() == Seq("compact-0.committed", "compact-0.manifest"))
    assert(OcsfTables.load(spark, base.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq == before)

    // crash window between merge-publish and original-delete: restore
    // the originals beside the merged pair — the merged manifest's
    // supersedes header keeps them dead, so the read stays exactly-once
    saved.foreach { case (n, bytes) => Files.write(cb.resolve(n), bytes) }
    assert(OcsfTables.load(spark, base.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq == before)
    // re-running the crashed compaction RESUMES the cleanup (the
    // merged pair already stands — nothing new to merge)
    assert(IdempotentSink.compactCommits(fs, tableDir) == 0)
    assert(controlFiles() == Seq("compact-0.committed", "compact-0.manifest"))
    assert(OcsfTables.load(spark, base.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq == before)

    // the NEXT batch lands normally on a compacted table and a further
    // compaction folds it in
    IdempotentSink.writeBatch(df("e3" -> "2023-11-15"), base.toString,
      "DNS Activity", region, acct, batchId = 3L)
    assert(OcsfTables.load(spark, base.toString, "DNS Activity").count() == 4)
    assert(IdempotentSink.compactCommits(fs, tableDir) == 2)
    assert(controlFiles() == Seq("compact-1.committed", "compact-1.manifest"))
    assert(OcsfTables.load(spark, base.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("e0", "e1", "e2", "e3"))
    // idempotent no-op when there is nothing to merge
    assert(IdempotentSink.compactCommits(fs, tableDir) == 0)
  }

  test("in-band compaction never folds a batch newer than maxBatchId") {
    val base = Files.createTempDirectory("idem-maxbatch")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    (0L until 3L).foreach { b =>
      IdempotentSink.writeBatch(df(s"m$b" -> "2023-11-14"), base.toString,
        "DNS Activity", region, acct, batchId = b)
    }
    // the streaming call site compacts DURING batch 2, whose checkpoint
    // has not committed: its pair must survive untouched or a crash
    // would replay the batch against an empty log and double its rows
    assert(IdempotentSink.compactCommits(fs, tableDir, maxBatchId = 1L) == 2)
    val cb = base.resolve("dns_activity/_committed_batches")
    val names = Files.list(cb).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted
    assert(names == Seq("2.committed", "2.manifest",
      "compact-0.committed", "compact-0.manifest"), names.toString)
    assert(OcsfTables.load(spark, base.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("m0", "m1", "m2"))
    // offline (no active writer) the remaining pair folds in
    assert(IdempotentSink.compactCommits(fs, tableDir) == 2)
    assert(OcsfTables.load(spark, base.toString, "DNS Activity").count() == 3)
  }

  test("attempt generations are globally unique, never reused after eviction") {
    val base = Files.createTempDirectory("idem-gen")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    // a per-key counter restarted at 1 after commit-time eviction
    // would hand a replay the same gen a first-attempt straggler
    // still holds; the process-wide sequence makes every gen unique
    val g1 = IdempotentSink.beginAttempt(fs, tableDir, "7")
    IdempotentSink.writeBatch(df("g1" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 7L) // commits + evicts
    val g2 = IdempotentSink.beginAttempt(fs, tableDir, "7")
    assert(g2 > g1, s"recreated generation $g2 must exceed pre-evict $g1")
  }

  test("load rejects a plain-appended stray file on a batch-committed table") {
    val base = Files.createTempDirectory("idem-mixed")
    IdempotentSink.writeBatch(df("e1" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 0L)
    // someone mode("append")s outside the commit log: a data file at a
    // final path that no manifest names — silently invisible to the
    // manifest reader, so load must reject the table, not narrow it
    val table = base.resolve("dns_activity")
    val committed = Files.walk(table).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filterNot(_.toString.contains("/_")).toSeq.head
    val stray = committed.getParent.resolve("part-stray-append.parquet")
    Files.copy(committed, stray)
    // the guard is opt-in maintenance since r14 (default read is the
    // scale path): armed, it must reject the mixed table
    val e = intercept[IllegalArgumentException] {
      OcsfTables.load(spark, base.toString, "DNS Activity",
        verifyAppends = true).count()
    }
    assert(e.getMessage.contains("mixes plain appends"))
    // the default (unguarded) read serves the COMMITTED rows only —
    // the stray is invisible, never double-counted
    assert(OcsfTables.load(spark, base.toString, "DNS Activity").count() == 1)
    // removing the stray restores the guarded read too
    Files.delete(stray)
    assert(OcsfTables.load(spark, base.toString, "DNS Activity",
      verifyAppends = true).count() == 1)
  }

  test("concurrent attempts for the same batch land the rows exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.DurationInt
    val base = Files.createTempDirectory("idem-race")
    val batch = df("e1" -> "2023-11-14", "e2" -> "2023-11-15")
    // two replays of the same (route, batch) racing in one JVM — the
    // timed-out-future-vs-replay shape. Exactly one file set must land;
    // a loser either no-ops (saw the winner's commit), aborts fenced at
    // a control step, or dies mid-stage when the winner's commit sweeps
    // the batch staging dir out from under its unlocked bulk write —
    // all three are in-contract, so only the WINNER's success and the
    // exactly-once read are asserted.
    val done = OcsfSink.withFanOutPool(2, "idem-race-test") { implicit ec =>
      val attempts = (1 to 2).map { _ =>
        Future(
          try { IdempotentSink.writeBatch(batch, base.toString, "DNS Activity",
            region, acct, batchId = 9L); true }
          catch { case scala.util.control.NonFatal(_) => false })
      }
      Await.result(Future.sequence(attempts), 120.seconds)
    }
    assert(done.contains(true), "no attempt committed the batch")
    assert(tableUids(base) == Seq("e1", "e2"))
    // a loser that straggled past the winner's sweep may leave staging
    // residue (reader-invisible); the next replay of the committed
    // batch sweeps it — the documented cleanup path
    IdempotentSink.writeBatch(batch, base.toString, "DNS Activity",
      region, acct, batchId = 9L)
    assert(tableUids(base) == Seq("e1", "e2"))
    assert(!Files.exists(base.resolve("dns_activity/_staging/batch_9")))
  }

  test("a backfill writer lands interleaved with the stream; replays of either never duplicate") {
    val base = Files.createTempDirectory("idem-writers")
    // interleaved: stream batch 0, backfill batch 0, stream batch 1 —
    // the backfill-beside-the-live-stream shape. Same batch id 0 on
    // both writers: the namespace, not the id, must keep them apart.
    IdempotentSink.writeBatch(df("s0" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 0L)
    IdempotentSink.writeBatch(df("b0" -> "2023-11-10"), base.toString,
      "DNS Activity", region, acct, batchId = 0L, writerId = "bf1")
    IdempotentSink.writeBatch(df("s1" -> "2023-11-15"), base.toString,
      "DNS Activity", region, acct, batchId = 1L)
    assert(tableUids(base) == Seq("b0", "s0", "s1"))
    val cb = base.resolve("dns_activity/_committed_batches")
    assert(Files.exists(cb.resolve("w-bf1-0.committed")))
    // replay BOTH writers' batches: each checks its own pair, zero dups
    IdempotentSink.writeBatch(df("s0" -> "2023-11-14"), base.toString,
      "DNS Activity", region, acct, batchId = 0L)
    IdempotentSink.writeBatch(df("b0" -> "2023-11-10"), base.toString,
      "DNS Activity", region, acct, batchId = 0L, writerId = "bf1")
    assert(tableUids(base) == Seq("b0", "s0", "s1"))
    assert(OcsfTables.load(spark, base.toString, "DNS Activity").count() == 3)
  }

  test("compaction leaves foreign-writer pairs alone until foldWriters retires them") {
    val base = Files.createTempDirectory("idem-writers-fold")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    (0L until 2L).foreach { b =>
      IdempotentSink.writeBatch(df(s"s$b" -> "2023-11-14"), base.toString,
        "DNS Activity", region, acct, batchId = b)
    }
    IdempotentSink.writeBatch(df("b0" -> "2023-11-10"), base.toString,
      "DNS Activity", region, acct, batchId = 0L, writerId = "bf1")
    val cb = base.resolve("dns_activity/_committed_batches")
    // default compaction folds ONLY the stream pairs: the backfill may
    // still replay and must find its own marker, not a folded ghost
    assert(IdempotentSink.compactCommits(fs, tableDir) == 2)
    assert(Files.exists(cb.resolve("w-bf1-0.committed")))
    IdempotentSink.writeBatch(df("b0" -> "2023-11-10"), base.toString,
      "DNS Activity", region, acct, batchId = 0L, writerId = "bf1") // replay: no-op
    assert(tableUids(base) == Seq("b0", "s0", "s1"))
    assert(IdempotentSink.writerPairNames(fs, tableDir) == Seq("w-bf1-0"))
    // the backfill is RETIRED: foldWriters merges its pair in (the
    // compact-0 pair + the w- pair = 2 inputs) and the read is unchanged
    assert(IdempotentSink.compactCommits(fs, tableDir,
      foldWriters = Set("bf1")) == 2)
    assert(!Files.exists(cb.resolve("w-bf1-0.committed")))
    assert(IdempotentSink.writerPairNames(fs, tableDir).isEmpty)
    assert(tableUids(base) == Seq("b0", "s0", "s1"))
  }

  test("time travel: backfill rows are base state for asOf, invisible to the stream-axis CDC") {
    val base = Files.createTempDirectory("idem-writers-tt")
    val tableDir = new org.apache.hadoop.fs.Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    (0L until 2L).foreach { b =>
      IdempotentSink.writeBatch(df(s"s$b" -> "2023-11-14"), base.toString,
        "DNS Activity", region, acct, batchId = b)
    }
    IdempotentSink.writeBatch(df("b0" -> "2023-11-10"), base.toString,
      "DNS Activity", region, acct, batchId = 5L, writerId = "bf1")
    def uids(paths: Seq[org.apache.hadoop.fs.Path]): Seq[String] =
      if (paths.isEmpty) Seq.empty
      else spark.read.parquet(paths.map(_.toString): _*)
        .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    // asOf stream batch 0: the backfilled history is part of the base
    // state at every snapshot (a backfill loads the PAST)
    assert(uids(IdempotentSink.filesAsOf(fs, tableDir, 0L)) == Seq("b0", "s0"))
    assert(uids(IdempotentSink.filesAsOf(fs, tableDir, 1L)) == Seq("b0", "s0", "s1"))
    // CDC on the stream axis never emits the foreign writer's pairs —
    // consumers detect them via writerPairNames and re-sync
    assert(uids(IdempotentSink.filesSince(fs, tableDir, 0L)) == Seq("s1"))
    assert(IdempotentSink.writerPairNames(fs, tableDir) == Seq("w-bf1-5"))
  }
}
