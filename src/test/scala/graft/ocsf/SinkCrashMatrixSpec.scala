package graft.ocsf

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A24 assurance, systematized (r19 — VERDICT item 6): the earlier
  * crash specs replayed HAND-PICKED cut points; this spec enumerates
  * EVERY mutation-op boundary of each sink operation via [[FaultFs]]
  * and asserts the exactly-once / read-contract invariants at each.
  * The op budget k walks 0..N where N is the op total of a clean run,
  * so stage, manifest publish, every per-file promote, the committed
  * marker and every cleanup delete all get a crash landed exactly on
  * their boundary — including the boundaries INSIDE Spark's parquet
  * commit protocol during STAGE, because the injected filesystem
  * counts executor-side mutations too.
  *
  * VERDICT item 2 (multi-writer safety) is pinned here as well: the
  * two-writer matrix interleaves a FULL foreign-namespace write into
  * every crash window of the other writer and requires the union to
  * land exactly once in both directions. Same-NAMESPACE concurrency
  * stays what the sink scaladoc declares it: out of contract across
  * JVMs (in-process attempts are fenced by the generation lock —
  * IdempotentSinkSpec's superseded-attempt tests), enforced by giving
  * every concurrent job its own writerId. */
class SinkCrashMatrixSpec extends SparkSpec {

  private val region = "us-east-1"
  private val acct = "123456789012"
  private val route = "DNS Activity"

  private def registerScheme(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faultfs.impl", classOf[FaultFs].getName)
  }

  private def df(rows: (String, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("uid", "day")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"))
  }

  private def freshBase(): String =
    "faultfs:" + Files.createTempDirectory("crashmx")

  private def contractUids(base: String): Seq[String] =
    OcsfTables.load(spark, base, route)
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq

  private def fs =
    new Path("faultfs:/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `op` with exactly `k` mutations allowed; returns true if the
    * injected crash fired (and asserts no OTHER failure mode). */
  private def crashAt(k: Long, label: String)(op: => Unit): Boolean = {
    FaultFs.arm(k)
    val outcome = try { op; None } catch { case t: Throwable => Some(t) }
    FaultFs.disarm()
    outcome.foreach { t =>
      assert(FaultFs.causedByInjection(t),
        s"$label k=$k failed for a non-injected reason: $t")
    }
    outcome.isDefined
  }

  /** Op total + mutation trace of a clean run of `op` (faults off,
    * counter on). */
  private def measure(op: => Unit): (Long, Seq[String]) = {
    FaultFs.disarm()
    op
    val n = FaultFs.ops
    val trace = FaultFs.trace
    FaultFs.disarm()
    (n, trace)
  }

  /** Deep-copy a prebuilt table prototype so each k starts from the
    * identical on-disk state. */
  private def copyOf(proto: JPath): String = {
    val dst = Files.createTempDirectory("crashmx-copy")
    import scala.jdk.CollectionConverters._
    Files.walk(proto).iterator().asScala.foreach { p =>
      val t = dst.resolve(proto.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    "faultfs:" + dst
  }

  test("writeBatch: a crash at EVERY mutation boundary replays to exactly-once") {
    registerScheme()
    val rows = Seq("e1" -> "2023-11-14", "e2" -> "2023-11-15")
    val (n, trace) = measure {
      IdempotentSink.writeBatch(df(rows: _*), freshBase(), route,
        region, acct, batchId = 0L)
    }
    info(s"$n cut points")
    assert(n >= 8, s"expected a rich mutation sequence, got $n ops: $trace")
    // the matrix must reach INSIDE the stage write: executor-side
    // parquet creates under _staging are counted mutations too
    assert(trace.exists(t => t.startsWith("create") &&
      t.contains("_staging/") && t.contains(".parquet")),
      s"stage-internal parquet creates not counted — trace: $trace")
    assert(trace.exists(_.startsWith("rename")) &&
      trace.exists(_.startsWith("delete")),
      s"trace missing promote/cleanup ops: $trace")
    var crashes = 0
    (0L until n).foreach { k =>
      val base = freshBase()
      if (crashAt(k, "writeBatch") {
        IdempotentSink.writeBatch(df(rows: _*), base, route,
          region, acct, batchId = 0L)
      }) crashes += 1
      // the replay is the recovery path — it must land the batch
      // exactly once from WHATEVER state the crash left
      IdempotentSink.writeBatch(df(rows: _*), base, route,
        region, acct, batchId = 0L)
      assert(contractUids(base) == Seq("e1", "e2"), s"k=$k contract read")
      val td = new Path(s"$base/dns_activity")
      assert(fs.exists(new Path(td, "_committed_batches/0.committed")),
        s"k=$k marker missing")
      assert(IdempotentSink.readManifestFull(fs,
        new Path(td, "_committed_batches/0.manifest")).isDefined,
        s"k=$k manifest unreadable")
      assert(!fs.exists(new Path(td, "_staging/batch_0")),
        s"k=$k staging not swept")
      // the raw directory view settled identically (no torn residue)
      val raw = spark.read.parquet(s"$base/dns_activity")
        .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
      assert(raw == Seq("e1", "e2"), s"k=$k raw view: $raw")
    }
    // nearly every prefix must actually crash (the final k values may
    // complete if the op sequence varies slightly run-to-run)
    assert(crashes >= n * 8 / 10,
      s"only $crashes of $n budgets crashed — matrix not exercising cuts")
  }

  test("compactCommits: reads stay exactly-once AT every cut point and the resumed compaction completes") {
    registerScheme()
    FaultFs.disarm()
    val proto = Files.createTempDirectory("crashmx-cc-proto")
    val protoBase = "faultfs:" + proto
    (0L until 3L).foreach { b =>
      IdempotentSink.writeBatch(df(s"e$b" -> "2023-11-14"), protoBase,
        route, region, acct, batchId = b)
    }
    val before = contractUids(protoBase)
    assert(before == Seq("e0", "e1", "e2"))
    val (n, _) = measure {
      val c = copyOf(proto)
      assert(IdempotentSink.compactCommits(fs,
        new Path(s"$c/dns_activity")) == 3)
    }
    info(s"$n cut points")
    assert(n >= 4, s"expected several control mutations, got $n")
    (0L until n).foreach { k =>
      val c = copyOf(proto)
      val td = new Path(s"$c/dns_activity")
      crashAt(k, "compactCommits") {
        IdempotentSink.compactCommits(fs, td)
      }
      // reader safety IN the crash window — before any repair runs
      assert(contractUids(c) == before, s"k=$k read inside crash window")
      // the re-run resumes whatever the crash interrupted
      IdempotentSink.compactCommits(fs, td)
      assert(contractUids(c) == before, s"k=$k read after resume")
      // and the control log settles to exactly one live compacted pair
      val names = fs.listStatus(new Path(td, "_committed_batches"))
        .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted.toSeq
      assert(names.count(_.endsWith(".committed")) == 1 &&
        names.count(_.endsWith(".manifest")) == 1 &&
        names.forall(_.startsWith("compact-")),
        s"k=$k control log did not settle: $names")
    }
  }

  test("deleteWhere: every cut point keeps non-matching rows intact; the re-run finishes the erasure exactly") {
    registerScheme()
    FaultFs.disarm()
    val proto = Files.createTempDirectory("crashmx-dw-proto")
    val protoBase = "faultfs:" + proto
    // two batches, two days each — multiple files so the rewrite has
    // real per-file publish/delete windows
    IdempotentSink.writeBatch(
      df("a1" -> "2023-11-14", "a2" -> "2023-11-15", "drop1" -> "2023-11-14"),
      protoBase, route, region, acct, batchId = 0L)
    IdempotentSink.writeBatch(
      df("b1" -> "2023-11-14", "drop2" -> "2023-11-15"),
      protoBase, route, region, acct, batchId = 1L)
    val keep = Seq("a1", "a2", "b1")
    val all = contractUids(protoBase)
    assert(all.sorted == (keep ++ Seq("drop1", "drop2")).sorted)
    val cond = "metadata.uid LIKE 'drop%'"
    val (n, _) = measure {
      val c = copyOf(proto)
      assert(OcsfTables.deleteWhere(spark, c, route, cond) == 2L)
    }
    info(s"$n cut points")
    assert(n >= 6, s"expected a real rewrite sequence, got $n")
    (0L until n).foreach { k =>
      val c = copyOf(proto)
      crashAt(k, "deleteWhere") {
        OcsfTables.deleteWhere(spark, c, route, cond)
      }
      // at the cut: no non-matching row lost, no row duplicated, and
      // only matching rows may have vanished so far
      val mid = contractUids(c)
      assert(mid.distinct == mid, s"k=$k duplicated rows: $mid")
      assert(keep.forall(mid.contains), s"k=$k lost a keeper: $mid")
      assert(mid.forall(all.contains), s"k=$k invented a row: $mid")
      // re-run completes the erasure (deletes whatever still matches)
      OcsfTables.deleteWhere(spark, c, route, cond)
      assert(contractUids(c) == keep.sorted, s"k=$k after re-run")
    }
  }

  test("compactDataFiles: reads identical at every cut point; the resumed rewrite settles") {
    registerScheme()
    FaultFs.disarm()
    val proto = Files.createTempDirectory("crashmx-cd-proto")
    val protoBase = "faultfs:" + proto
    (0L until 3L).foreach { b =>
      IdempotentSink.writeBatch(df(s"e$b" -> "2023-11-14"), protoBase,
        route, region, acct, batchId = b)
    }
    val before = contractUids(protoBase)
    val (n, _) = measure {
      val c = copyOf(proto)
      IdempotentSink.compactDataFiles(spark,
        new Path(s"$c/dns_activity"), filesPerDay = 1)
    }
    info(s"$n cut points")
    assert(n >= 6, s"expected a real data rewrite, got $n")
    (0L until n).foreach { k =>
      val c = copyOf(proto)
      val td = new Path(s"$c/dns_activity")
      crashAt(k, "compactDataFiles") {
        IdempotentSink.compactDataFiles(spark, td, filesPerDay = 1)
      }
      assert(contractUids(c) == before, s"k=$k read inside crash window")
      IdempotentSink.compactDataFiles(spark, td, filesPerDay = 1)
      assert(contractUids(c) == before, s"k=$k read after resume")
      // settled: exactly one live data file per day remains reachable
      val files = IdempotentSink.committedFiles(fs, td)
      assert(files.size == 1, s"k=$k expected 1 compacted file: $files")
    }
  }

  test("a rewrite after a control fold takes a fresh pair name: reads exact at every cut point") {
    registerScheme()
    FaultFs.disarm()
    val proto = Files.createTempDirectory("crashmx-reuse-proto")
    val protoBase = "faultfs:" + proto
    val protoTd = new Path(s"$protoBase/dns_activity")
    def land(b: Long): Unit =
      IdempotentSink.writeBatch(df(s"e$b" -> "2023-11-14"), protoBase,
        route, region, acct, batchId = b)
    // compactdata-0 folds batches 0-1; compact-0 then folds it with
    // batch 2 and settles it, so only compact-0's header still names
    // compactdata-0
    (0L to 1L).foreach(land)
    assert(IdempotentSink.compactDataFiles(spark, protoTd) == 2)
    land(2L)
    assert(IdempotentSink.compactCommits(fs, protoTd) == 2)
    val before = contractUids(protoBase)
    assert(before == Seq("e0", "e1", "e2"))
    val (n, _) = measure {
      assert(IdempotentSink.compactDataFiles(spark,
        new Path(s"${copyOf(proto)}/dns_activity")) == 1)
    }
    info(s"$n cut points")
    (0L until n).foreach { k =>
      val c = copyOf(proto)
      val td = new Path(s"$c/dns_activity")
      crashAt(k, "compactDataFiles")(IdempotentSink.compactDataFiles(spark, td))
      assert(contractUids(c) == before, s"k=$k read inside crash window")
      IdempotentSink.compactDataFiles(spark, td)
      assert(contractUids(c) == before, s"k=$k read after resume")
      assert(IdempotentSink.committedFiles(fs, td).size == 1, s"k=$k")
    }
  }

  test("vacuum: reads exact at every cut point over a crashed rewrite, abandoned staging and a torn tmp; the re-run settles") {
    registerScheme()
    FaultFs.disarm()
    val proto = Files.createTempDirectory("crashmx-vac-proto")
    val protoBase = "faultfs:" + proto
    // two days, so the rewrite stages two files
    (0L until 3L).foreach { b =>
      IdempotentSink.writeBatch(df(s"e$b" -> s"2023-11-1${4 + b % 2}"),
        protoBase, route, region, acct, batchId = b)
    }
    val before = contractUids(protoBase)
    val protoTd = new Path(s"$protoBase/dns_activity")
    // a compactDataFiles crashed right after promoting its first file:
    // an unmarked compactdata-0 manifest, a promoted file no committed
    // manifest names, and the rest still under its staging dir
    val (_, rewrite) = measure {
      IdempotentSink.compactDataFiles(spark,
        new Path(s"${copyOf(proto)}/dns_activity"), filesPerDay = 1)
    }
    val published = rewrite.indexWhere(t =>
      t.startsWith("rename") && t.contains(".compactdata-0.manifest.tmp"))
    val firstPromote = rewrite.indexWhere(t =>
      t.startsWith("rename") && t.contains("_staging/compactdata_0/"), published)
    assert(published >= 0 && firstPromote > published,
      s"rewrite trace lacks a manifest publish and promote: $rewrite")
    assert(crashAt(firstPromote + 1L, "compactDataFiles") {
      IdempotentSink.compactDataFiles(spark, protoTd, filesPerDay = 1)
    })
    val table = proto.resolve("dns_activity")
    val cbNames = fs.listStatus(new Path(protoTd, "_committed_batches"))
      .map(_.getPath.getName).toSet
    assert(cbNames("compactdata-0.manifest") && !cbNames("compactdata-0.committed") &&
      !cbNames.exists(_.startsWith(".")) &&
      Files.isDirectory(table.resolve("_staging/compactdata_0")),
      s"the rewrite did not crash between publish and commit: $cbNames")
    // a writer that crashed in its first attempt's stage and never came
    // back, and a control-file publish torn before its rename
    val abandoned = Files.createDirectories(table.resolve("_staging/batch_7/g99"))
    Files.write(abandoned.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    Files.write(table.resolve("_committed_batches/.8.manifest.tmp"),
      "#graft-manifest files=1\ng1/".getBytes("UTF-8"))
    assert(contractUids(protoBase) == before)
    val (n, _) = measure {
      assert(IdempotentSink.vacuum(spark,
        new Path(s"${copyOf(proto)}/dns_activity")) == (1, 1))
    }
    info(s"$n cut points")
    assert(n >= 5, s"expected settle, sweep and tmp deletes, got $n")
    (0L until n).foreach { k =>
      val c = copyOf(proto)
      val td = new Path(s"$c/dns_activity")
      crashAt(k, "vacuum")(IdempotentSink.vacuum(spark, td))
      assert(contractUids(c) == before, s"k=$k read inside crash window")
      IdempotentSink.vacuum(spark, td)
      assert(contractUids(c) == before, s"k=$k read after re-run")
      // settled: only the committed batch pairs remain in the log, no
      // staging is left, and the raw directory view holds no stray
      val names = fs.listStatus(new Path(td, "_committed_batches"))
        .map(_.getPath.getName).sorted.toSeq
      assert(names == (0 until 3).flatMap(b => Seq(s"$b.committed", s"$b.manifest")),
        s"k=$k control log did not settle: $names")
      assert(!fs.exists(new Path(td, "_staging")) ||
        fs.listStatus(new Path(td, "_staging")).isEmpty,
        s"k=$k staging left: ${fs.listStatus(new Path(td, "_staging")).toSeq}")
      val raw = spark.read.parquet(td.toString)
        .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
      assert(raw == before, s"k=$k raw view: $raw")
    }
  }

  test("two writers: a full foreign-namespace write lands inside EVERY crash window of the other; union exactly once both directions") {
    registerScheme()
    val streamRows = Seq("s1" -> "2023-11-14", "s2" -> "2023-11-15")
    val backfillRows = Seq("bf1" -> "2023-11-14")
    val union = Seq("bf1", "s1", "s2")
    def streamWrite(base: String): Unit =
      IdempotentSink.writeBatch(df(streamRows: _*), base, route,
        region, acct, batchId = 0L)
    def backfillWrite(base: String): Unit =
      IdempotentSink.writeBatch(df(backfillRows: _*), base, route,
        region, acct, batchId = 0L, writerId = "bf")
    def assertSettled(base: String, k: Long, dir: String): Unit = {
      assert(contractUids(base) == union, s"$dir k=$k union")
      val cb = new Path(s"$base/dns_activity/_committed_batches")
      val names = fs.listStatus(cb).map(_.getPath.getName)
        .filterNot(_.startsWith(".")).toSet
      assert(names == Set("0.manifest", "0.committed",
        "w-bf-0.manifest", "w-bf-0.committed"),
        s"$dir k=$k control pairs: $names")
      val raw = spark.read.parquet(s"$base/dns_activity")
        .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
      assert(raw == union, s"$dir k=$k raw view: $raw")
    }
    // direction 1: the stream crashes at every boundary, the backfill
    // lands a COMPLETE write inside that window, the stream replays
    val (n1, _) = measure(streamWrite(freshBase()))
    (0L until n1).foreach { k =>
      val base = freshBase()
      crashAt(k, "stream-then-backfill")(streamWrite(base))
      backfillWrite(base)
      streamWrite(base)
      assertSettled(base, k, "stream-crashed")
    }
    // direction 2: the backfill crashes, the stream lands, the
    // backfill replays — namespacing must isolate identically
    val (n2, _) = measure(backfillWrite(freshBase()))
    info(s"$n1 + $n2 cut points")
    (0L until n2).foreach { k =>
      val base = freshBase()
      crashAt(k, "backfill-then-stream")(backfillWrite(base))
      streamWrite(base)
      backfillWrite(base)
      assertSettled(base, k, "backfill-crashed")
    }
  }
}
