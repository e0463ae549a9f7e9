package graft.ocsf

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import graft.SparkSpec

/** File-skipping contract of [[StatsIndex]] / [[OcsfTables.loadWhere]]:
  * pruning must never change results (rows equal the full-scan filter
  * under every predicate shape, with or without stats), must actually
  * skip files whose stats exclude the predicate from the moment they
  * commit (batches, compactions, erasures), must run no Spark job, and
  * must degrade to keep-everything for files without stats (manifests
  * written before stats existed) and opaque predicates. */
class StatsIndexSpec extends SparkSpec {

  private val region = "us-east-1"
  private val acct = "123456789012"
  private val route = "DNS Activity"

  private def mkBase(): String =
    "file:" + Files.createTempDirectory("statsidx")

  /** Batch `b`: 64 rows, severity in [b*100, b*100+63], host prefixed
    * `h<b>x` — per-batch-disjoint ranges on both columns so per-file
    * stats can exclude whole batches. */
  private def batchDf(b: Int): DataFrame = {
    import spark.implicits._
    (0 until 64).map { i =>
      (s"u$b-$i", s"h${b}x$i", b * 100 + i)
    }.toDF("uid", "host", "severity")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(lit("2023-11-14 12:00:00")).as("time"),
        col("host"), col("severity"))
  }

  private def fsOf(base: String) = {
    val dir = new Path(s"$base/dns_activity")
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def writeBatches(base: String, n: Int): Unit =
    (0 until n).foreach(b => IdempotentSink.writeBatch(batchDf(b), base,
      route, region, acct, batchId = b.toLong, filesPerDay = 1))

  /** loadWhere must equal the full-scan filter, row for row. */
  private def assertExact(base: String, cond: String): Unit = {
    val pruned = OcsfTables.loadWhere(spark, base, route, cond)
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    val full = OcsfTables.load(spark, base, route).filter(cond)
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    assert(pruned == full, s"loadWhere($cond) diverged from full filter")
  }

  private def keptCount(base: String, cond: String): Int = {
    val (fs, tableDir) = fsOf(base)
    OcsfTables.prunedFiles(spark, fs, tableDir, cond).size
  }

  /** Rewrites every manifest of `base`'s table without its entries'
    * stats field: the log a lake written before per-file stats holds. */
  private def stripStats(base: String): Unit = {
    val cb = new Path(s"$base/dns_activity/_committed_batches")
    val fs = cb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(cb).map(_.getPath).filter(_.getName.endsWith(".manifest")).foreach { m =>
      val in = fs.open(m)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
      val os = fs.create(m, true)
      try os.write(lines.map(_.split('\t').take(2).mkString("\t")).mkString("\n")
        .getBytes("UTF-8"))
      finally os.close()
    }
  }

  test("commit-time stats; range/IN/LIKE/OR predicates skip files, rows exact") {
    val base = mkBase()
    writeBatches(base, 3)
    val (fs, tableDir) = fsOf(base)
    val total = IdempotentSink.committedFiles(fs, tableDir).size
    assert(total == 3)
    assert(OcsfTables.buildStats(spark, base, route,
      Seq("severity", "host")) == 0, "buildStats is a no-op")

    // range: only batch 2's file can hold severity > 250
    assert(keptCount(base, "severity > 250") == 1)
    assertExact(base, "severity > 250")
    // closed range nested inside one batch's span
    assert(keptCount(base, "severity >= 90 AND severity < 140") == 1)
    assertExact(base, "severity >= 90 AND severity < 140")
    // IN: values land in batches 0 and 1
    assert(keptCount(base, "severity IN (5, 105)") == 2)
    assertExact(base, "severity IN (5, 105)")
    // LIKE prefix on the string column
    assert(keptCount(base, "host LIKE 'h1%'") == 1)
    assertExact(base, "host LIKE 'h1%'")
    // OR of two prunable sides
    assert(keptCount(base, "severity < 50 OR severity > 250") == 2)
    assertExact(base, "severity < 50 OR severity > 250")
    // flipped operand order parses to the mirrored comparison
    assert(keptCount(base, "250 < severity") == 1)
    assertExact(base, "250 < severity")
    // nothing matches anywhere: zero files opened, empty result with schema
    assert(keptCount(base, "severity > 9000") == 0)
    assert(OcsfTables.loadWhere(spark, base, route, "severity > 9000")
      .count() == 0)
  }

  test("opaque predicates and opaque OR sides keep everything; AND keeps its prunable side") {
    val base = mkBase()
    writeBatches(base, 3)
    // whole predicate opaque → no pruning, still correct
    assert(keptCount(base, "pmod(severity, 7) = 3") == 3)
    assertExact(base, "pmod(severity, 7) = 3")
    // OR with one opaque side cannot prune (the opaque side alone may match)
    assert(keptCount(base, "severity > 250 OR pmod(severity, 7) = 3") == 3)
    assertExact(base, "severity > 250 OR pmod(severity, 7) = 3")
    // AND with one opaque side prunes on the understood side
    assert(keptCount(base, "severity > 250 AND pmod(severity, 7) = 3") == 1)
    assertExact(base, "severity > 250 AND pmod(severity, 7) = 3")
    // a column without stats (nested: only top-level columns get them) → opaque
    assert(keptCount(base, "metadata.uid LIKE 'u1%'") == 3)
    assertExact(base, "metadata.uid LIKE 'u1%'")
  }

  test("a batch committed after maintenance prunes at once; so do compaction and erasure output") {
    val base = mkBase()
    writeBatches(base, 2)
    val (fs, tableDir) = fsOf(base)
    // the last maintenance: batches 0 and 1 fold into one file
    assert(IdempotentSink.compactDataFiles(spark, tableDir) == 2)
    // a batch landing AFTER it carries its stats from its own commit
    IdempotentSink.writeBatch(batchDf(9), base, route, region, acct,
      batchId = 9L, filesPerDay = 1)
    assert(IdempotentSink.committedFiles(fs, tableDir).size == 2)
    assert(keptCount(base, "severity > 800") == 1, "only the new file matches")
    assert(keptCount(base, "severity < 50") == 1, "the new file is pruned at once")
    assertExact(base, "severity > 800")
    assertExact(base, "severity < 50")
    // a data rewrite's files carry fresh stats: z-ordering on severity
    // re-clusters the ranges the hash split would interleave, so the
    // rewritten files prune at once — the layout op and the stats
    // composing is the point of both
    assert(IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = 2, zorderCols = Seq("severity")) > 0)
    val total = IdempotentSink.committedFiles(fs, tableDir).size
    assert(total > 1, "compaction must keep multiple files for this test")
    assert(keptCount(base, "severity > 800") < total, "rewritten files prune at once")
    assertExact(base, "severity > 800")
    // an erasure restages the affected file with fresh stats and
    // carries the rest with theirs
    assert(OcsfTables.deleteWhere(spark, base, route, "severity = 905") == 1L)
    val erased = IdempotentSink.committedFiles(fs, tableDir).size
    assert(keptCount(base, "severity > 800") < erased, "erasure output prunes at once")
    assertExact(base, "severity > 800")
    // and a control-file merge carries every file's stats
    IdempotentSink.writeBatch(batchDf(7), base, route, region, acct,
      batchId = 10L, filesPerDay = 1)
    assert(IdempotentSink.compactCommits(fs, tableDir) == 2)
    assert(IdempotentSink.committedFiles(fs, tableDir).size == erased + 1)
    assert(keptCount(base, "severity < 50") == 1, "merged entries keep their stats")
    assertExact(base, "severity < 50")
  }

  test("a manifest without stats keeps its files; compactDataFiles gives them stats back") {
    val base = mkBase()
    writeBatches(base, 3)
    stripStats(base)
    val (fs, tableDir) = fsOf(base)
    assert(keptCount(base, "severity > 250") == 3, "files without stats are kept")
    assertExact(base, "severity > 250")
    // a partition predicate still prunes: the values come from the paths
    assert(keptCount(base, "eventDay = '20231115'") == 0)
    assert(IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = 2, zorderCols = Seq("severity")) == 3)
    val total = IdempotentSink.committedFiles(fs, tableDir).size
    assert(total > 1)
    assert(keptCount(base, "severity > 250") < total, "the rewrite recorded stats")
    assertExact(base, "severity > 250")
  }

  test("pruning starts no Spark job; loadWhere runs only its scan's jobs") {
    val base = mkBase()
    writeBatches(base, 3)
    val (fs, tableDir) = fsOf(base)
    val cond = "severity > 250"
    var kept: Seq[Path] = Nil
    val pruneJobs = jobsIn { kept = OcsfTables.prunedFiles(spark, fs, tableDir, cond) }
    assert(pruneJobs.isEmpty, s"prunedFiles started jobs $pruneJobs")
    assert(kept.size == 1)
    var pruned: DataFrame = null
    val planJobs = jobsIn { pruned = OcsfTables.loadWhere(spark, base, route, cond) }
    assert(planJobs.isEmpty, s"loadWhere started jobs before its scan: $planJobs")
    var n = 0L
    val scanJobs = jobsIn { n = pruned.count() }
    var m = 0L
    val fullJobs = jobsIn { m = OcsfTables.load(spark, base, route).filter(cond).count() }
    assert(n == m && n == 13L)
    assert(scanJobs.size == fullJobs.size,
      s"loadWhere(...).count() ran ${scanJobs.size} jobs, the unpruned scan ${fullJobs.size}")
  }

  test("type guard: column-coercing comparisons never prune (string stats vs numeric literal)") {
    val base = mkBase()
    import spark.implicits._
    // digit-STRING column: string-ordered stats say nothing about the
    // numeric range ("05" < "3" as strings but 5 > 3 as numbers)
    def digitBatch(b: Int, vals: Seq[String]) = vals.zipWithIndex.map {
      case (v, i) => (s"u$b-$i", v)
    }.toDF("uid", "code")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(lit("2023-11-14 12:00:00")).as("time"), col("code"))
    IdempotentSink.writeBatch(digitBatch(0, Seq("05", "3")), base, route,
      region, acct, batchId = 0L, filesPerDay = 1)
    IdempotentSink.writeBatch(digitBatch(1, Seq("7", "9")), base, route,
      region, acct, batchId = 1L, filesPerDay = 1)
    // numeric literal coerces the COLUMN: pruning must opt out (keep
    // both files) and the result must still be exact — "05" matches 5
    assert(keptCount(base, "code = 5") == 2)
    assertExact(base, "code = 5")
    assert(keptCount(base, "code >= 4") == 2)
    assertExact(base, "code >= 4")
    // string literal against string stats: pruning allowed and exact
    assert(keptCount(base, "code = '7'") == 1)
    assertExact(base, "code = '7'")
    // LIKE over a NON-string column: opt out, stay exact
    val base2 = mkBase()
    writeBatches(base2, 2)
    assert(keptCount(base2, "severity LIKE '1%'") == 2)
    assertExact(base2, "severity LIKE '1%'")
  }

  test("null stats: comparisons prune all-null chunks, IS NULL finds them") {
    val base = mkBase()
    import spark.implicits._
    val withNulls = (0 until 8).map(i => (s"n$i", s"nx$i"))
      .toDF("uid", "host")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(lit("2023-11-14 12:00:00")).as("time"),
        col("host"), lit(null).cast("int").as("severity"))
    IdempotentSink.writeBatch(withNulls, base, route, region, acct,
      batchId = 0L, filesPerDay = 1)
    IdempotentSink.writeBatch(batchDf(1), base, route, region, acct,
      batchId = 1L, filesPerDay = 1)
    // all-null file excluded from any comparison
    assert(keptCount(base, "severity >= 0") == 1)
    assertExact(base, "severity >= 0")
    // IS NULL keeps only the file that has nulls
    assert(keptCount(base, "severity IS NULL") == 1)
    assertExact(base, "severity IS NULL")
    assert(keptCount(base, "severity IS NOT NULL") == 1)
    assertExact(base, "severity IS NOT NULL")
  }

  /** A manifest entry line for final path `rel` carrying `severity`
    * stats [lo, hi] over one row. */
  private def statsEntry(rel: String, lo: Int, hi: Int): String =
    s"g0/$rel\t100\t" + StatsIndex.encode(StatsIndex.FileStats(1L,
      Map("severity" -> StatsIndex.ColStats(IntegerType, Some(lo), Some(hi), 0L))))

  private def put(fs: org.apache.hadoop.fs.FileSystem, p: Path, body: String): Unit = {
    val os = fs.create(p, true)
    try os.write(body.getBytes("UTF-8")) finally os.close()
  }

  test("100k-entry manifest with stats: prune runs on the driver with no job, keeps the entry without stats") {
    // Synthetic metadata-scale case (no data files needed — prune never
    // opens one): one committed manifest of 100k entries carrying
    // stats, plus one entry without. The prune must keep exactly the
    // surviving handful and the stats-less entry, without a Spark job
    // — the shape that holds when the committed list is a month of a
    // 100 TB feed.
    val n = 100000
    val base = Files.createTempDirectory("statsidx-scale").toString
    val tableDir = new Path(s"file:$base/t")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cb = new Path(tableDir, "_committed_batches")
    // per-file disjoint severity ranges [i*10, i*10+9]
    val entries = (0 until n).map(i => statsEntry(f"f$i%06d", i * 10, i * 10 + 9)) :+
      "g0/unindexed-extra\t100" // no stats → always kept
    put(fs, new Path(cb, "0.manifest"),
      (s"#graft-manifest files=${n + 1}" +: entries :+ "#end").mkString("\n"))
    put(fs, new Path(cb, "0.committed"), "")
    val committed = IdempotentSink.committedFiles(fs, tableDir)
    assert(committed.size == n + 1)
    // predicate touches the top 3 files' ranges only
    val lo = (n - 3) * 10
    var kept: Seq[Path] = Nil
    val jobs = jobsIn { kept = OcsfTables.prunedFiles(spark, fs, tableDir, s"severity >= $lo") }
    assert(jobs.isEmpty, s"the prune started jobs $jobs")
    assert(kept.map(_.getName).toSet ==
      Set(f"f${n - 3}%06d", f"f${n - 2}%06d", f"f${n - 1}%06d",
        "unindexed-extra"),
      s"expected 3 surviving files with stats + the one without, got " +
        s"${kept.size}: ${kept.take(8).mkString(", ")}")
    // and an unprunable predicate still keeps everything (no silent drop)
    assert(OcsfTables.prunedFiles(spark, fs, tableDir,
      s"pmod(severity, 7) = 3").size == committed.size)
  }

  test("prunedFiles is sound: every file with a matching row survives the prune") {
    val base = mkBase()
    writeBatches(base, 3)
    val (fs, tableDir) = fsOf(base)
    val conds = Seq("severity > 250", "severity >= 90 AND severity < 140",
      "severity IN (5, 105)", "host LIKE 'h1%'", "severity < 50 OR severity > 250",
      "250 < severity", "severity > 9000", "pmod(severity, 7) = 3",
      "severity > 250 OR pmod(severity, 7) = 3",
      "severity > 250 AND pmod(severity, 7) = 3", "severity IS NULL",
      "severity IS NOT NULL")
    val kept: Map[String, Set[String]] = conds.map { c =>
      c -> OcsfTables.prunedFiles(spark, fs, tableDir, c)
        .map(IdempotentSink.normalizePath(fs, _)).toSet
    }.toMap
    conds.foreach { c =>
      val matching = OcsfTables.load(spark, base, route).filter(c)
        .select(input_file_name()).distinct().collect()
        .map(r => IdempotentSink.normalizePath(fs, r.getString(0))).toSet
      assert(matching.subsetOf(kept(c)),
        s"$c: pruned away ${matching -- kept(c)}")
    }
    assert(kept("severity > 250").size == 1 && kept("severity > 9000").isEmpty &&
      kept("pmod(severity, 7) = 3").size == 3)
  }

  test("committedFiles and load raise on an unreadable committed manifest") {
    val base = mkBase()
    writeBatches(base, 2)
    val (fs, tableDir) = fsOf(base)
    val cb = new Path(tableDir, "_committed_batches")
    // torn manifest: body truncated past the header — parse yields None
    val victim = new Path(cb, "1.manifest")
    val os = fs.create(victim, true)
    try os.write("#graft-manifest files=1\n".getBytes("UTF-8"))
    finally os.close()
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    def assertUnreadable(read: => Any): Unit = {
      val e = intercept[Exception](read)
      assert(chain(e).exists(_.contains("committed manifest unreadable")),
        s"unexpected failure: ${chain(e).mkString(" | ")}")
    }
    assertUnreadable(IdempotentSink.committedFiles(fs, tableDir))
    assertUnreadable(OcsfTables.load(spark, base, route))
  }

  test("a 120k-entry commit log resolves and prunes on the driver") {
    // metadata-scale case: the file universe exists ONLY in manifests
    // (no physical data files needed for the metadata path), every
    // entry carrying its stats; the driver parses every manifest,
    // excludes the superseded pair, and the prune keeps only the
    // survivors; compactCommits then folds the same log, stats included
    val started = System.nanoTime()
    val base = Files.createTempDirectory("dlist").toString
    val tableDir = new Path(s"file:$base/t")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cb = new Path(tableDir, "_committed_batches")
    fs.mkdirs(cb)
    def put(p: Path, body: String): Unit = StatsIndexSpec.this.put(fs, p, body)
    val nManifests = 12
    val per = 10000
    def rel(m: Int, i: Int) =
      f"eventDay=2023-11-${m + 1}%02d/part-$m-$i%05d.parquet"
    // per-file disjoint severity points; the fold's files sit at severity -1
    var entryBytes, statsBytes = 0L
    (0 until nManifests).foreach { m =>
      val entries = (0 until per).map(i => statsEntry(rel(m, i), m * per + i, m * per + i))
      entryBytes += entries.map(_.split('\t').take(2).mkString("\t").length + 1).sum
      statsBytes += entries.map(_.length + 1).sum
      put(new Path(cb, s"$m.manifest"),
        (s"#graft-manifest files=$per" +: entries :+ "#end").mkString("\n"))
      put(new Path(cb, s"$m.committed"), "")
    }
    // a superseded pair whose files must NOT appear, and the fold that
    // replaces it with 100 files of its own
    val oldEntries = (0 until 500).map(i => s"g0/dead/f$i.parquet\t1")
    put(new Path(cb, "50.manifest"),
      ("#graft-manifest files=500" +: oldEntries :+ "#end").mkString("\n"))
    put(new Path(cb, "50.committed"), "")
    val foldEntries = (0 until 100).map(i => statsEntry(s"fold/f$i.parquet", -1, -1))
    put(new Path(cb, "compact-0.manifest"),
      (Seq("#graft-manifest files=100", "#supersedes 50") ++
        foldEntries :+ "#end").mkString("\n"))
    put(new Path(cb, "compact-0.committed"), "")
    val committed = IdempotentSink.committedFiles(fs, tableDir)
    assert(committed.size == nManifests * per + 100)
    assert(!committed.exists(_.toString.contains("/dead/")),
      "superseded pair's entries leaked into the contract")
    val lo = nManifests * per - 2 // top 2 files only
    val survivors = OcsfTables.prunedFiles(spark, fs, tableDir, s"severity >= $lo")
    assert(survivors.size == 2,
      s"expected 2 survivors, got ${survivors.size}")
    assert(survivors.map(_.getName).toSet ==
      Set(f"part-${nManifests - 1}-${per - 1}%05d.parquet",
        f"part-${nManifests - 1}-${per - 2}%05d.parquet"))
    // the maintenance path over the same log: the 12 batches and the
    // fold merge into one compact-* pair, the superseded pair settles,
    // and the read contract does not move
    assert(IdempotentSink.compactCommits(fs, tableDir) == nManifests + 1)
    val names = fs.listStatus(cb).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(names == Seq("compact-1.committed", "compact-1.manifest"), names)
    val folded = IdempotentSink.committedFiles(fs, tableDir)
    assert(folded.size == committed.size && folded.toSet == committed.toSet)
    assert(!folded.exists(_.toString.contains("/dead/")),
      "superseded pair's entries leaked into the folded contract")
    // the fold carried every entry's stats
    assert(OcsfTables.prunedFiles(spark, fs, tableDir, s"severity >= $lo").toSet ==
      survivors.toSet)
    info(f"120k-entry log: written, resolved, pruned and folded in " +
      f"${(System.nanoTime() - started) / 1e9}%.1f s; manifest bytes per entry " +
      f"${entryBytes.toDouble / (nManifests * per)}%.1f without stats, " +
      f"${statsBytes.toDouble / (nManifests * per)}%.1f with severity stats")
  }
}
