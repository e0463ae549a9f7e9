package graft.ocsf

import java.io.IOException
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Erasure contract of [[IdempotentSink.deleteWhere]]: matching rows
  * vanish exactly, NULL-predicate rows stay, untouched files keep
  * their identity (no table-wide rewrite), whole-file deletes drop the
  * file, crashes replay to exactly-once, time travel cannot resurrect
  * erased rows, and live backfill writers refuse the op. */
class DeleteWhereSpec extends SparkSpec {

  private val region = "us-east-1"
  private val acct = "123456789012"
  private val route = "DNS Activity"

  private def mkBase(): String =
    "file:" + Files.createTempDirectory("delwhere")

  private def mkCrashBase(): String = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.nonatomic.impl", classOf[NonAtomicRenameFs].getName)
    hc.set("fs.nonatomic.impl.disable.cache", "true")
    "nonatomic:" + Files.createTempDirectory("delwhere")
  }

  /** Batch `b`: 64 rows, severity in [b*100, b*100+63]. */
  private def batchDf(b: Int): DataFrame = {
    import spark.implicits._
    (0 until 64).map(i => (s"u$b-$i", b * 100 + i))
      .toDF("uid", "severity")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(lit("2023-11-14 12:00:00")).as("time"),
        col("severity"))
  }

  private def fsOf(base: String) = {
    val dir = new Path(s"$base/dns_activity")
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def writeBatches(base: String, n: Int): Unit =
    (0 until n).foreach(b => IdempotentSink.writeBatch(batchDf(b), base,
      route, region, acct, batchId = b.toLong, filesPerDay = 1))

  private def uids(base: String): Seq[String] =
    // guarded read: delete/rewrite tests assert no stray file survives
    OcsfTables.load(spark, base, route, verifyAppends = true)
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq

  test("delete rewrites only affected files; counts and survivors exact") {
    val base = mkBase()
    writeBatches(base, 3)
    val (fs, tableDir) = fsOf(base)
    val before = IdempotentSink.committedFiles(fs, tableDir).toSet
    assert(before.size == 3)
    val all = uids(base)
    // 11 rows of batch 1 match
    assert(OcsfTables.deleteWhere(spark, base, route,
      "severity >= 100 AND severity <= 110") == 11L)
    val expected = all.filterNot { u =>
      val i = u.stripPrefix("u1-")
      u.startsWith("u1-") && i.toInt <= 10
    }
    assert(uids(base) == expected)
    val after = IdempotentSink.committedFiles(fs, tableDir).toSet
    // batches 0 and 2 were untouched: their files keep their identity
    val untouched = before.intersect(after)
    assert(untouched.size == 2, s"untouched: $untouched")
    assert(after.size == 3, "batch 1's file was replaced, not dropped")
    // idempotent: nothing left to delete
    assert(OcsfTables.deleteWhere(spark, base, route,
      "severity >= 100 AND severity <= 110") == 0L)
    assert(uids(base) == expected)
  }

  test("NULL-predicate rows are kept; whole-file deletes drop the file") {
    val base = mkBase()
    import spark.implicits._
    val withNulls = (0 until 8).map(i => s"n$i").toDF("uid")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(lit("2023-11-14 12:00:00")).as("time"),
        lit(null).cast("int").as("severity"))
    IdempotentSink.writeBatch(withNulls, base, route, region, acct,
      batchId = 0L, filesPerDay = 1)
    IdempotentSink.writeBatch(batchDf(1), base, route, region, acct,
      batchId = 1L, filesPerDay = 1)
    val (fs, tableDir) = fsOf(base)
    // matches every non-null severity; NULL rows must survive, and the
    // all-matching file disappears entirely instead of landing empty
    assert(OcsfTables.deleteWhere(spark, base, route, "severity < 1000")
      == 64L)
    assert(uids(base) == (0 until 8).map(i => s"n$i").sorted)
    assert(IdempotentSink.committedFiles(fs, tableDir).size == 1)
    // nothing matches at all → 0, and the commit log grew no new pair
    val pairsBefore = fs.listStatus(new Path(tableDir, "_committed_batches")).length
    assert(OcsfTables.deleteWhere(spark, base, route, "severity = 42") == 0L)
    assert(fs.listStatus(new Path(tableDir, "_committed_batches")).length
      == pairsBefore)
  }

  test("manifest-stats pre-prune composes: delete stays exact and its output prunes at once") {
    val base = mkBase()
    writeBatches(base, 3)
    val all = uids(base)
    assert(OcsfTables.deleteWhere(spark, base, route, "severity = 205") == 1L)
    assert(uids(base) == all.filterNot(_ == "u2-5"))
    // the restaged file records fresh stats, the carried ones keep theirs
    val (fs, tableDir) = fsOf(base)
    Seq("severity > 250" -> "u2-", "severity < 50" -> "u0-").foreach { case (c, batch) =>
      val kept = OcsfTables.prunedFiles(spark, fs, tableDir, c)
      assert(kept.size == 1, s"$c kept $kept")
      assert(spark.read.parquet(kept.map(_.toString): _*).select("metadata.uid")
        .collect().forall(_.getString(0).startsWith(batch)), c)
    }
  }

  test("crash mid-promote: erased rows stay until commit, replay lands exactly-once") {
    val base = mkCrashBase()
    writeBatches(base, 2)
    val all = uids(base)
    def isPromoteTarget(p: Path): Boolean =
      p.toString.contains("/eventDay=") && !p.toString.contains("/_staging/")
    NonAtomicRenameFs.arm(1)(p =>
      if (isPromoteTarget(p)) NonAtomicRenameFs.CrashAfterCopy
      else NonAtomicRenameFs.Pass)
    try {
      intercept[IOException] {
        OcsfTables.deleteWhere(spark, base, route, "severity < 10")
      }
    } finally NonAtomicRenameFs.disarm()
    // marker never landed: readers still see every row
    assert(uids(base) == all)
    // replay completes the erasure exactly-once
    assert(OcsfTables.deleteWhere(spark, base, route, "severity < 10") == 10L)
    assert(uids(base) == all.filterNot { u =>
      u.startsWith("u0-") && u.stripPrefix("u0-").toInt < 10
    })
  }

  test("time travel below the erasure horizon throws; above it serves the erased state") {
    val base = mkBase()
    writeBatches(base, 2)
    assert(OcsfTables.deleteWhere(spark, base, route, "severity = 100") == 1L)
    // the superseding pair covers batch 1 → snapshots below it refuse
    intercept[IllegalArgumentException] {
      OcsfTables.loadAsOf(spark, base, route, asOfBatch = 0L).count()
    }
    val asOf1 = OcsfTables.loadAsOf(spark, base, route, asOfBatch = 1L)
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    assert(asOf1 == uids(base), "post-horizon snapshot serves the erased state")
    assert(!asOf1.contains("u1-0"))
  }

  test("layout-preserving erasure: z-order delete keeps the maintenance loop a no-op") {
    val base = mkBase()
    writeBatches(base, 3)
    val (fs, tableDir) = fsOf(base)
    val z = Seq("severity")
    // establish a recorded z-layout
    assert(IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = 2, zorderCols = z) == 3)
    val all = uids(base)
    // erasure WITH the table's layout: rewritten slice re-laid on the
    // same curve, layout header carried → compaction stays a no-op
    assert(IdempotentSink.deleteWhere(spark, tableDir, "severity = 105",
      filesPerDay = 2, zorderCols = z) == 1L)
    assert(uids(base) == all.filterNot(_ == "u1-5"))
    assert(IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = 2, zorderCols = z) == 0,
      "layout preserved end-to-end: nothing to re-lay")
    // erasure WITHOUT re-layout: the output pair drops the header and
    // the next z-compaction rewrites to restore clustering
    assert(IdempotentSink.deleteWhere(spark, tableDir, "severity = 106") == 1L)
    assert(IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = 2, zorderCols = z) == 1,
      "missing layout header must trigger a restoring rewrite")
    assert(uids(base) == all.filterNot(u => u == "u1-5" || u == "u1-6"))
  }

  test("live foreign-writer pairs refuse the delete") {
    val base = mkBase()
    writeBatches(base, 1)
    IdempotentSink.writeBatch(batchDf(5), base, route, region, acct,
      batchId = 0L, filesPerDay = 1, writerId = "backfill1")
    intercept[IllegalArgumentException] {
      OcsfTables.deleteWhere(spark, base, route, "severity >= 0")
    }
    // retiring the writer unblocks it
    val (fs, tableDir) = fsOf(base)
    assert(IdempotentSink.compactCommits(fs, tableDir,
      foldWriters = Set("backfill1")) == 2)
    assert(OcsfTables.deleteWhere(spark, base, route, "severity >= 500") == 64L)
    assert(uids(base) == (0 until 64).map(i => s"u0-$i").sorted)
  }
}
