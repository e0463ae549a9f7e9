package graft.ocsf

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Every lake operation reads the commit log through ONE scan
  * ([[IdempotentSink.scanPairs]]): a read takes one LIST of
  * `_committed_batches` and opens each manifest once, and so does every
  * maintenance op — its settle of interrupted predecessors hands the op
  * the scan minus what it settled instead of rescanning. [[FaultFs]]
  * logs the LISTs and manifest opens; the table has three committed
  * batches, a superseded ghost and a foreign-writer pair, so every
  * view of the log (live, superseded, writer, settle inputs) is in
  * play. */
class CommitLogReadsSpec extends SparkSpec {

  private val region = "us-east-1"
  private val acct = "123456789012"
  private val route = "DNS Activity"

  private def df(uid: String, day: String): DataFrame = {
    import spark.implicits._
    Seq(uid -> day).toDF("uid", "day")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"))
  }

  private def fs = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    new Path("faultfs:/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  /** Batches 0-3 land; batch 0 is then left behind as a ghost of the
    * fold `compact-0` that supersedes it and re-owns its file (a
    * compactCommits cut after its marker publish), so batches 1-3 are
    * the live per-batch pairs. `writer` adds the backfill pair
    * `w-bf-0`. Rows: e0..e3, plus bf with the writer. */
  private def proto(writer: Boolean): JPath = {
    val dir = Files.createTempDirectory("logreads-proto")
    val base = "faultfs:" + dir
    val f = fs
    (0L to 3L).foreach { b =>
      IdempotentSink.writeBatch(df(s"e$b", "2023-11-14"), base, route,
        region, acct, batchId = b)
    }
    if (writer)
      IdempotentSink.writeBatch(df("bf", "2023-11-15"), base, route,
        region, acct, batchId = 0L, writerId = "bf")
    val cb = dir.resolve("dns_activity/_committed_batches")
    val batch0 = IdempotentSink.readManifestFull(f,
      new Path(s"$base/dns_activity/_committed_batches/0.manifest")).get
    val entries = batch0.entries.map { case (rel, len) =>
      s"c/${rel.split('/').drop(1).mkString("/")}\t$len"
    }
    Files.write(cb.resolve("compact-0.manifest"),
      ((Seq(s"#graft-manifest files=${entries.size}", "#supersedes 0",
        "#maxbatch 0") ++ entries) :+ "#end").mkString("\n").getBytes("UTF-8"))
    Files.write(cb.resolve("compact-0.committed"), Array.emptyByteArray)
    dir
  }

  private lazy val withWriter = proto(writer = true)
  private lazy val noWriter = proto(writer = false)

  /** A fresh copy of a prototype table, as a `faultfs:` base dir. */
  private def copyOf(proto: JPath): String = {
    val dst = Files.createTempDirectory("logreads-copy")
    import scala.jdk.CollectionConverters._
    Files.walk(proto).iterator().asScala.foreach { p =>
      val t = dst.resolve(proto.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
    "faultfs:" + dst
  }

  /** The commit-log reads `op` makes. */
  private def readsOf(op: => Any): Seq[String] = {
    FaultFs.disarm()
    op
    val r = FaultFs.reads
    FaultFs.disarm()
    r
  }

  private def lists(reads: Seq[String]): Seq[String] =
    reads.filter(_.startsWith("list "))

  /** Manifests opened more than once, by file name. */
  private def reopened(reads: Seq[String]): Seq[String] =
    reads.filter(_.startsWith("open ")).map(_.split('/').last)
      .groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      .toSeq.sorted

  private def rows(base: String): Long =
    OcsfTables.load(spark, base, route).count()

  test("every read resolves a table with one LIST of its commit log") {
    val base = copyOf(withWriter)
    val reads = Seq(
      "load" -> readsOf(assert(rows(base) == 5L)),
      "loadWhere" -> readsOf(assert(OcsfTables.loadWhere(spark, base, route,
        "metadata.uid = 'e2'").count() == 1L)),
      // compact-0 (e0), the backfill (bf), batches 1 and 2
      "loadAsOf" -> readsOf(assert(OcsfTables.loadAsOf(spark, base, route,
        2L).count() == 4L)),
      "changesSince" -> readsOf(assert(OcsfTables.changesSince(spark, base,
        route, 1L).count() == 2L)),
      // an empty selection serves the schema from the same scan
      "changesSince (empty)" -> readsOf(assert(OcsfTables.changesSince(spark,
        base, route, 3L).count() == 0L)))
    reads.foreach { case (op, r) =>
      assert(lists(r).size == 1, s"$op listed the commit log ${lists(r).size}×: $r")
      assert(reopened(r).isEmpty, s"$op opened manifests twice: ${reopened(r)}")
    }
    val reg = readsOf(assert(OcsfTables.registerAll(spark, base) ==
      Seq("ocsf_dns_activity")))
    spark.catalog.dropTempView("ocsf_dns_activity")
    val perTable = lists(reg).groupBy(identity).map { case (d, xs) => d -> xs.size }
    assert(perTable.size == 1 && perTable.values.forall(_ == 1),
      s"registerAll listed commit logs $perTable")
  }

  test("compactCommits takes one LIST and opens each manifest once") {
    val base = copyOf(withWriter)
    val td = new Path(s"$base/dns_activity")
    // 1-3 and compact-0 fold; the ghost settles; the writer pair stays
    val r = readsOf(assert(IdempotentSink.compactCommits(fs, td) == 4))
    assert(lists(r).size == 1, s"compactCommits listed ${lists(r).size}×: $r")
    assert(reopened(r).isEmpty, s"compactCommits opened manifests twice: ${reopened(r)}")
    assert(rows(base) == 5L)
  }

  test("data rewrites and vacuum take one LIST, the ghost settle included") {
    def once(op: String, r: Seq[String]): Unit = {
      assert(lists(r).size == 1, s"$op listed the commit log ${lists(r).size}×: $r")
      assert(reopened(r).isEmpty, s"$op opened manifests twice: ${reopened(r)}")
    }

    val cd = copyOf(withWriter)
    once("compactDataFiles", readsOf(assert(IdempotentSink.compactDataFiles(
      spark, new Path(s"$cd/dns_activity")) == 4)))
    assert(rows(cd) == 5L)

    // the live backfill pair refuses the erasure after the settle
    val refused = copyOf(withWriter)
    once("deleteWhere (refused)", readsOf(intercept[IllegalArgumentException] {
      OcsfTables.deleteWhere(spark, refused, route, "metadata.uid = 'e2'")
    }))
    val dw = copyOf(noWriter)
    once("deleteWhere", readsOf(assert(OcsfTables.deleteWhere(spark, dw,
      route, "metadata.uid = 'e2'") == 1L)))
    assert(rows(dw) == 3L)

    val vac = copyOf(withWriter)
    once("vacuum", readsOf(IdempotentSink.vacuum(spark,
      new Path(s"$vac/dns_activity"))))
    assert(rows(vac) == 5L)
  }
}
