package graft.ocsf

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The filesystem calls of one route commit ([[IdempotentSink.writeBatch]])
  * and of the two folds that rewrite a table's commit log
  * ([[IdempotentSink.compactCommits]], [[IdempotentSink.compactDataFiles]]),
  * counted by [[FaultFs]] — metadata reads (`exists`, `getFileStatus`,
  * `listStatus`, `open`) and mutations alike, executor-side stage
  * writes included. Each costs exactly `a + b·F` calls on F files
  * (one per eventDay). These are Hadoop calls on the local
  * filesystem: a proxy for an object store's requests, not a count of
  * them. Pinned so a change to the write path shows as a changed `a`
  * or `b`, op by op. */
class CommitCallsSpec extends SparkSpec {

  private val route = "DNS Activity"

  private def fs = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    new Path("faultfs:/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  /** One row per day on `f` days from 2023-11-14. */
  private def frame(f: Int, tag: String): DataFrame = {
    import spark.implicits._
    (0 until f).map(d => (s"$tag$d", f"2023-11-${14 + d}%02d")).toDF("uid", "day")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"))
  }

  private def write(df: DataFrame, base: String, batchId: Long): Unit =
    IdempotentSink.writeBatch(df, base, route, "us-east-1", "123456789012",
      batchId = batchId, filesPerDay = 1)

  /** The calls, by op, of `op` on a fresh table that `setup` built. */
  private def callsOf(setup: String => Unit)(op: String => Unit): Map[String, Int] = {
    fs
    val base = "faultfs:" + Files.createTempDirectory("commitcalls")
    setup(base)
    FaultFs.disarm()
    op(base)
    val calls = FaultFs.calls
    FaultFs.disarm()
    calls.groupBy(_.takeWhile(_ != ' ')).map { case (op, xs) => op -> xs.size }
  }

  /** Asserts `calls(F)` equals the pinned `a + b·F` per op for F = 1..3. */
  private def assertPinned(pinned: Map[String, (Int, Int)])(calls: Int => Map[String, Int]): Unit = {
    val byF = (1 to 3).map(f => f -> calls(f))
    info(byF.map { case (f, c) => s"F=$f: ${c.toSeq.sorted.mkString(", ")}" }.mkString("; "))
    byF.foreach { case (f, calls) =>
      assert(calls.keySet == pinned.keySet, s"F=$f: ops ${calls.keySet}")
      pinned.foreach { case (op, (a, b)) =>
        assert(calls(op) == a + b * f, s"F=$f: $op ${calls(op)} != $a + ${b}·$f")
      }
    }
    info(s"total ${pinned.values.map(_._1).sum} + ${pinned.values.map(_._2).sum}·F")
  }

  /** Two committed batches of one file a day on `f` days: the input of
    * both folds, 2·f files in 2 pairs. */
  private def twoBatches(f: Int)(base: String): Unit =
    (0L to 1L).foreach(b => write(frame(f, s"b$b"), base, b))

  private def tableDir(base: String) = new Path(s"$base/dns_activity")

  test("one route commit costs a + b·F filesystem calls") {
    // `open` is the footer read per staged file (its stats): the
    // manifest this commit publishes is never read back
    assertPinned(Map(
      "create" -> (2, 1), "delete" -> (3, 0), "exists" -> (7, 1),
      "getFileStatus" -> (8, 6), "listStatus" -> (5, 1), "mkdirs" -> (14, 2),
      "open" -> (0, 1), "rename" -> (4, 1), "setPermission" -> (15, 3))) { f =>
      val df = frame(f, "u")
      df.cache().count()
      try callsOf(_ => ())(write(df, _, 0L)) finally df.unpersist()
    }
  }

  test("a compactCommits fold of 2 pairs over F days costs a + b·F filesystem calls") {
    // b = 0: the fold carries every file by name, so it pays per pair
    assertPinned(Map(
      "create" -> (2, 0), "delete" -> (4, 0), "exists" -> (4, 0),
      "getFileStatus" -> (6, 0), "listStatus" -> (2, 0), "mkdirs" -> (2, 0),
      "open" -> (2, 0), "rename" -> (2, 0), "setPermission" -> (2, 0))) { f =>
      callsOf(twoBatches(f)) { base =>
        assert(IdempotentSink.compactCommits(fs, tableDir(base)) == 2)
      }
    }
  }

  test("a compactDataFiles fold of 2 pairs over F days costs a + b·F filesystem calls") {
    // per day: two input files read and deleted, one file restaged
    assertPinned(Map(
      "create" -> (2, 1), "delete" -> (7, 2), "exists" -> (7, 5),
      "getFileStatus" -> (16, 12), "listStatus" -> (7, 5), "mkdirs" -> (10, 2),
      "open" -> (2, 5), "rename" -> (4, 1), "setPermission" -> (10, 2))) { f =>
      callsOf(twoBatches(f)) { base =>
        assert(IdempotentSink.compactDataFiles(spark, tableDir(base)) == 2)
      }
    }
  }
}
