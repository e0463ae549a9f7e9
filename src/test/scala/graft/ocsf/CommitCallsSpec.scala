package graft.ocsf

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The filesystem calls of one route commit ([[IdempotentSink.writeBatch]]),
  * counted by [[FaultFs]] — metadata reads (`exists`, `getFileStatus`,
  * `listStatus`, `open`) and mutations alike, executor-side stage
  * writes included. A batch of F files (one per eventDay) costs
  * exactly `a + b·F` calls. These are Hadoop calls on the local
  * filesystem: a proxy for an object store's requests, not a count of
  * them. Pinned so a change to the write path shows as a changed `a`
  * or `b`, op by op. */
class CommitCallsSpec extends SparkSpec {

  private def fs = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)
    new Path("faultfs:/").getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  /** The calls, by op, of one fresh-table `writeBatch` of `f` files. */
  private def callsOf(f: Int): Map[String, Int] = {
    fs
    import spark.implicits._
    val base = "faultfs:" + Files.createTempDirectory("commitcalls")
    val df = (0 until f).map(d => (s"u$d", f"2023-11-${14 + d}%02d")).toDF("uid", "day")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"))
    df.cache().count()
    FaultFs.disarm()
    IdempotentSink.writeBatch(df, base, "DNS Activity", "us-east-1", "123456789012",
      batchId = 0L, filesPerDay = 1)
    val calls = FaultFs.calls
    FaultFs.disarm()
    df.unpersist()
    calls.groupBy(_.takeWhile(_ != ' ')).map { case (op, xs) => op -> xs.size }
  }

  /** (a, b) per op. `open` is the manifest re-read under the commit
    * lock plus one footer read per staged file (its stats). */
  private val pinned = Map(
    "create" -> (3, 1), "delete" -> (3, 0), "exists" -> (12, 5),
    "getFileStatus" -> (10, 5), "listStatus" -> (5, 1), "mkdirs" -> (17, 2),
    "open" -> (1, 1), "rename" -> (4, 1), "setPermission" -> (16, 3))

  test("one route commit costs a + b·F filesystem calls") {
    val byF = (1 to 3).map(f => f -> callsOf(f))
    info(byF.map { case (f, c) => s"F=$f: ${c.toSeq.sorted.mkString(", ")}" }.mkString("; "))
    byF.foreach { case (f, calls) =>
      assert(calls.keySet == pinned.keySet, s"F=$f: ops ${calls.keySet}")
      pinned.foreach { case (op, (a, b)) =>
        assert(calls(op) == a + b * f, s"F=$f: $op ${calls(op)} != $a + ${b}·$f")
      }
    }
    val (a, b) = (pinned.values.map(_._1).sum, pinned.values.map(_._2).sum)
    info(s"total $a + ${b}·F")
  }
}
