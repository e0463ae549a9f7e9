package graft.ocsf

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.Zorder

/** What the data-rewriting maintenance ops ([[IdempotentSink.compactDataFiles]],
  * [[IdempotentSink.deleteWhere]]) write, read back file by file: they
  * keep every column an additive evolution appended, keep string
  * partition values byte-exact, and lay each output file out
  * time-sorted (or z-ordered when asked). */
class DataRewriteSpec extends SparkSpec {

  private val region = "us-east-1"
  private val acct = "123456789012"
  private val route = "DNS Activity"

  private def mkBase(): String = "file:" + Files.createTempDirectory("rewrite")

  private def tableOf(base: String) = {
    val dir = new Path(s"$base/dns_activity")
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** `n` rows of batch `b` on `day`: uid `<b>-<i>`, severity i, and the
    * i-th row at minute `i * stride + b` — batches interleave in time
    * while each batch file is time-sorted on its own. */
  private def rows(b: Int, n: Int, day: String, stride: Int = 4): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (s"$b-$i", i, i * stride + b)).toDF("uid", "severity", "m")
      .select(struct(col("uid")).as("metadata"),
        (unix_timestamp(lit(s"$day 00:00:00")) + col("m") * 60)
          .cast("timestamp").as("time"),
        col("severity"))
  }

  private def write(base: String, b: Int, df: DataFrame,
                    accountId: String = acct): Unit =
    IdempotentSink.writeBatch(df, base, route, region, accountId,
      batchId = b.toLong, filesPerDay = 1)

  /** Each committed file's rows, in file order. */
  private def perFile(base: String, cols: String*): Seq[(Path, Seq[Seq[Any]])] = {
    val (fs, td) = tableOf(base)
    IdempotentSink.committedFiles(fs, td).map { f =>
      f -> spark.read.parquet(f.toString).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
    }
  }

  /** Adjacent pairs in a file that go down. */
  private def descents(xs: Seq[Long]): Int =
    xs.zip(xs.drop(1)).count { case (a, b) => b < a }

  test("compactDataFiles and deleteWhere keep an evolved column on every evolved row") {
    import spark.implicits._
    // batch 2 appends `added`; its later eventDay makes its path sort
    // after batches 0 and 1, so a reader that takes the first file's
    // schema drops the column
    def evolvedTable(): String = {
      val base = mkBase()
      write(base, 0, rows(0, 8, "2023-11-14"))
      write(base, 1, rows(1, 8, "2023-11-14"))
      write(base, 2, rows(2, 8, "2023-11-15").withColumn("added", lit("x")))
      base
    }
    def addedByUid(base: String): Map[String, String] =
      OcsfTables.load(spark, base, route, mergeSchemas = true)
        .select($"metadata.uid", $"added").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    def evolvedKept(added: Map[String, String], erased: Set[String]): Unit = {
      val evolved = (0 until 8).map(i => s"2-$i").filterNot(erased)
      assert(evolved.forall(added.get(_).contains("x")), added)
      assert(added.keySet -- evolved == (0 until 2).flatMap(b =>
        (0 until 8).map(i => s"$b-$i")).toSet -- erased, added)
      assert((added -- evolved).values.forall(_ == null), added)
    }

    val compacted = evolvedTable()
    assert(IdempotentSink.compactDataFiles(spark, tableOf(compacted)._2,
      filesPerDay = 1) == 3)
    evolvedKept(addedByUid(compacted), Set.empty)

    // the erasure rewrites the first and the last file
    val erased = evolvedTable()
    assert(OcsfTables.deleteWhere(spark, erased, route,
      "metadata.uid IN ('0-3', '2-3')") == 2L)
    evolvedKept(addedByUid(erased), Set("0-3", "2-3"))
  }

  test("compactDataFiles lays each output file out time-sorted") {
    val base = mkBase()
    (0 until 4).foreach(b => write(base, b, rows(b, 50, "2023-11-14")))
    val (_, td) = tableOf(base)
    assert(IdempotentSink.compactDataFiles(spark, td, filesPerDay = 1) == 4)
    val files = perFile(base, "time")
    assert(files.size == 1 && files.head._2.size == 200)
    files.foreach { case (f, rs) =>
      val d = descents(rs.map(_.head.asInstanceOf[java.sql.Timestamp].getTime))
      assert(d == 0, s"$f has $d time descents")
    }
    // the hash split (at most filesPerDay files: AQE may coalesce a
    // small day into one) keeps the order inside each of its files
    val split = mkBase()
    (0 until 4).foreach(b => write(split, b, rows(b, 50, "2023-11-14")))
    assert(IdempotentSink.compactDataFiles(spark, tableOf(split)._2,
      filesPerDay = 2) == 4)
    val halves = perFile(split, "time")
    assert(halves.map(_._2.size).sum == 200)
    halves.foreach { case (f, rs) =>
      val d = descents(rs.map(_.head.asInstanceOf[java.sql.Timestamp].getTime))
      assert(d == 0, s"$f has $d time descents")
    }
  }

  test("z-ordered compactDataFiles keeps each file in z-order") {
    val base = mkBase()
    (0 until 4).foreach(b => write(base, b, rows(b, 50, "2023-11-14")))
    val (fs, td) = tableOf(base)
    val z = Seq("time", "severity")
    assert(IdempotentSink.compactDataFiles(spark, td, filesPerDay = 2,
      zorderCols = z) == 4)
    val files = IdempotentSink.committedFiles(fs, td)
    assert(files.size == 2)
    // z-values against the table-wide bounds, as the rewrite took them
    val all = spark.read.parquet(files.map(_.toString): _*)
    val bounds = all.agg(min("time"), max("time"), min("severity"),
      max("severity")).head()
    val bits = 63 / z.size min 16
    files.foreach { f =>
      val zs = spark.read.parquet(f.toString)
        .select(Zorder.zValue(Seq(
          Zorder.quantize(col("time"), lit(bounds.get(0)), lit(bounds.get(1)), bits),
          Zorder.quantize(col("severity"), lit(bounds.get(2)), lit(bounds.get(3)), bits)),
          bits))
        .collect().map(_.getLong(0)).toSeq
      assert(zs.nonEmpty && descents(zs) == 0, s"$f has ${descents(zs)} z descents")
    }
  }

  test("a leading-zero accountId keeps its directory and string value through the rewrites") {
    val base = mkBase()
    val zeroAcct = "000011112222"
    (0 until 3).foreach(b => write(base, b, rows(b, 8, "2023-11-14"), zeroAcct))
    val (fs, td) = tableOf(base)
    def accountDirs(): Set[String] =
      IdempotentSink.committedFiles(fs, td).map(_.getParent.getParent.getName).toSet
    // the public read: the partition columns declared as strings
    def accountValues(): Set[String] =
      OcsfTables.load(spark, base, route)
        .select("accountId").distinct().collect().map(_.getString(0)).toSet

    assert(IdempotentSink.compactDataFiles(spark, td, filesPerDay = 1) == 3)
    assert(accountDirs() == Set(s"accountId=$zeroAcct"))
    assert(accountValues() == Set(zeroAcct))
    assert(OcsfTables.deleteWhere(spark, base, route, "severity = 2") == 3L)
    assert(accountDirs() == Set(s"accountId=$zeroAcct"))
    assert(accountValues() == Set(zeroAcct))
    assert(OcsfTables.load(spark, base, route).count() == 21L)
  }
}
