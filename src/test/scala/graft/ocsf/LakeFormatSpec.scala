package graft.ocsf

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.SparkSpec

/** The lake's parquet encoding: `time` is INT64 TIMESTAMP(MICROS), so
  * every committed file's footer bounds it and the manifest records
  * those bounds; files of the earlier INT96 encoding read back the same
  * values and are kept by any `time` prune. Float and double columns
  * record no stats, so NaN never costs a row. */
class LakeFormatSpec extends SparkSpec {

  private val route = "DNS Activity"
  private val OutputTs = "spark.sql.parquet.outputTimestampType"

  private def mkBase(): String = "file:" + Files.createTempDirectory("lakefmt")

  private def batch(b: Int): DataFrame = {
    import spark.implicits._
    (0 until 4).map(i => (s"u$b-$i", s"2023-11-14 1$b:0$i:00.123456", b * 10 + i, i.toDouble))
      .toDF("uid", "ts", "severity", "score")
      .select(struct(col("uid")).as("metadata"), to_timestamp(col("ts")).as("time"),
        col("severity"), col("score"))
  }

  private def write(base: String, b: Int, df: DataFrame): Unit =
    IdempotentSink.writeBatch(df, base, route, "us-east-1", "123456789012",
      batchId = b.toLong, filesPerDay = 1)

  /** `write` with the lake's timestamps encoded as INT96, as before. */
  private def writeInt96(base: String, b: Int, df: DataFrame): Unit = {
    spark.conf.set(OutputTs, "INT96")
    try write(base, b, df) finally spark.conf.set(OutputTs, "TIMESTAMP_MICROS")
  }

  private def fsOf(base: String) = {
    val dir = new Path(s"$base/dns_activity")
    (dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  private def times(df: DataFrame): Seq[String] =
    df.select(col("metadata.uid"), date_format(col("time"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .collect().map(r => s"${r.getString(0)} ${r.getString(1)}").sorted.toSeq

  test("a committed file's time is INT64 TIMESTAMP(MICROS) bounded in its footer") {
    val base = mkBase()
    write(base, 0, batch(0))
    val (fs, dir) = fsOf(base)
    val file = IdempotentSink.committedFiles(fs, dir).head
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, fs.getConf))
    val footer = try reader.getFooter finally reader.close()
    val tpe = footer.getFileMetaData.getSchema.getType(Seq("time"): _*).asPrimitiveType
    val stats = footer.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "time").get.getStatistics.asInstanceOf[LongStatistics]
    assert(tpe.getPrimitiveTypeName == PrimitiveTypeName.INT64)
    assert(tpe.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.MICROS && t.isAdjustedToUTC
      case _ => false
    }, tpe)
    assert(stats.hasNonNullValue)
    val lo = 1699956000123456L // 2023-11-14 10:00:00.123456 UTC
    assert(stats.getMin == lo && stats.getMax == lo + 180000000L, stats)
    // the manifest recorded the same bounds
    val recorded = IdempotentSink.scanPairs(fs, dir).stats(file).cols("time")
    assert(recorded.min.contains(java.time.Instant.ofEpochSecond(1699956000L, 123456000L)))
    assert(recorded.max.contains(java.time.Instant.ofEpochSecond(1699956180L, 123456000L)))
    assert(recorded.nulls == 0L)
  }

  test("load, the catalog and the INT96 encoding read back equal values") {
    val micros = mkBase()
    write(micros, 0, batch(0))
    val int96 = mkBase()
    writeInt96(int96, 0, batch(0))
    val loaded = OcsfTables.load(spark, micros, route)
    val legacy = OcsfTables.load(spark, int96, route)
    assert(loaded.schema("time").dataType == TimestampType)
    assert(loaded.schema == legacy.schema)
    assert(times(loaded) == times(legacy))
    assert(times(loaded).size == 4)
    OcsfTables.registerCatalog(spark, micros, "lakefmt_micros")
    OcsfTables.registerCatalog(spark, int96, "lakefmt_int96")
    val viaSql = times(spark.sql("SELECT metadata, time FROM lakefmt_micros.dns_activity"))
    assert(viaSql == times(loaded))
    assert(times(spark.sql("SELECT metadata, time FROM lakefmt_int96.dns_activity")) == viaSql)
  }

  test("an INT96 file is kept by a time prune; an INT64 one is pruned") {
    val base = mkBase()
    write(base, 0, batch(0))
    writeInt96(base, 1, batch(1))
    val (fs, dir) = fsOf(base)
    val files = IdempotentSink.committedFiles(fs, dir)
    assert(files.size == 2)
    val int96File = files.find(f => IdempotentSink.scanPairs(fs, dir).stats
      .get(f).exists(!_.cols.contains("time"))).get
    def kept(c: String) = OcsfTables.prunedFiles(spark, fs, dir, c)
    // matches neither file: only the INT96 file, without time stats, stays
    assert(kept("time > timestamp'2030-01-01 00:00:00'") == Seq(int96File))
    // batch 0's window: batch 1's INT96 file cannot be ruled out
    assert(kept("time < timestamp'2023-11-14 10:30:00'").size == 2)
    // its other columns still prune
    assert(kept("severity >= 10").toSet == Set(int96File))
    assert(kept("severity < 10").size == 1 && !kept("severity < 10").contains(int96File))
    Seq("time < timestamp'2023-11-14 10:30:00'", "time >= timestamp'2023-11-14 11:00:00'")
      .foreach { c =>
        assert(times(OcsfTables.loadWhere(spark, base, route, c)) ==
          times(OcsfTables.load(spark, base, route).filter(c)), c)
      }
  }

  test("a double column that holds NaN is never pruned") {
    import spark.implicits._
    val base = mkBase()
    write(base, 0, batch(0))
    write(base, 1, batch(1).withColumn("score",
      when(col("metadata.uid") === "u1-2", lit(Double.NaN)).otherwise(col("score"))))
    val (fs, dir) = fsOf(base)
    val stats = IdempotentSink.scanPairs(fs, dir).stats
    assert(stats.size == 2 && stats.values.forall(s =>
      !s.cols.contains("score") && s.cols.contains("severity")), stats)
    // Spark orders NaN above every number, so these match the NaN row
    Seq("score > 1e9", "score = double('NaN')", "score >= 100").foreach { c =>
      val kept = OcsfTables.prunedFiles(spark, fs, dir, c)
      assert(kept.size == 2, s"$c kept $kept")
      assert(OcsfTables.loadWhere(spark, base, route, c).select("metadata.uid")
        .as[String].collect().toSeq == Seq("u1-2"), c)
    }
  }
}
