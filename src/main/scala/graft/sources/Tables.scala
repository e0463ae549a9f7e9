package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

/** Loader for the driver-generated star-schema parquet tables.
  *
  * One parquet file per table under `sfDir` (see /root/repo/TESTDATA.md;
  * `documents`/`embeddings` also exist at every scale factor). Reads are
  * plain `spark.read.parquet` so Catalyst keeps full pushdown / pruning
  * ability; at cluster scale the same call works on a directory of
  * thousands of files.
  *
  * Parquet TIMESTAMP(NANOS) (the `events.ts` column) is not a legal
  * Spark 4 parquet type, so it is read as nanos-since-epoch Long
  * (`spark.sql.legacy.parquet.nanosAsLong`) and converted to a
  * microsecond timestamp — the same truncation DuckDB's epoch_us does.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // idempotent safety net for sessions not built by GraftSession
    // (GraftSession sets this once at build time)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val path = s"$sfDir/$table.parquet"
    val df = spark.read.parquet(path)
    // Convert only when the parquet logical type is really
    // TIMESTAMP(NANOS) — a genuinely Long ts column must pass through
    // untouched, so gate on the footer annotation, not the Spark type.
    if (table == "events" && df.schema.fieldNames.contains("ts") &&
        df.schema("ts").dataType == LongType && tsIsNanos(spark, path))
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }

  private val nanosCache = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** True iff the `ts` column's parquet logical type annotation is
    * TIMESTAMP with NANOS unit (checked on one footer; the driver
    * writes homogeneous files). */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean =
    nanosCache.getOrElseUpdate(path, {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val status = fs.getFileStatus(p)
      val file: Option[FileStatus] =
        if (!status.isDirectory) Some(status)
        else {
          val it = fs.listFiles(p, true)
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
            .find(_.getPath.getName.endsWith(".parquet"))
        }
      file.exists { f =>
        // read options over `conf`: the default ones build a fresh
        // Hadoop Configuration per open
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
          HadoopReadOptions.builder(conf, f.getPath).build())
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          schema.containsField("ts") && {
            schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == TimeUnit.NANOS
              case _ => false
            }
          }
        } finally reader.close()
      }
    })

  /** Registers every table as a temp view so `spark.sql` can be used with
    * the same statements the DuckDB oracle runs. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
