package graft.ocsf

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{GraftSession, SparkSpec}
import graft.queries.OcsfLakeQueries
import graft.sources.FdrSource

/** Resolving a committed lake table ([[OcsfTables.load]],
  * [[OcsfTables.registerAll]], an empty [[OcsfTables.changesSince]])
  * takes the data columns from the schema Spark wrote into the first
  * committed file's footer, read on the driver, and declares the
  * partition columns STRING: it runs no Spark job and serves exactly
  * what Spark serves over the same files with the data columns
  * inferred and the partition columns so declared. A footer without
  * Spark's schema key falls back to that inference. Every read path,
  * the catalog and both rewrites agree on the partition columns. */
class LakeResolveSpec extends SparkSpec {

  /** Two batches of 260 lines over every route and two eventDays. */
  private lazy val lake: String = {
    val landing = Files.createTempDirectory("resolve-landing")
    val out = Files.createTempDirectory("resolve-lake").toString
    Seq(1L, 2L).foreach { runId =>
      val dir = Files.createDirectories(landing.resolve(s"run$runId"))
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(dir.resolve("part-0001.gz").toFile)), "UTF-8"))
      (runId * 260 until runId * 260 + 260).foreach { i =>
        val ts = 1700006400000L + (i % 2) * 86400000L + i * 1000 // 2023-11-15/16
        w.write(graft.EtlBench.line(i)
          .replace(s""""timestamp":"${1700000000000L + i}"""", s""""timestamp":"$ts"""")
          .replace(s""""UTCTimestamp":"${(1700000000000L + i) / 1000}"""",
            s""""UTCTimestamp":"${ts / 1000}""""))
        w.write("\n")
      }
      w.close()
      val cached = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
        FdrSource.load(spark, dir.toString).drop("raw")))
      try {
        cached.count()
        OcsfSink.fanOutIdempotent(cached, out, "us-east-1", "123456789012", runId)
      } finally { cached.unpersist(); () }
    }
    out
  }

  private def tableDir(route: String): Path =
    new Path(s"$lake/${OcsfSink.tableName(route)}")

  private val partCols = Seq("region", "accountId", "eventDay")

  /** Spark's own read of `files` under `dir`: the data columns inferred,
    * the partition columns declared STRING, as the lake's Glue DDL
    * declares them. */
  private def declaredRead(dir: Path, files: Seq[String]): DataFrame = {
    val inferred = spark.read.option("basePath", dir.toString).parquet(files: _*).schema
    val schema = partCols.foldLeft(
      StructType(inferred.filterNot(f => partCols.contains(f.name))))(_.add(_, "string"))
    spark.read.schema(schema).option("basePath", dir.toString).parquet(files: _*)
  }

  /** [[declaredRead]] over `route`'s committed files. */
  private def plainRead(route: String): DataFrame = {
    val dir = tableDir(route)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    declaredRead(dir, IdempotentSink.committedFiles(fs, dir).map(_.toString))
  }

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  test("resolving a committed table runs no Spark job and matches Spark's inferred read") {
    val base = lake // built before any job is counted
    OcsfMappings.routes.foreach { route =>
      var loaded: DataFrame = null
      val jobs = jobsIn { loaded = OcsfTables.load(spark, base, route) }
      assert(jobs.isEmpty, s"$route: load started jobs $jobs")
      val plain = plainRead(route)
      assert(loaded.schema == plain.schema, route)
      assert(loaded.schema("accountId").dataType.typeName == "string" &&
        loaded.schema("eventDay").dataType.typeName == "string", loaded.schema)
      val got = rows(loaded)
      assert(got.size == 40, s"$route: ${got.size} rows")
      assert(got == rows(plain), route)
    }
    var views: Seq[String] = Nil
    val jobs = jobsIn { views = OcsfTables.registerAll(spark, base) }
    assert(jobs.isEmpty, s"registerAll started jobs $jobs")
    assert(views.size == OcsfMappings.routes.size, views)
    assert(spark.table("ocsf_dns_activity").schema == plainRead("DNS Activity").schema)
  }

  test("an empty changesSince runs no Spark job and serves the table's schema") {
    val base = lake // built before any job is counted
    val route = "DNS Activity"
    val dir = tableDir(route)
    val last = dir.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(new Path(dir, "_committed_batches")).map(_.getPath.getName)
      .filter(_.endsWith(".committed"))
      .flatMap(_.stripSuffix(".committed").toLongOption).max
    var delta: DataFrame = null
    val jobs = jobsIn { delta = OcsfTables.changesSince(spark, base, route, last) }
    assert(jobs.isEmpty, s"changesSince started jobs $jobs")
    assert(delta.schema == OcsfTables.load(spark, base, route).schema)
    assert(delta.collect().isEmpty)
  }

  test("a first file whose footer has no Spark schema key falls back to inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    import spark.implicits._
    val base = "file:" + Files.createTempDirectory("resolve-nokey")
    val route = "DNS Activity"
    IdempotentSink.writeBatch(Seq(("h1", 3)).toDF("host", "severity")
      .select(to_timestamp(lit("2023-11-14 12:00:00")).as("time"), col("host"),
        col("severity")), base, route, "us-east-1", "123456789012", batchId = 0L,
      filesPerDay = 1)
    val dir = new Path(s"$base/${OcsfSink.tableName(route)}")
    val conf = spark.sessionState.newHadoopConf()
    val file = IdempotentSink.committedFiles(dir.getFileSystem(conf), dir).head
    assert(OcsfTables.footerSchema(conf, file).exists(_.fieldNames.toSeq ==
      Seq("time", "host", "severity")))
    // the same columns, written by plain parquet-hadoop: no Spark key
    val schema = MessageTypeParser.parseMessageType(
      """message m { optional int64 time (TIMESTAMP(MICROS,true));
        |  optional binary host (STRING); optional int32 severity; }""".stripMargin)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf).withType(schema).withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("time", 1699963200000000L).append("host", "h9").append("severity", 9))
    finally w.close()
    assert(OcsfTables.footerSchema(conf, file).isEmpty)
    val loaded = OcsfTables.load(spark, base, route)
    val plain = declaredRead(dir, Seq(file.toString))
    assert(loaded.schema == plain.schema)
    assert(partCols.forall(loaded.schema(_).dataType == StringType), loaded.schema)
    assert(rows(loaded) == rows(plain))
    assert(loaded.select("host", "severity").as[(String, Int)].collect().toSeq ==
      Seq(("h9", 9)))
  }

  test("every read path serves the partition columns as the strings the paths hold") {
    import spark.implicits._
    val route = "DNS Activity"
    def batch(rows: (String, String, Int)*): DataFrame = rows.toDF("uid", "day", "severity")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"), col("severity"))
    val stringParts = StructType(partCols.map(StructField(_, StringType)))
    Seq("000011112222", "123456789012").foreach { acct =>
      val base = Files.createTempDirectory(s"resolve-parts-$acct").toString
      Seq(batch(("e0", "2023-11-14", 1), ("e1", "2023-11-15", 2)),
          batch(("e2", "2023-11-15", 1), ("e3", "2023-11-14", 2))).zipWithIndex
        .foreach { case (df, b) =>
          IdempotentSink.writeBatch(df, base, route, "us-east-1", acct, batchId = b.toLong,
            filesPerDay = 1)
        }
      val want = Set(("us-east-1", acct, "20231114"), ("us-east-1", acct, "20231115"))
      val schema = OcsfTables.load(spark, base, route).schema
      def check(what: String, df: DataFrame, full: Boolean = true): Unit = {
        if (full) assert(df.schema == schema, s"$acct $what: ${df.schema}")
        val parts = df.select(partCols.map(col): _*)
        assert(parts.schema == stringParts, s"$acct $what: ${parts.schema}")
        val got = parts.distinct().collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2))).toSet
        assert(got == want, s"$acct $what: $got")
      }
      check("load", OcsfTables.load(spark, base, route))
      assert(OcsfTables.registerAll(spark, base) == Seq("ocsf_dns_activity"))
      check("registerAll", spark.table("ocsf_dns_activity"))
      check("loadWhere", OcsfTables.loadWhere(spark, base, route, "severity >= 1"))
      check("loadAsOf", OcsfTables.loadAsOf(spark, base, route, 1L))
      check("changesSince", OcsfTables.changesSince(spark, base, route, 0L))
      val db = s"resolve_parts_$acct"
      OcsfTables.registerCatalog(spark, base, db)
      // the catalog serves the frozen DDL's columns, not this batch's
      check("registerCatalog", spark.sql(s"SELECT * FROM $db.dns_activity"), full = false)
      val dir = new Path(s"$base/${OcsfSink.tableName(route)}")
      assert(IdempotentSink.compactDataFiles(spark, dir) == 2)
      check("compactDataFiles", OcsfTables.load(spark, base, route))
      assert(OcsfTables.deleteWhere(spark, base, route, "severity = 2") == 2L)
      check("deleteWhere", OcsfTables.load(spark, base, route))
    }
  }

  test("a warm round of the lake query shapes compiles nothing") {
    val table = (route: String) => OcsfTables.load(spark, lake, route)
    def round(): Long = {
      val before = GraftSession.codegenCompiles
      OcsfLakeQueries.shapes.toSeq.sortBy(_._1).foreach { case (_, q) => q(table).collect() }
      GraftSession.codegenCompiles - before
    }
    assert(OcsfLakeQueries.shapes.size == 9)
    val cold = round()
    val warm = round()
    assert(warm == 0, s"warm round compiled $warm classes (cold round: $cold)")
  }
}
