package graft.ocsf

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.FdrSource

/** End-to-end OCSF pipeline specs on a synthetic gz JSON-lines fixture
  * (A1–A23). Expected values are hand-derived from the reference
  * semantics (qopcfdr_stream_loader.py), not from running it. */
class OcsfPipelineSpec extends SparkSpec {

  /** Writes JSON lines gzipped, as FDR lands them in S3. */
  def writeGz(dir: Path, name: String, lines: Seq[String]): Unit = {
    val f = dir.resolve(name).toFile
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), "UTF-8"))
    lines.foreach { l => w.write(l); w.write("\n") }
    w.close()
  }

  // 1700000000 s = 2023-11-14T22:13:20Z; 1700000000123 ms adds .123
  val fixtureLines = Seq(
    // ProcessRollup2: full process fields, ms timestamp, Win platform
    """{"event_simpleName":"ProcessRollup2","name":"ProcessRollup2V19","aid":"aid-1","cid":"cid-1","id":"evt-1","aip":"1.2.3.4","timestamp":"1700000000123","event_platform":"Win","ConfigBuild":"1007.3.0016606.11","ImageFileName":"\\Device\\HarddiskVolume3\\Windows\\System32\\cmd.exe","CommandLine":"cmd.exe /c whoami","SHA256HashData":"a1b2","MD5HashData":"c3d4","RawProcessId":"4242","SourceProcessId":"111","ParentProcessId":"222","ParentBaseFileName":"explorer.exe","ParentCommandLine":"explorer.exe","ExtraKey":"extra-value"}""",
    // NetworkConnectIP4 via event_type key (3-key coalesce), seconds ts
    """{"event_type":"NetworkConnectIP4","name":"NetworkConnectIP4V10","aid":"aid-2","cid":"cid-2","id":"evt-2","aip":"5.6.7.8","timestamp":"1700000000","event_platform":"Lin","LocalPort":"5555","RemotePort":"443","RemoteAddressIP4":"93.184.216.34","LocalAddressIP4":"10.0.0.5","ConnectionDirection":"0"}""",
    // DnsRequest via EventType key, Mac platform
    """{"EventType":"DnsRequest","name":"DnsRequestV4","aid":"aid-3","cid":"cid-3","id":"evt-3","timestamp":"1700000001000","event_platform":"Mac","DomainName":"example.com","ContextBaseFileName":"curl"}""",
    // UserLogon: logon type + admin
    """{"event_simpleName":"UserLogon","name":"UserLogonV10","aid":"aid-4","cid":"cid-4","id":"evt-4","timestamp":"1700000002000","event_platform":"Win","UserName":"alice","UserSid":"S-1-5-21","LogonType":"10","UserIsAdmin":"1"}""",
    // HttpRequest: method decimal 3 = Post; its status mapping is
    // "Unknown" (the 777 Override sentinel is on its ACTIVITY), so the
    // 404 does NOT flip its status
    """{"event_simpleName":"HttpRequest","name":"HttpRequestV1","aid":"aid-5","cid":"cid-5","id":"evt-5","timestamp":"1700000003000","event_platform":"Lin","HttpMethod":"3","HttpHost":"api.example.com","HttpPath":"/v1/things","HttpStatus":"404"}""",
    // HttpResponse: status mapping IS "Override" → 404 → Failure
    """{"event_simpleName":"HttpResponse","name":"HttpResponseV1","aid":"aid-5b","cid":"cid-5b","id":"evt-5b","timestamp":"1700000003500","event_platform":"Lin","HttpStatus":"404"}""",
    // Event_ExternalApiEvent: different shape, routed to extApi
    """{"event_simpleName":"Event_ExternalApiEvent","ExternalApiType":"Event_AuthActivityAuditEvent","UTCTimestamp":"1700000004","UserIp":"9.9.9.9","AgentIdString":"aid-6","cid":"cid-6","UserId":"user@example.com","CustomerIdString":"cust-1","AuditKeyValues":[{"Key":"request_method","ValueString":"GET"},{"Key":"status_code","ValueString":"200"},{"Key":"trace_id","ValueString":"trace-1"},{"Key":"request_path","ValueString":"/oauth2/token"}]}""",
    // unmapped event type → dropped
    """{"event_simpleName":"TotallyUnknownEvent","timestamp":"1700000005000"}""",
    // no event key at all → dropped
    """{"name":"mystery","timestamp":"1700000006000"}"""
  )

  lazy val tmpDir: Path = Files.createTempDirectory("fdr-fixture")
  lazy val classified = {
    writeGz(tmpDir, "part-0001.gz", fixtureLines)
    FdrSource.load(spark, tmpDir.toString).cache()
  }

  test("A1-A4: gz json-lines read, 3-key coalesce, 122-filter, routing") {
    assert(classified.count() == 7) // 9 lines - 1 unmapped - 1 keyless
    val names = classified.select("event_name").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    assert(names == Set("ProcessRollup2", "NetworkConnectIP4", "DnsRequest",
      "UserLogon", "HttpRequest", "HttpResponse", "Event_ExternalApiEvent"))
    val routes = classified.select("route").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSet
    // extApi is its own route even though the JSON maps it to HTTP Activity
    assert(routes.contains(OcsfMappings.ExtApiRoute))
    assert(classified.filter(col("event_name") === "Event_ExternalApiEvent")
      .select("route").head().getString(0) == "extApi")
  }

  test("A5: epoch seconds-or-ms autodetect matches reference semantics") {
    val df = spark.range(1).select(
      Normalizers.epochToTimestamp(lit("1700000000")).cast("string").as("s"),
      Normalizers.epochToTimestamp(lit("1700000000123")).cast("string").as("ms"),
      Normalizers.epochToTimestamp(lit("893383659000")).cast("string").as("dflt"))
    val r = df.head()
    assert(r.getString(0) == "2023-11-14 22:13:20")
    assert(r.getString(1) == "2023-11-14 22:13:20.123")
    assert(r.getString(2) == "1998-04-24 02:07:39") // reference's default sentinel
  }

  test("A11: process activity normalization") {
    val out = Normalizers.processActivity(
      classified.filter(col("route") === "Process Activity"))
    val r = out.head()
    assert(out.count() == 1)
    assert(r.getAs[String]("class_name") == "Process Activity")
    assert(r.getAs[Int]("class_uid") == 1007)
    assert(r.getAs[Int]("activity_id") == 3)     // ProcessRollup2 → Open
    assert(r.getAs[Int]("type_uid") == 100703)   // 1007*100+3
    assert(r.getAs[String]("type_name") == "Process Activity: Open")
    val proc = r.getAs[org.apache.spark.sql.Row]("process")
    assert(proc.getAs[Long]("pid") == 4242L)
    assert(proc.getAs[String]("uid") == "111")
    assert(proc.getAs[org.apache.spark.sql.Row]("file").getAs[String]("name").endsWith("cmd.exe"))
    val device = r.getAs[org.apache.spark.sql.Row]("device")
    assert(device.getAs[org.apache.spark.sql.Row]("os").getAs[Int]("type_id") == 100)
    // unmapped keeps only unconsumed keys (the reference never strips
    // the event-name key itself, so it stays too)
    val unmapped = r.getAs[Map[String, String]]("unmapped")
    assert(unmapped.keySet == Set("event_simpleName", "ExtraKey"))
    // observables: 7 process + 3 device = 10 present values
    assert(r.getAs[scala.collection.Seq[_]]("observables").size == 10)
  }

  test("A12: network activity direction/protocol normalization") {
    val r = Normalizers.networkActivity(
      classified.filter(col("route") === "Network Activity")).head()
    val ci = r.getAs[org.apache.spark.sql.Row]("connection_info")
    assert(ci.getAs[String]("direction") == "Outbound")
    assert(ci.getAs[Int]("direction_id") == 2)
    assert(ci.getAs[String]("protocol_ver") == "Internet Protocol version 4 (IPv4)")
    val dst = r.getAs[org.apache.spark.sql.Row]("dst_endpoint")
    assert(dst.getAs[String]("ip") == "93.184.216.34")
    assert(dst.getAs[Int]("port") == 443)
    val srcOs = r.getAs[org.apache.spark.sql.Row]("src_endpoint")
      .getAs[org.apache.spark.sql.Row]("os")
    assert(srcOs.getAs[Int]("type_id") == 200) // Lin
  }

  test("A15: dns activity keeps ContextBaseFileName in unmapped") {
    val r = Normalizers.dnsActivity(
      classified.filter(col("route") === "DNS Activity")).head()
    assert(r.getAs[org.apache.spark.sql.Row]("query").getAs[String]("hostname") == "example.com")
    assert(r.getAs[Map[String, String]]("unmapped").contains("ContextBaseFileName"))
    assert(r.getAs[Int]("class_uid") == 4003)
  }

  test("A16: authentication logon type / admin user type") {
    val r = Normalizers.authentication(
      classified.filter(col("route") === "Authentication")).head()
    assert(r.getAs[String]("logon_type") == "Remote Interactive")
    assert(r.getAs[Int]("logon_type_id") == 10)
    val user = r.getAs[org.apache.spark.sql.Row]("user")
    assert(user.getAs[String]("name") == "alice")
    assert(user.getAs[Int]("type_id") == 2) // admin
    assert(r.getAs[Int]("activity_id") == 1) // UserLogon → Logon
    // reference quirk: LogonType is read but never deleted (py:2245),
    // so it stays in unmapped
    assert(r.getAs[Map[String, String]]("unmapped").contains("LogonType"))
  }

  test("A10: http activity method decode + status override") {
    val out = Normalizers.httpActivity(
      classified.filter(col("route") === "HTTP Activity"))
    val byName = out.collect().map(r => r.getAs[org.apache.spark.sql.Row]("metadata")
      .getAs[String]("log_name") -> r).toMap
    val req = byName("HttpRequest")
    assert(req.getAs[String]("activity_name") == "Post")
    assert(req.getAs[Int]("activity_id") == 6)
    // HttpRequest's status mapping is "Unknown", not "Override" → 404
    // does not flip it (faithful to py:1312-1325)
    assert(req.getAs[String]("status") == "Unknown")
    val hr = req.getAs[org.apache.spark.sql.Row]("http_request")
    assert(hr.getAs[String]("http_method") == "POST")
    assert(hr.getAs[org.apache.spark.sql.Row]("url").getAs[String]("hostname") == "api.example.com")
    // HttpStatus stays in unmapped (reference never dels it)
    assert(req.getAs[Map[String, String]]("unmapped").contains("HttpStatus"))
    val resp = byName("HttpResponse")
    assert(resp.getAs[String]("status") == "Failure") // Override + 404
    assert(resp.getAs[Int]("status_id") == 2)
    assert(resp.getAs[Int]("activity_id") == 0) // mapping: Unknown
  }

  test("extApi: AuditKeyValues extraction on the 13th route") {
    val r = Normalizers.externalApiEvent(
      classified.filter(col("route") === OcsfMappings.ExtApiRoute)).head()
    assert(r.getAs[String]("activity_name") == "Get")
    assert(r.getAs[Int]("activity_id") == 3)
    assert(r.getAs[String]("status") == "Success") // 200
    assert(r.getAs[String]("message") == "Event_AuthActivityAuditEvent")
    val meta = r.getAs[org.apache.spark.sql.Row]("metadata")
    assert(meta.getAs[String]("uid") == "trace-1")
    val src = r.getAs[org.apache.spark.sql.Row]("src_endpoint")
    assert(src.getAs[String]("ip") == "9.9.9.9")
    assert(src.getAs[org.apache.spark.sql.Row]("owner")
      .getAs[org.apache.spark.sql.Row]("account").getAs[String]("uid") == "cust-1")
  }

  test("A22-A23: Security-Lake layout fan-out") {
    val outDir = Files.createTempDirectory("ocsf-out")
    OcsfSink.fanOutIdempotent(classified, outDir.toString, "us-east-1", "123456789012",
      runId = 1L)
    val process = outDir.resolve("process_activity")
      .resolve("region=us-east-1").resolve("accountId=123456789012")
      .resolve("eventDay=20231114")
    assert(Files.exists(process), s"expected $process")
    // re-read round-trips
    val back = spark.read.parquet(outDir.resolve("process_activity").toString)
    assert(back.count() == 1)
    // partition inference types eventDay as int on read-back
    assert(back.select(col("eventDay").cast("string")).head().getString(0) == "20231114")
    // one file per partition (repartition before partitionBy)
    val files = Files.list(process).toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.length == 1, s"expected 1 file, got ${files.length}")
  }

  test("A23: routeClustered confines each route to tasksPerRoute partitions, loses nothing") {
    val clustered = OcsfSink.routeClustered(classified, tasksPerRoute = 2)
    assert(clustered.rdd.getNumPartitions == graft.ocsf.OcsfMappings.routes.size * 2)
    assert(clustered.count() == classified.count())
    // hash partitioning on (route, salt∈[0,2)) → each route meets at
    // most 2 partitions, so a route-filtered rescan of the cache can
    // prune everything else via per-batch stats
    import org.apache.spark.sql.functions.{countDistinct, spark_partition_id}
    val spread = clustered
      .withColumn("pid", spark_partition_id()) // project first: not allowed inside agg
      .groupBy(col("route"))
      .agg(countDistinct(col("pid")).as("parts"))
      .agg(org.apache.spark.sql.functions.max(col("parts"))).head().getLong(0)
    assert(spread <= 2, s"a route spans $spread partitions, expected <= 2")
    // fan-out from the clustered relation lands the same rows
    val outDir = Files.createTempDirectory("ocsf-out-clustered")
    OcsfSink.fanOutIdempotent(clustered, outDir.toString, "us-east-1", "123456789012",
      runId = 1L)
    val back = spark.read.parquet(outDir.resolve("process_activity").toString)
    assert(back.count() == 1)
  }

  test("A3-A4: map-lookup classify keeps the dimension join's column contract") {
    import org.apache.spark.sql.types._
    // the columns the join against OcsfMappings.dimension produced:
    // the parsed relation's, then the dimension's minus its key
    val expected = StructType(Seq(
      StructField("raw", StringType),
      StructField("fields", MapType(StringType, StringType)),
      StructField("event_name", StringType)) ++
      OcsfMappings.dimension(spark).drop("eventName").schema.fields)
    assert(classified.schema == expected, classified.schema.treeString)
    // same values as the dimension row of each event
    val dim = OcsfMappings.dimension(spark).withColumnRenamed("eventName", "event_name")
    val viaDim = classified.select("event_name").join(dim, "event_name")
      .select(classified.columns.filterNot(Set("raw", "fields")).map(col).toSeq: _*)
    assert(classified.drop("raw", "fields").exceptAll(viaDim).isEmpty)
    assert(viaDim.exceptAll(classified.drop("raw", "fields")).isEmpty)
  }

  test("A3-A4: quarantine by reason on the fixture is unchanged by the lookup") {
    val q = FdrSource.loadWithQuarantine(spark, tmpDir.toString)
    assert(q.classified.count() == classified.count())
    val reasons = q.quarantined.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons == Map("unmapped_event" -> 1L, "missing_event_key" -> 1L), reasons)
  }

  test("A23: the classified plan's size estimate tracks the parsed input") {
    classified // lands the fixture
    def est(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parsed = est(FdrSource.readJsonLines(spark, tmpDir.toString))
    val batch = est(FdrSource.load(spark, tmpDir.toString).drop("raw"))
    assert(batch <= parsed * 8, s"classified $batch vs parsed $parsed")
    // the streaming fan-out sizes its cache inside foreachBatch, where
    // the batch carries the planned micro-batch's estimate
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(BigInt, Int, Long)]()
    val ckpt = Files.createTempDirectory("ocsf-est-ckpt")
    graft.streaming.EventStream.readClassified(spark, tmpDir.toString).writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val clustered = OcsfSink.routeClustered(b.drop("raw"))
        seen.add((est(b.drop("raw")), clustered.rdd.getNumPartitions, clustered.count()))
        ()
      }
      .start().awaitTermination()
    assert(seen.size == 1)
    val (streamEst, parts, rows) = seen.peek()
    assert(streamEst <= parsed * 8, s"foreachBatch $streamEst vs parsed $parsed")
    assert(parts == 1 && rows == classified.count())
  }

  test("A23: cache partition sizing — tiny → 1, capped, monotone, 26 at 1M events") {
    val routes = OcsfMappings.routes.size
    def p(est: BigInt) = OcsfSink.clusterPartitions(est, routes)
    assert(p(0) == 1 && p(32L << 10) == 1)
    assert(p(BigInt(1) << 50) == routes * 64)
    val ests = (0 to 40).map(i => BigInt(1) << i) ++ (1 to 200).map(i => BigInt(i) * 5000000)
    val ps = ests.sorted.map(p)
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, "not monotone")
    assert(ps.forall(n => n >= 1 && n <= routes * 64))
    // EtlBench's 1M-event corpus estimates ~192 MB classified
    assert(p(191899760L) == 26)
  }

  test("A23: routeClustered auto-sizes the fixture to one partition, loses nothing") {
    val clustered = OcsfSink.routeClustered(classified)
    assert(clustered.rdd.getNumPartitions == 1)
    assert(clustered.count() == classified.count())
    assert(clustered.select("raw").exceptAll(classified.select("raw")).isEmpty)
    // one partition holds every route, sorted by route so each cache
    // batch stays one route
    val routes = clustered.select("route").collect().map(_.getString(0)).toSeq
    assert(routes == routes.sorted)
  }

  test("A22: rows land time-sorted within each file (row-group pruning stats)") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("ocsf-sorted")
    // deliberately out of order within one day
    val times = Seq("2023-11-14 18:00:00", "2023-11-14 06:00:00",
      "2023-11-14 12:00:00", "2023-11-14 01:00:00")
    val df = times.zipWithIndex.toDF("t", "i")
      .select(struct(concat(lit("u"), col("i")).as("uid")).as("metadata"),
        to_timestamp(col("t")).as("time"))
    IdempotentSink.writeBatch(df, outDir.toString, "DNS Activity", "us-east-1",
      "123456789012", batchId = 1L, filesPerDay = 1)
    val day = outDir.resolve("dns_activity")
      .resolve("region=us-east-1").resolve("accountId=123456789012")
      .resolve("eventDay=20231114")
    val files = Files.list(day).toArray.map(_.toString).filter(_.endsWith(".parquet"))
    assert(files.length == 1)
    // parquet preserves row order within a file: ascending time means
    // tight per-row-group min/max stats for time-range skipping
    val back = spark.read.parquet(files.head)
      .select(col("time").cast("string")).collect().map(_.getString(0)).toSeq
    assert(back == back.sorted, s"rows must be time-ascending, got $back")
  }

  test("A22: filesPerDay auto-derives from plan size, 1 for tiny inputs") {
    val df = Normalizers.processActivity(
      classified.filter(col("route") === "Process Activity"))
    assert(OcsfSink.autoFilesPerDay(df) == 1)
    // a 1 KB chunk target forces fan-out even on the fixture
    assert(OcsfSink.autoFilesPerDay(df, targetChunkBytes = 1024) > 1)
  }

  test("A22: salted write spreads a hot day across filesPerDay files") {
    val outDir = Files.createTempDirectory("ocsf-salted")
    IdempotentSink.writeBatch(
      Normalizers.processActivity(classified.filter(col("route") === "Process Activity")),
      outDir.toString, "Process Activity", "us-east-1", "123456789012",
      batchId = 1L, filesPerDay = 3)
    val day = outDir.resolve("process_activity")
      .resolve("region=us-east-1").resolve("accountId=123456789012")
      .resolve("eventDay=20231114")
    assert(Files.exists(day))
    // 1 row can't fill 3 files, but layout must be unchanged and readable
    val back = spark.read.parquet(outDir.resolve("process_activity").toString)
    assert(back.count() == 1)
    assert(!back.columns.contains("salt"), "salt must not leak into the schema")
  }

  test("lake read-back: OcsfTables registers views and SQL prunes partitions") {
    val outDir = Files.createTempDirectory("ocsf-lake")
    OcsfSink.fanOutIdempotent(classified, outDir.toString, "eu-west-1", "000011112222",
      runId = 1L)
    val views = OcsfTables.registerAll(spark, outDir.toString)
    assert(views.contains("ocsf_dns_activity"), views.toString)
    val n = spark.sql(
      """SELECT count(*) FROM ocsf_dns_activity
        |WHERE eventDay = 20231114 AND class_uid = 4003""".stripMargin)
      .head().getLong(0)
    assert(n == 1)
    // the partition filter must prune, not post-filter: PartitionFilters
    val plan = spark.sql(
      "SELECT * FROM ocsf_dns_activity WHERE eventDay = 20231114")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(eventDay"), plan)
  }

  test("normalizeAll covers all 13 routes") {
    val all = Normalizers.normalizeAll(classified)
    assert(all.keySet.size == 13)
    assert(all.keySet == OcsfMappings.routes.toSet)
    // every route's plan is executable even when empty
    all.foreach { case (_, df) => df.count() }
  }

  test("A23: fan-out admission control staggers only oversized batches") {
    val G = 1L << 30; val M = 1L << 20
    def admit(heap: Long, cached: Long, batch: Long, fpd: Int = 3) =
      OcsfSink.admittedRoutes(heap, cached, rowGroupBytes = 128 * M,
        batchBytes = BigInt(batch), filesPerDay = fpd, nRoutes = 13)
    // the steady 1M-event bench shape: small batch, admission is a
    // no-op — all 13 routes run wide (the 86-102k ev/s path must not
    // regress from this lever existing)
    assert(admit(8 * G, 200 * M, 150 * M) == 13)
    // the 4M/8g serialized-cache shape (149k ev/s): still full width
    assert(admit(8 * G, 600 * M, 600 * M) == 13)
    // the 32M/8g cliff (BASELINE.md r12: OOM in ParquetWriteSupport):
    // ~2.4 g pool-pinned cache + a multi-GB batch must stagger hard
    val cliff = admit(8 * G, (2.4 * G).toLong, 6 * G)
    assert(cliff >= 1 && cliff <= 3, s"cliff shape admitted $cliff routes")
    // same corpus on a 24 g heap: wide again (the clean-run shape)
    assert(admit(24 * G, 5 * G, 6 * G) >= 7)
    // floors: a saturated storage pool still admits at least one route
    assert(admit(8 * G, 8 * G, 32 * G) == 1)
    // and the cap never exceeds the route count
    assert(admit(512 * G, 0, 1 * M) == 13)
    // the live wrapper agrees with the pure arithmetic on a real frame
    val width = OcsfSink.autoConcurrentRoutes(spark,
      classified.queryExecution.optimizedPlan.stats.sizeInBytes, filesPerDay = 3,
      nRoutes = 13)
    assert(width >= 1 && width <= 13)
  }

  test("A23: a warm fan-out compiles nothing — the codegen cache holds every route") {
    // one fan-out needs more distinct generated classes than Spark's
    // default 100-entry cache holds; compiled in the same order every
    // run, an undersized LRU evicts each class before its reuse
    val clustered = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(classified.drop("raw")))
    clustered.count()
    val outDir = Files.createTempDirectory("ocsf-warm-fanout").toString
    def compiles(runId: Long): Long = {
      val before = graft.GraftSession.codegenCompiles
      OcsfSink.fanOutIdempotent(clustered, outDir, "us-east-1", "123456789012", runId)
      graft.GraftSession.codegenCompiles - before
    }
    try {
      val cold = compiles(1L)
      val warm = compiles(2L)
      assert(warm <= 2, s"warm fan-out compiled $warm classes (cold run: $cold)")
    } finally { clustered.unpersist(); () }
  }

  test("A22: a one-file-per-day route write adds no exchange; the salted one adds its own") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = Normalizers.processActivity(
      OcsfSink.routeClustered(classified, tasksPerRoute = 2)
        .filter(col("route") === "Process Activity"))
    def shuffles(filesPerDay: Int): Int = {
      val plan: SparkPlan = OcsfSink.partitionedFrame(df, "us-east-1",
        "123456789012", filesPerDay).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      plan.collect { case e: ShuffleExchangeExec => e }.size
    }
    // the cache layout's own repartition is the one exchange below the
    // route's filter; the write adds none at one file per day
    assert(shuffles(1) == 1)
    assert(shuffles(3) == 2)
  }

  /** 260 lines over every route and three days, times scrambled
    * within each day. */
  lazy val multiDayLines: Seq[String] = {
    val day0 = 1700006400L // 2023-11-15T00:00:00Z
    (0L until 260L).map { i =>
      val ts = (day0 + (i % 3) * 86400 + (i * 7919) % 86400) * 1000
      graft.EtlBench.line(i)
        .replace(s""""timestamp":"${1700000000000L + i}"""", s""""timestamp":"$ts"""")
        .replace(s""""UTCTimestamp":"${(1700000000000L + i) / 1000}"""",
          s""""UTCTimestamp":"${ts / 1000}"""")
    }
  }

  /** Every route's committed rows under `outDir` by `metadata.uid`,
    * after checking that each route holds exactly one time-sorted
    * file per eventDay of [[multiDayLines]]. */
  def committedMultiDayUids(outDir: String): Map[String, Seq[String]] = {
    val conf = spark.sessionState.newHadoopConf()
    OcsfMappings.routes.map { route =>
      val table = new org.apache.hadoop.fs.Path(s"$outDir/${OcsfSink.tableName(route)}")
      val files = IdempotentSink.committedFiles(table.getFileSystem(conf), table)
      val byDay = files.groupBy(_.getParent.getName)
      assert(byDay.keySet == Set("eventDay=20231115", "eventDay=20231116",
        "eventDay=20231117"), s"$route: ${files.mkString(", ")}")
      assert(byDay.values.forall(_.size == 1), s"$route: ${files.mkString(", ")}")
      route -> files.flatMap { file =>
        val rows = spark.read.parquet(file.toString).select("time", "metadata.uid")
          .collect().toSeq
        val times = rows.map(_.getTimestamp(0).getTime)
        assert(times == times.sorted, s"$route: $file is not time-sorted")
        rows.map(_.getString(1))
      }
    }.toMap
  }

  test("A22: at P > 1 cache partitions each route lands one time-sorted file per eventDay") {
    val landing = Files.createTempDirectory("ocsf-multiday")
    writeGz(landing, "part-0001.gz", multiDayLines)
    val clustered = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, landing.toString).drop("raw"), tasksPerRoute = 2))
    val expected = clustered.groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clustered.rdd.getNumPartitions == 26)
    assert(expected.keySet == OcsfMappings.routes.toSet && expected.values.sum == 260)
    val outDir = Files.createTempDirectory("ocsf-multiday-out").toString
    try OcsfSink.fanOutIdempotent(clustered, outDir, "us-east-1", "123456789012", runId = 1L)
    finally { clustered.unpersist(); () }
    committedMultiDayUids(outDir).foreach { case (route, uids) =>
      assert(uids.size == expected(route), s"$route lost rows")
    }
  }

  test("A22: a salted route write (filesPerDay = 3) lands only time-sorted files") {
    val landing = Files.createTempDirectory("ocsf-salted")
    writeGz(landing, "part-0001.gz", multiDayLines)
    val cached = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, landing.toString).drop("raw")))
    val outDir = Files.createTempDirectory("ocsf-salted-out").toString
    // AQE would coalesce this tiny shuffle back to one file per day
    val coalesceConf = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesceConf, "false")
    try {
      cached.count()
      OcsfSink.fanOutIdempotent(cached, outDir, "us-east-1", "123456789012",
        runId = 1L, filesPerDay = 3)
    } finally { cached.unpersist(); spark.conf.set(coalesceConf, "true") }
    val conf = spark.sessionState.newHadoopConf()
    val files = OcsfMappings.routes.flatMap { route =>
      val table = new org.apache.hadoop.fs.Path(s"$outDir/${OcsfSink.tableName(route)}")
      IdempotentSink.committedFiles(table.getFileSystem(conf), table)
    }
    val perFile = files.map { file =>
      val times = spark.read.parquet(file.toString).select("time").collect()
        .map(_.getTimestamp(0).getTime).toSeq
      times.size -> times.zip(times.drop(1)).count { case (a, b) => a > b }
    }
    assert(perFile.map(_._1).sum == 260)
    assert(files.size > 3 * OcsfMappings.routes.size, files.size)
    assert(perFile.map(_._2).sum == 0, s"time descents per file: ${perFile.map(_._2)}")
  }

  test("A24: stream and batch fan-outs land the same rows in the same layout") {
    val landing = Files.createTempDirectory("ocsf-parity")
    writeGz(landing, "part-0001.gz", multiDayLines)
    val streamOut = Files.createTempDirectory("ocsf-parity-stream").toString
    graft.streaming.EventStream.start(spark, landing.toString, streamOut,
      Files.createTempDirectory("ocsf-parity-ckpt").toString, "us-east-1",
      "123456789012", trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .awaitTermination()
    val batchOut = Files.createTempDirectory("ocsf-parity-batch").toString
    val cached = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, landing.toString).drop("raw")))
    try {
      cached.count()
      OcsfSink.fanOutIdempotent(cached, batchOut, "us-east-1", "123456789012", runId = 1L)
    } finally { cached.unpersist(); () }
    val viaStream = committedMultiDayUids(streamOut)
    val viaBatch = committedMultiDayUids(batchOut)
    assert(viaStream.values.map(_.size).sum == 260)
    OcsfMappings.routes.foreach { route =>
      assert(viaStream(route).toSet == viaBatch(route).toSet, route)
      assert(viaStream(route).size == viaBatch(route).size, route)
    }
  }

  test("A23: a timed-out fan-out names its stuck routes; a rerun of its runId lands each row once") {
    import scala.concurrent.duration.DurationInt
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
      SparkListenerJobStart}
    val cached = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(classified.drop("raw")))
    val outDir = Files.createTempDirectory("ocsf-timeout").toString
    try {
      val expected = cached.groupBy("route").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val ex = intercept[java.util.concurrent.TimeoutException] {
        OcsfSink.fanOutIdempotent(cached, outDir, "us-east-1", "123456789012",
          runId = 1L, timeout = 1.millis)
      }
      assert(ex.getMessage.contains("stuck routes: "), ex.getMessage)
      val stuck = ex.getMessage.split("stuck routes: ")(1).split(", ").toSet
      assert(stuck.nonEmpty && stuck.subsetOf(OcsfMappings.routes.toSet), ex.getMessage)
      OcsfSink.fanOutIdempotent(cached, outDir, "us-east-1", "123456789012", runId = 1L)
      val conf = spark.sessionState.newHadoopConf()
      def landedExactlyOnce(): Unit = OcsfMappings.routes.foreach { route =>
        val table = new org.apache.hadoop.fs.Path(s"$outDir/${OcsfSink.tableName(route)}")
        val files = IdempotentSink.committedFiles(table.getFileSystem(conf), table)
        val uids = files.flatMap(f => spark.read.parquet(f.toString)
          .select("metadata.uid").collect().map(_.getString(0)))
        assert(uids.size == expected.getOrElse(route, 0L), s"$route: $uids")
        assert(uids.distinct.size == uids.size, s"$route: duplicate uids $uids")
      }
      landedExactlyOnce()
      // the timed-out attempts finish on their own pool threads; each
      // must have been fenced by the replay's generation token: nothing
      // more lands, and no in-flight bookkeeping is left behind
      def fanOutThreads = Thread.getAllStackTraces.keySet.toArray
        .map(_.asInstanceOf[Thread]).filter(_.getName.startsWith("graft-fanout-"))
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (fanOutThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      landedExactlyOnce()
      assert(!IdempotentSink.bookkeepingKeys.exists(_.contains(outDir)),
        IdempotentSink.bookkeepingKeys)

      // wedged writes: every row's filter holds its task for a minute
      // unless the task is killed. The timeout cancels the call's tagged
      // route jobs: each ends long before its minute, none succeeds, and
      // no tagged job starts once the call's bodies have finished
      val wedge = udf { (_: String) =>
        val task = org.apache.spark.TaskContext.get()
        val until = System.nanoTime() + 60L * 1000000000L
        while (!task.isInterrupted() && System.nanoTime() < until) Thread.sleep(20)
        true
      }
      val started = new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]()
      val ended = new java.util.concurrent.ConcurrentHashMap[Int, (Boolean, Long)]()
      val jobs = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          started.put(e.jobId, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.tags")))
            .map(_.split(',').toSet).getOrElse(Set.empty))
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          ended.put(e.jobId, (e.jobResult == JobSucceeded, e.time))
      }
      val wedgedDir = Files.createTempDirectory("ocsf-timeout-wedged").toString
      spark.sparkContext.addSparkListener(jobs)
      try {
        val wedged = intercept[java.util.concurrent.TimeoutException] {
          OcsfSink.fanOutIdempotent(cached.filter(wedge(col("route"))), wedgedDir,
            "us-east-1", "123456789012", runId = 1L, timeout = 1.millis)
        }
        val thrownAt = System.currentTimeMillis()
        val tag = "job tag (\\S+)\\)".r.findFirstMatchIn(wedged.getMessage)
          .map(_.group(1)).getOrElse(fail(s"no job tag in: ${wedged.getMessage}"))
        def tagged = started.asScala.collect { case (id, tags) if tags(tag) => id }.toSet
        val settle = System.nanoTime() + 40L * 1000000000L
        while ((fanOutThreads.nonEmpty || !tagged.forall(ended.containsKey)) &&
            System.nanoTime() < settle) Thread.sleep(50)
        assert(fanOutThreads.isEmpty, "the timed-out call's bodies still run after 40 s")
        val settled = tagged
        assert(settled.nonEmpty && settled.forall(ended.containsKey),
          s"tagged jobs $settled, ended ${ended.keySet}")
        val slow = settled.filter(id => ended.get(id)._2 - thrownAt > 30000L)
        assert(slow.isEmpty, s"tagged jobs ran on for over 30 s after the timeout: $slow")
        assert(!settled.exists(id => ended.get(id)._1), "a cancelled route job succeeded")
        Thread.sleep(1000)
        assert(tagged == settled, "a tagged job started after the call settled")
      } finally spark.sparkContext.removeSparkListener(jobs)
      // the replay lands the wedged call's batch and leaves no bookkeeping
      OcsfSink.fanOutIdempotent(cached, wedgedDir, "us-east-1", "123456789012", runId = 1L)
      assert(!IdempotentSink.bookkeepingKeys.exists(_.contains(wedgedDir)),
        IdempotentSink.bookkeepingKeys)
    } finally { cached.unpersist(); () }
  }
}
