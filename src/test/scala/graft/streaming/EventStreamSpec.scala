package graft.streaming

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ocsf.Normalizers

/** A24 — streaming ingestion: the file-source stream discovers landed
  * gz objects, normalizes, and writes partitioned parquet exactly-once
  * via checkpoint. Uses AvailableNow so the test drains and stops. */
class EventStreamSpec extends SparkSpec {

  def writeGz(dir: Path, name: String, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(dir.resolve(name).toFile)), "UTF-8"))
    lines.foreach { l => w.write(l); w.write("\n") }
    w.close()
  }

  test("stream: land gz → normalized partitioned parquet with checkpoint") {
    val landing = Files.createTempDirectory("stream-landing")
    val out     = Files.createTempDirectory("stream-out")
    val ckpt    = Files.createTempDirectory("stream-ckpt")
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a1","cid":"c1","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"one.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a2","cid":"c2","id":"e2","timestamp":"1700086400000","event_platform":"Lin","DomainName":"two.example.com"}"""))

    val classified = EventStream.readClassified(spark, landing.toString)
    val q = Normalizers.byRoute("DNS Activity")(
        classified.filter(col("route") === "DNS Activity"))
      .withColumn("region", lit("us-east-1"))
      .withColumn("accountId", lit("123456789012"))
      .withColumn("eventDay", date_format(col("time"), "yyyyMMdd"))
      .writeStream
      .format("parquet")
      .option("path", s"$out/dns_activity")
      .option("checkpointLocation", s"$ckpt/dns_activity")
      .partitionBy("region", "accountId", "eventDay")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val back = spark.read.parquet(s"$out/dns_activity")
    assert(back.count() == 2)
    // two event days → two partitions
    val days = back.select(col("eventDay").cast("string"))
      .distinct().collect().map(_.getString(0)).sorted
    assert(days.toSeq == Seq("20231114", "20231115"))

    // restart with same checkpoint: no new data → no duplicates (exactly-once)
    val q2 = Normalizers.byRoute("DNS Activity")(
        EventStream.readClassified(spark, landing.toString)
          .filter(col("route") === "DNS Activity"))
      .withColumn("region", lit("us-east-1"))
      .withColumn("accountId", lit("123456789012"))
      .withColumn("eventDay", date_format(col("time"), "yyyyMMdd"))
      .writeStream
      .format("parquet")
      .option("path", s"$out/dns_activity")
      .option("checkpointLocation", s"$ckpt/dns_activity")
      .partitionBy("region", "accountId", "eventDay")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$out/dns_activity").count() == 2)
  }

  test("fan-out: ONE source scan feeds all route sinks, exactly-once on restart") {
    val landing = Files.createTempDirectory("stream-fanout")
    val out     = Files.createTempDirectory("stream-fanout-out")
    val ckpt    = Files.createTempDirectory("stream-fanout-ckpt")
    val routes  = Seq("DNS Activity", "Process Activity", "Network Activity")
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a1","cid":"c1","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"one.example.com"}""",
      """{"event_simpleName":"ProcessRollup2","name":"ProcessRollup2V19","aid":"a2","cid":"c2","id":"e2","timestamp":"1700000000123","event_platform":"Win","ImageFileName":"\\Device\\HarddiskVolume3\\Windows\\System32\\cmd.exe","RawProcessId":"42"}"""))
    writeGz(landing, "obj-2.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a3","cid":"c3","id":"e3","timestamp":"1700086400000","event_platform":"Lin","DomainName":"two.example.com"}""",
      """{"event_type":"NetworkConnectIP4","name":"NetworkConnectIP4V10","aid":"a4","cid":"c4","id":"e4","timestamp":"1700000000","event_platform":"Lin","LocalPort":"5555","RemotePort":"443","RemoteAddressIP4":"93.184.216.34"}"""))

    val q = EventStream.start(spark, landing.toString, out.toString, ckpt.toString,
      "us-east-1", "123456789012", routes, Trigger.AvailableNow())
    q.awaitTermination(180000)

    // single-pass: the one query's source read exactly the 4 landed
    // lines — a stream-per-route design would read 4 lines × 3 routes
    val inputRows = q.recentProgress.map(_.numInputRows).sum
    assert(inputRows == 4, s"expected 4 source rows read once, got $inputRows")

    assert(spark.read.parquet(s"$out/dns_activity").count() == 2)
    assert(spark.read.parquet(s"$out/process_activity").count() == 1)
    assert(spark.read.parquet(s"$out/network_activity").count() == 1)
    // partition layout intact (Security Lake contract)
    val days = spark.read.parquet(s"$out/dns_activity")
      .select(col("eventDay").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(days.toSeq == Seq("20231114", "20231115"))

    // restart on the same checkpoint with no new data: nothing re-written
    val q2 = EventStream.start(spark, landing.toString, out.toString, ckpt.toString,
      "us-east-1", "123456789012", routes, Trigger.AvailableNow())
    q2.awaitTermination(180000)
    assert(spark.read.parquet(s"$out/dns_activity").count() == 2)
    assert(spark.read.parquet(s"$out/process_activity").count() == 1)
    assert(spark.read.parquet(s"$out/network_activity").count() == 1)
  }

  test("streaming compaction folds the commit log without disturbing the rows") {
    val landing = Files.createTempDirectory("stream-compact")
    val out     = Files.createTempDirectory("stream-compact-out")
    val ckpt    = Files.createTempDirectory("stream-compact-ckpt")
    val routes  = Seq("DNS Activity")
    def dns(id: String, host: String) =
      s"""{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a-$id","cid":"c1","id":"$id","timestamp":"1700000000000","event_platform":"Lin","DomainName":"$host.example.com"}"""
    // three separate drains → batchIds 0, 1, 2; compactEvery=2 fires
    // inside batch 2 and folds the CHECKPOINTED batches 0 and 1 —
    // batch 2's own pair must survive (its streaming checkpoint has
    // not committed at compaction time; folding it would let a
    // crash-before-checkpoint replay double its rows)
    (0 until 3).foreach { b =>
      writeGz(landing, s"obj-$b.gz", Seq(dns(s"e$b", s"h$b")))
      val q = EventStream.start(spark, landing.toString, out.toString,
        ckpt.toString, "us-east-1", "123456789012", routes,
        Trigger.AvailableNow(), compactEvery = 2)
      q.awaitTermination(180000)
    }
    val cb = out.resolve("dns_activity/_committed_batches")
    val control = Files.list(cb).iterator()
    val names = Iterator.continually(control).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    assert(names == Seq("2.committed", "2.manifest",
      "compact-0.committed", "compact-0.manifest"),
      s"expected batches 0-1 folded and the in-flight batch 2 untouched, got $names")
    val rows = graft.ocsf.OcsfTables.load(spark, out.toString, "DNS Activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    assert(rows == Seq("e0", "e1", "e2"))
  }

  test("every streamed batch prunes as soon as it commits; loadWhere stays exact") {
    val landing = Files.createTempDirectory("stream-stats")
    val out     = Files.createTempDirectory("stream-stats-out")
    val ckpt    = Files.createTempDirectory("stream-stats-ckpt")
    val routes  = Seq("DNS Activity")
    def dns(id: String, host: String, ts: Long) =
      s"""{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a-$id","cid":"c1","id":"$id","timestamp":"$ts","event_platform":"Lin","DomainName":"$host.example.com"}"""
    // distinct per-batch time ranges so per-file stats CAN separate them
    (0 until 3).foreach { b =>
      writeGz(landing, s"obj-$b.gz",
        (0 until 4).map(i => dns(s"e$b-$i", s"h$b-$i",
          1700000000000L + b * 3600000L + i * 1000L)))
      val q = EventStream.start(spark, landing.toString, out.toString,
        ckpt.toString, "us-east-1", "123456789012", routes,
        Trigger.AvailableNow(), compactEvery = 2)
      q.awaitTermination(180000)
    }
    // the maintenance slot folded batches 0-1 at batch 2; every file,
    // the folded ones and batch 2's, carries its time stats
    val tableDir = new org.apache.hadoop.fs.Path(
      out.toString + "/dns_activity")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val total = graft.ocsf.IdempotentSink.committedFiles(fs, tableDir).size
    def kept(c: String) = graft.ocsf.OcsfTables.prunedFiles(spark, fs, tableDir, c).size
    assert(total == 3, s"$total committed files")
    assert(kept("time < timestamp'2020-01-01 00:00:00'") == 0,
      "every file must prune on its commit-time stats")
    assert(kept("time >= timestamp'2020-01-01 00:00:00'") == total)
    assert(kept("time < timestamp'2023-11-14 22:45:00'") < total)
    // exactness under the streamed stats: loadWhere == load().filter
    // for a none-matching, a some-matching, and an all-matching range
    // (counts left to the filter itself — session-timezone-agnostic)
    def uidsWhere(c: String) =
      graft.ocsf.OcsfTables.loadWhere(spark, out.toString, "DNS Activity", c)
        .select("metadata.uid").collect().map(_.getString(0)).sorted.toSeq
    def uidsFull(c: String) =
      graft.ocsf.OcsfTables.load(spark, out.toString, "DNS Activity")
        .filter(c).select("metadata.uid").collect()
        .map(_.getString(0)).sorted.toSeq
    Seq("time < timestamp'2020-01-01 00:00:00'",
        "time < timestamp'2023-11-14 22:45:00'",
        "time >= timestamp'2020-01-01 00:00:00'").foreach { c =>
      assert(uidsWhere(c) == uidsFull(c), s"loadWhere($c) diverged")
    }
    assert(uidsWhere("time IS NOT NULL").size == 12, "all rows reachable")
  }

  test("fan-out replays a crashed batch without duplicating committed routes") {
    val landing = Files.createTempDirectory("stream-crash")
    val out     = Files.createTempDirectory("stream-crash-out")
    val ckpt    = Files.createTempDirectory("stream-crash-ckpt")
    val routes  = Seq("DNS Activity", "Process Activity", "Network Activity")
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a1","cid":"c1","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"one.example.com"}""",
      """{"event_simpleName":"ProcessRollup2","name":"ProcessRollup2V19","aid":"a2","cid":"c2","id":"e2","timestamp":"1700000000123","event_platform":"Win","ImageFileName":"\\Device\\HarddiskVolume3\\Windows\\System32\\cmd.exe","RawProcessId":"42"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a3","cid":"c3","id":"e3","timestamp":"1700086400000","event_platform":"Lin","DomainName":"two.example.com"}""",
      """{"event_type":"NetworkConnectIP4","name":"NetworkConnectIP4V10","aid":"a4","cid":"c4","id":"e4","timestamp":"1700000000","event_platform":"Lin","LocalPort":"5555","RemotePort":"443","RemoteAddressIP4":"93.184.216.34"}"""))

    // simulate a crash AFTER the DNS route committed micro-batch 0 but
    // BEFORE the other routes: land exactly that route's slice of the
    // batch under the same batchId the stream will replay with
    val classified = graft.sources.FdrSource.load(spark, landing.toString)
    graft.ocsf.IdempotentSink.writeBatch(
      Normalizers.byRoute("DNS Activity")(
        classified.filter(col("route") === "DNS Activity")),
      out.toString, "DNS Activity", "us-east-1", "123456789012", batchId = 0L)
    assert(spark.read.parquet(s"$out/dns_activity").count() == 2)

    // restart: the query reprocesses the same files as batchId 0 — the
    // committed DNS route must SKIP, the crashed-out routes must write
    val q = EventStream.start(spark, landing.toString, out.toString, ckpt.toString,
      "us-east-1", "123456789012", routes, Trigger.AvailableNow())
    q.awaitTermination(180000)
    assert(spark.read.parquet(s"$out/dns_activity").count() == 2,
      "replay re-appended a route that had already committed this batch")
    assert(spark.read.parquet(s"$out/process_activity").count() == 1)
    assert(spark.read.parquet(s"$out/network_activity").count() == 1)
    // and ids are unique — no row landed twice anywhere
    val dnsIds = spark.read.parquet(s"$out/dns_activity")
      .select("metadata.uid").collect().map(_.getString(0)).sorted
    assert(dnsIds.toSeq == Seq("e1", "e3"), dnsIds.mkString(","))
  }

  test("a wedged route write fails the batch naming the route, not a hang") {
    import scala.concurrent.duration.DurationInt
    val landing = Files.createTempDirectory("stream-wedge")
    val out     = Files.createTempDirectory("stream-wedge-out")
    val ckpt    = Files.createTempDirectory("stream-wedge-ckpt")
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a1","cid":"c1","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"one.example.com"}"""))
    // a 1 ms budget is far below any real write: the await must trip,
    // fail the batch, and name the unfinished route
    val q = EventStream.start(spark, landing.toString, out.toString, ckpt.toString,
      "us-east-1", "123456789012", Seq("DNS Activity"), Trigger.AvailableNow(),
      batchTimeout = 1.millis)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(180000)
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("stuck routes: DNS Activity"), msgs)
  }

  test("streaming quarantine lands skipped lines with reasons") {
    val landing = Files.createTempDirectory("stream-quarantine")
    val out     = Files.createTempDirectory("stream-qout")
    val ckpt    = Files.createTempDirectory("stream-qckpt")
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"a1","cid":"c1","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"ok.example.com"}""",
      """broken {json""",
      """{"name":"keyless","timestamp":"1700000001000"}""",
      """{"event_simpleName":"NotMappedEver","timestamp":"1700000002000"}"""))

    val loaded = EventStream.readWithQuarantine(spark, landing.toString)
    val q = EventStream.startQuarantineSink(loaded.quarantined,
      s"$out/quarantine", s"$ckpt/quarantine", Trigger.AvailableNow())
    q.awaitTermination(120000)

    val back = spark.read.parquet(s"$out/quarantine")
    val reasons = back.collect().map(_.getString(1))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(reasons == Map(
      "unparseable_json" -> 1,
      "missing_event_key" -> 1,
      "unmapped_event" -> 1), reasons.toString)
  }

  test("redelivered events dedupe by id within the watermark") {
    val landing = Files.createTempDirectory("stream-dedup")
    val line =
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"d1","cid":"c","id":"dup-1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"a.example.com"}"""
    val other =
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"d2","cid":"c","id":"dup-2","timestamp":"1700000001000","event_platform":"Lin","DomainName":"b.example.com"}"""
    // a mapped event with NO id field — must survive (not be dropped),
    // deduped by its raw-line hash across the redelivered object
    val noId =
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"d3","cid":"c","timestamp":"1700000002000","event_platform":"Lin","DomainName":"c.example.com"}"""
    // the same object replayed (same ids), plus one new event
    writeGz(landing, "obj-1.gz", Seq(line, other, noId))
    writeGz(landing, "obj-1-redelivered.gz", Seq(line, other, noId))

    val deduped = EventStream.dedupedByEventId(
      EventStream.readClassified(spark, landing.toString))
    val q = deduped.select("event_id").writeStream
      .format("memory").queryName("deduped_events")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val ids = spark.table("deduped_events").collect().map(_.getString(0)).sorted
    assert(ids.length == 3, ids.mkString(","))
    assert(ids.count(_.startsWith("__raw__")) == 1, ids.mkString(","))
    assert(ids.filterNot(_.startsWith("__raw__")).toSeq == Seq("dup-1", "dup-2"),
      ids.mkString(","))
  }

  test("watermarked windowed counts aggregate the classified stream") {
    val landing = Files.createTempDirectory("stream-window")
    // two DnsRequests in the same minute, one in the next
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w1","cid":"c","id":"e1","timestamp":"1700000010000","event_platform":"Lin","DomainName":"a.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w2","cid":"c","id":"e2","timestamp":"1700000020000","event_platform":"Lin","DomainName":"b.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w3","cid":"c","id":"e3","timestamp":"1700000070000","event_platform":"Lin","DomainName":"c.example.com"}"""))
    val counts = EventStream.windowedCounts(
      EventStream.readClassified(spark, landing.toString))
    // complete mode to a memory sink: asserts the aggregation itself
    // without depending on append-mode watermark flush timing
    val q = counts.writeStream
      .format("memory")
      .queryName("windowed_counts")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("windowed_counts")
      .select(col("window.start").cast("string"), col("n_events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("2023-11-14 22:13:00" -> 2L, "2023-11-14 22:14:00" -> 1L), rows.toString)
  }

  test("stream-static scoring flags spikes and unknown routes against a batch baseline") {
    import spark.implicits._
    val landing = Files.createTempDirectory("stream-score")
    // minute 1: four DnsRequests (z = (4-1)/1 = 3 → anomalous);
    // minute 2: one (z = 0 → calm); plus one ProcessRollup2 whose
    // route the baseline has never seen → null z, flagged
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w1","cid":"c","id":"e1","timestamp":"1699999985000","event_platform":"Lin","DomainName":"a.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w2","cid":"c","id":"e2","timestamp":"1699999995000","event_platform":"Lin","DomainName":"b.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w3","cid":"c","id":"e3","timestamp":"1700000005000","event_platform":"Lin","DomainName":"c.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w4","cid":"c","id":"e4","timestamp":"1700000015000","event_platform":"Lin","DomainName":"d.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"w5","cid":"c","id":"e5","timestamp":"1700000045000","event_platform":"Lin","DomainName":"e.example.com"}""",
      """{"event_simpleName":"ProcessRollup2","name":"ProcessRollup2V1","aid":"w6","cid":"c","id":"e6","timestamp":"1700000075000","event_platform":"Lin","CommandLine":"ls"}"""))
    val baseline = Seq(("DNS Activity", 1.0, 1.0)).toDF("route", "mu", "sigma")
    val scored = EventStream.scoredAgainstBaseline(
      EventStream.readClassified(spark, landing.toString), baseline)
    val q = scored.writeStream
      .format("memory").queryName("scored_windows")
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.table("scored_windows")
      .select(col("window.start").cast("string"), col("route"),
        col("z"), col("anomalous"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
      .toMap
    assert(rows(("2023-11-14 22:13:00", "DNS Activity")) == (Some(3.0), true))
    assert(rows(("2023-11-14 22:14:00", "DNS Activity")) == (Some(0.0), false))
    // unknown route: null z, still surfaced and flagged
    assert(rows(("2023-11-14 22:14:00", "Process Activity")) == (None, true))
  }

  test("StreamMetrics captures per-batch health rows for a named query") {
    val landing = Files.createTempDirectory("stream-metrics")
    writeGz(landing, "obj-1.gz", Seq(
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"m1","cid":"c","id":"e1","timestamp":"1700000000000","event_platform":"Lin","DomainName":"a.example.com"}""",
      """{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"m2","cid":"c","id":"e2","timestamp":"1700000001000","event_platform":"Lin","DomainName":"b.example.com"}"""))
    val listener = new StreamMetrics(capacity = 16,
      queryName = Some("metrics_probe")).attach(spark)
    try {
      val q = EventStream.readClassified(spark, landing.toString)
        .writeStream
        .format("memory")
        .queryName("metrics_probe")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // listener events are delivered asynchronously after the query ends
      var tries = 0
      while (listener.metrics(spark).isEmpty && tries < 50) {
        Thread.sleep(200); tries += 1
      }
      val m = listener.metrics(spark)
        .select("queryName", "numInputRows", "triggerMs")
        .collect()
      assert(m.nonEmpty, "no batch metrics captured")
      assert(m.forall(_.getString(0) == "metrics_probe"))
      assert(m.map(_.getLong(1)).sum == 2, "input rows must total the landed lines")
      assert(m.exists(_.getLong(2) >= 0), "trigger duration must be recorded")
    } finally listener.detach(spark)
  }
}
