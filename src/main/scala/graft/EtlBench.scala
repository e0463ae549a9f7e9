package graft

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream
import graft.ocsf.OcsfSink
import graft.sources.FdrSource

/** ETL throughput benchmark: synthetic FDR gz corpus → classify →
  * all 13 normalizers → Security-Lake parquet fan-out through the
  * exactly-once sink ([[OcsfSink.fanOutIdempotent]]), reported as
  * events/second end-to-end (including the write and its commit).
  *
  * The comparable reference number comes from
  * `tools/ref_etl_bench.py`, which times the reference loader's
  * row-at-a-time normalization (AWS stubbed) on identically-shaped
  * lines. Run both to compare single-node ETL throughput.
  *
  * Usage: runMain graft.EtlBench [nEvents] [nFiles] [codec] [filesPerDay]
  *
  * `*_compiles` are the classes Spark's codegen compiled in each
  * phase ([[GraftSession.codegenCompiles]]): after the warm-up the
  * timed phases should compile next to nothing.
  *
  * `codec` overrides `spark.sql.parquet.compression.codec` for the
  * fan-out write. Measured warm at 1M events on this box: snappy
  * 53.0k ev/s, lz4 53.8k, zstd 48.1k — the codec is NOT the lever on
  * local disk (zstd trades ~10% CPU for ~2× smaller files, which wins
  * back S3 PUT/GET time on real object storage). The lever is
  * `filesPerDay`: the single-day bench corpus under auto-sizing gets
  * ONE writer core per route (13 of 32 cores busy); `cores/13 + 1`
  * writer tasks per (route, day) cover the whole machine.
  */
object EtlBench {

  /** Deterministic synthetic FDR lines cycling through event shapes
    * that exercise every sink route. */
  def line(i: Long): String = {
    val ts = 1700000000000L + i
    (i % 13) match {
      case 0 => s"""{"event_simpleName":"ProcessRollup2","name":"ProcessRollup2V19","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","aip":"10.0.${i % 256}.${(i / 256) % 256}","timestamp":"$ts","event_platform":"Win","ImageFileName":"C:\\\\W\\\\cmd$i.exe","CommandLine":"cmd /c job $i","SHA256HashData":"${i}a","RawProcessId":"${1000 + i % 50000}","ParentBaseFileName":"explorer.exe"}"""
      case 1 => s"""{"event_simpleName":"NetworkConnectIP4","name":"NetworkConnectIP4V10","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Lin","LocalPort":"${1024 + i % 60000}","RemotePort":"443","RemoteAddressIP4":"93.184.${i % 256}.${(i / 7) % 256}","LocalAddressIP4":"10.0.0.${i % 256}","ConnectionDirection":"${i % 4}"}"""
      case 2 => s"""{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Mac","DomainName":"host${i % 5000}.example.com","ContextBaseFileName":"proc${i % 11}"}"""
      case 3 => s"""{"event_simpleName":"UserLogon","name":"UserLogonV10","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Win","UserName":"user${i % 500}","UserSid":"S-1-5-$i","LogonType":"${2 + i % 11}","UserIsAdmin":"${i % 2}"}"""
      case 4 => s"""{"event_simpleName":"HttpRequest","name":"HttpRequestV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Lin","HttpMethod":"${1 + i % 8}","HttpHost":"api${i % 31}.example.com","HttpPath":"/v1/r/$i","HttpStatus":"${if (i % 9 == 0) 404 else 200}"}"""
      case 5 => s"""{"event_simpleName":"NewScriptWritten","name":"NewScriptWrittenV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Lin","TargetFileName":"/tmp/s$i.sh","TargetDirectoryName":"/tmp","UserName":"svc${i % 17}","ContentSHA256HashData":"${i}b"}"""
      case 6 => s"""{"event_simpleName":"KextLoad","name":"KextLoadV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Mac","BundleID":"com.example.k${i % 29}","ImageFileName":"/L/E/k$i.kext","SHA256HashData":"${i}c"}"""
      case 7 => s"""{"event_simpleName":"InstalledApplication","name":"InstalledApplicationV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Win","UpdateFlag":"${i % 6}","AppName":"App${i % 200}","AppVendor":"Vendor${i % 40}","AppVersion":"1.${i % 30}"}"""
      case 8 => s"""{"event_simpleName":"InstalledUpdates","name":"InstalledUpdatesV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Win","Status":"${i % 2}","InstalledUpdateIds":"KB${i};KB${i + 1}"}"""
      case 9 => s"""{"event_simpleName":"LFODownloadConfirmation","name":"LFODownloadConfirmationV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Win","SourceFileName":"f$i.bin","SHA256HashData":"${i}d","DownloadServer":"lfo${i % 7}.example.com","DownloadPort":"443"}"""
      case 10 => s"""{"event_simpleName":"ScriptControlDetectInfo","name":"ScriptControlDetectInfoV1","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Win","ImageFileName":"ps$i.exe","CommandLine":"ps -enc $i","ContentSHA256HashData":"${i}e","ContextProcessId":"$i","ParentImageFileName":"cmd.exe"}"""
      case 11 => s"""{"event_simpleName":"SensorHeartbeat","name":"SensorHeartbeatV4","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts","event_platform":"Win","ConfigBuild":"1007.${i % 10}"}"""
      case _ => s"""{"event_simpleName":"Event_ExternalApiEvent","ExternalApiType":"Event_AuthActivityAuditEvent","UTCTimestamp":"${ts / 1000}","UserIp":"9.9.${i % 256}.9","AgentIdString":"aid-$i","cid":"cid-${i % 97}","UserId":"u$i@example.com","CustomerIdString":"cust-${i % 5}","AuditKeyValues":[{"Key":"request_method","ValueString":"GET"},{"Key":"status_code","ValueString":"200"},{"Key":"trace_id","ValueString":"t-$i"},{"Key":"request_path","ValueString":"/v1/$i"}]}"""
    }
  }

  def writeCorpus(dir: Path, nEvents: Long, nFiles: Int): Unit = {
    val perFile = nEvents / nFiles
    (0 until nFiles).foreach { fi =>
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(dir.resolve(f"fdr-$fi%04d.gz").toFile)), "UTF-8"), 1 << 20)
      var i = fi * perFile
      val end = (fi + 1) * perFile
      while (i < end) { w.write(line(i)); w.write("\n"); i += 1 }
      w.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val nEvents = if (args.length > 0) args(0).toLong else 200000L
    val nFiles = if (args.length > 1) args(1).toInt else 32
    val spark = GraftSession.get()
    if (args.length > 2)
      spark.conf.set("spark.sql.parquet.compression.codec", args(2))
    // Cache-unroll transient-heap lever (SPARK_GRAFT_CACHE_BATCH):
    // each cache task builds one columnar batch of this many rows in
    // heap before it is stored/evicted — 32 concurrent unroll tasks ×
    // doubling ColumnBuilder buffers is the allocation that OOMs an
    // oversized corpus on a small heap (BASELINE.md, 32M events @ 8 g).
    // Smaller batches shrink the transient peak at a small scan-time
    // cost; the default 10,000 stands unless set.
    sys.env.get("SPARK_GRAFT_CACHE_BATCH").foreach(b =>
      spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", b))
    // Concurrent-writer heap lever (SPARK_GRAFT_PARQUET_BLOCK, bytes):
    // every open parquet file buffers a full row group on heap, and the
    // fan-out runs 13 routes × filesPerDay writer tasks concurrently —
    // at the default 128 MB block size that is GBs of write buffers
    // before the first flush. A single-node heap staging the whole
    // fan-out needs smaller row groups; a real cluster (one task per
    // executor core with its own heap) keeps the default.
    sys.env.get("SPARK_GRAFT_PARQUET_BLOCK").foreach(b =>
      spark.sparkContext.hadoopConfiguration.set("parquet.block.size", b))
    // Latency-optimal default: enough writer tasks per (route, day)
    // that 13 concurrent route jobs cover the core budget (auto-sizing
    // would give this single-day corpus ONE encode core per route).
    val filesPerDay = if (args.length > 3) args(3).toInt
      else math.max(1, GraftSession.cpus / 13 + 1)
    val landing = Files.createTempDirectory("etl-bench-landing")
    val out = Files.createTempDirectory("etl-bench-out")
    writeCorpus(landing, nEvents, nFiles)

    // Warm-up on a small corpus: compiles the 13 normalizer codegen
    // stages and the parquet write path once, so the timed run
    // measures steady-state throughput (the Python reference loop has
    // no equivalent cold cost).
    val wl = Files.createTempDirectory("etl-bench-warm")
    val wo = Files.createTempDirectory("etl-bench-warmout")
    writeCorpus(wl, 1300, 4)
    val c0 = GraftSession.codegenCompiles
    // same shape as the timed run (raw dropped, route-clustered,
    // explicit filesPerDay) so the warm-up JITs exactly the plans the
    // measurement executes
    val warm = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, wl.toString).drop("raw")))
    warm.count()
    OcsfSink.fanOutIdempotent(warm, wo.toString, "us-east-1", "123456789012",
      runId = 1L, filesPerDay = filesPerDay)
    warm.unpersist()

    val cWarm = GraftSession.codegenCompiles
    val t0 = System.nanoTime()
    // drop the raw line before caching: every route job re-scans this
    // cache, and no normalizer reads `raw` (extapi parses its k/v
    // array from the `fields` map) — the raw string duplicates every
    // byte of `fields` and would double the rescan cost. Route-cluster
    // the cache so each route's rescan decompresses only its own
    // batches (see OcsfSink.routeClustered); serialized storage
    // (cacheForFanOut) keeps an oversized corpus off the heap cliff.
    val classified = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, landing.toString).drop("raw")))
    val nClassified = classified.count()
    val t1 = System.nanoTime()
    val cClassify = GraftSession.codegenCompiles
    val cachePartitions = classified.rdd.getNumPartitions
    val routeSec = OcsfSink.fanOutIdempotent(classified, out.toString,
      "us-east-1", "123456789012", runId = 1L, filesPerDay = filesPerDay)
    val t2 = System.nanoTime()
    val cFanout = GraftSession.codegenCompiles
    val sec = (t2 - t0) / 1e9
    classified.unpersist()

    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    // Per-route seconds measured INSIDE each route's future, so they
    // include contention between the 13 concurrent writes — each route
    // number is its wall-clock share of fanout_sec, the figure a
    // capacity plan needs (routes ≈ fanout_sec because they overlap).
    val routes = routeSec.toSeq.sortBy(-_._2)
      .map { case (r, s) => s""""${OcsfSink.tableName(r)}":${jnum(s)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"etl_events_per_sec","value":${jnum(nClassified / sec)},"events":$nClassified,"seconds":${jnum(sec)},"classify_sec":${jnum((t1 - t0) / 1e9)},"fanout_sec":${jnum((t2 - t1) / 1e9)},"warmup_compiles":${cWarm - c0},"classify_compiles":${cClassify - cWarm},"fanout_compiles":${cFanout - cClassify},"cache_partitions":$cachePartitions,"routes":$routes,"codec":"${spark.conf.get("spark.sql.parquet.compression.codec", "snappy")}","files_per_day":$filesPerDay,"files":$nFiles}""")
    spark.stop()
  }
}
