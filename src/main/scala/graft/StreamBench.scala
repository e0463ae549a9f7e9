package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventStream, StreamMetrics}

/** Streaming-ingest throughput benchmark (SURVEY.md §2 A24): the
  * batch EtlBench's missing twin. Pre-lands a synthetic FDR gz corpus
  * (the same [[EtlBench.line]] shapes), then drives the REAL
  * production entry point — [[EventStream.start]]'s single-pass
  * 13-way exactly-once fan-out — until the landing prefix drains, and
  * reports events/second plus per-trigger latency from the
  * [[StreamMetrics]] listener. This is the number a user sizing a
  * production stream needs next to the reference loader's 32.2k ev/s
  * (tools/ref_etl_bench.py): how fast does the STREAMING path ingest,
  * trigger overhead and commit-log writes included, not just the
  * batch fan-out.
  *
  * `Trigger.AvailableNow` drains the corpus through the normal
  * micro-batch machinery (maxFilesPerTrigger = 64 per
  * EventStream.readNamed) and stops — so the run is finite and the
  * measured triggers are exactly the production batch shape. Batch 0
  * carries codegen/JIT cold cost; the JSON separates it the way
  * Bench.scala separates cold_total.
  *
  * A small warm-up stream runs first (separate landing/out/ckpt): it
  * JITs the normalize + parquet + commit path once, exactly like
  * EtlBench's warm-up, so the measured triggers are steady-state
  * rather than half-compilation — without it, back-to-back runs of the
  * same build measured 54k vs 73k warm ev/s at the 1M rung purely on
  * JIT/page-cache state.
  *
  * `*_compiles` are the classes Spark's codegen compiled in the
  * warm-up stream, the measured stream and the batch calibration
  * ([[GraftSession.codegenCompiles]]); the measured stream repeats
  * the warm-up's plans, so it should compile next to nothing.
  *
  * Usage: runMain graft.StreamBench [nEvents] [nFiles] [filesPerDay] [discovery]
  *   nFiles controls triggers: ceil(nFiles / 64) micro-batches.
  *   filesPerDay defaults to 0 = auto (one file per route-day at
  *   micro-batch scale — ALSO the measured latency optimum on this
  *   path; see EventStream.start's scaladoc).
  *   discovery: "listing" (default; Spark's file source — per-trigger
  *   cost O(all objects ever landed)) or "manifest" (the
  *   graft-landing notification source — per-trigger cost tracks the
  *   ingest delta; the corpus is announced via LandingLog before the
  *   stream starts, as a production lander would).
  */
object StreamBench {

  /** Announce the pre-landed corpus into the notification log — what a
    * production lander does per upload; the bench does it once via the
    * bootstrap helper. */
  private def announceAll(spark: org.apache.spark.sql.SparkSession,
                          dir: java.nio.file.Path): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.LandingLog.announceExisting(fs, p, "bench")
    ()
  }

  def main(args: Array[String]): Unit = {
    val nEvents = if (args.length > 0) args(0).toLong else 1000000L
    val nFiles = if (args.length > 1) args(1).toInt else 256
    val filesPerDay = if (args.length > 2) args(2).toInt else 0
    val discoveryName = if (args.length > 3) args(3) else "listing"
    val discovery: EventStream.Discovery = discoveryName match {
      case "manifest" => EventStream.Manifest
      case _ => EventStream.Listing
    }
    val spark = GraftSession.get()
    sys.env.get("SPARK_GRAFT_CACHE_BATCH").foreach(b =>
      spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", b))
    sys.env.get("SPARK_GRAFT_PARQUET_BLOCK").foreach(b =>
      spark.sparkContext.hadoopConfiguration.set("parquet.block.size", b))

    val landing = Files.createTempDirectory("stream-bench-landing")
    val out = Files.createTempDirectory("stream-bench-out")
    val ckpt = Files.createTempDirectory("stream-bench-ckpt")
    EtlBench.writeCorpus(landing, nEvents, nFiles)

    // JIT warm-up: one tiny stream through the identical pipeline
    // (normalize codegen, parquet encode, two-phase commit) before the
    // clock starts — the EtlBench warm-up stance applied to streaming
    val wl = Files.createTempDirectory("stream-bench-warm")
    val wo = Files.createTempDirectory("stream-bench-warmout")
    val wc = Files.createTempDirectory("stream-bench-warmckpt")
    EtlBench.writeCorpus(wl, 1300, 4)
    val c0 = GraftSession.codegenCompiles
    if (discovery == EventStream.Manifest) announceAll(spark, wl)
    EventStream.start(spark, wl.toString, wo.toString, wc.toString,
      "us-east-1", "123456789012", trigger = Trigger.AvailableNow(),
      filesPerDay = filesPerDay, discovery = discovery).awaitTermination()
    if (discovery == EventStream.Manifest) announceAll(spark, landing)

    val metrics = new StreamMetrics(capacity = 4096,
      queryName = Some("ocsf-fanout")).attach(spark)

    val cWarm = GraftSession.codegenCompiles
    val t0 = System.nanoTime()
    val q = EventStream.start(spark, landing.toString, out.toString,
      ckpt.toString, "us-east-1", "123456789012",
      trigger = Trigger.AvailableNow(), filesPerDay = filesPerDay,
      discovery = discovery)
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val cStream = GraftSession.codegenCompiles

    val m = metrics.metrics(spark)
      .select(col("batchId"), col("numInputRows"), col("triggerMs"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val rows = m.map(_._2).sum
    val warm = m.drop(1) // batch 0 pays codegen/JIT
    val warmSec = warm.map(_._3).sum / 1e3
    val warmRows = warm.map(_._2).sum
    val trigMs = m.map(_._3)
    def jnum(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else f"$v%.3f"
    // sanity: the stream must have ingested the whole corpus
    // (writeCorpus floors to nFiles * (nEvents/nFiles) lines)
    val written = (nEvents / nFiles) * nFiles
    require(rows == written, s"ingested $rows of $written events")

    // SAME-JVM batch calibration over the SAME corpus: absolute ev/s
    // on this harness swings 2-3× with host load the guest can't see
    // (r16 measured EtlBench itself at 56k on a window where r15
    // recorded 149k — zero guest processes running, loadavg 20 from
    // CPU steal), so a streaming number is only interpretable NEXT TO
    // a batch number from the same minutes. The ratio
    // warm-stream / batch is the box-independent figure: both arms
    // land through the same fan-out and two-phase commit
    // (OcsfSink.fanOutIdempotent), so it prices exactly what streaming
    // adds (triggers, checkpointing, per-trigger cache and stats reads)
    // over the identical classify+fan-out work.
    // the calibration must never cost the already-measured streaming
    // numbers: any failure here reports a null ratio, not a dead run
    // r17 (ADVICE): the single batch clock was mildly asymmetric —
    // the stream side uses warm-only triggers while the batch run is
    // one shot. A warm trigger DOES pay read+classify+cache+count+
    // fan-out for its slice (foreachBatch body), so excluding
    // cal.count() from the clock would overcorrect in batch's favor.
    // Emit BOTH clocks instead: the full clock (load→classify→cache→
    // fan-out, slightly streaming-favorable) and a post-count clock
    // (fan-out only, batch-favorable) — the true streaming overhead
    // is bracketed between the two ratios. cal.unpersist() moved to a
    // finally so a fan-out failure can't leak the cache until
    // spark.stop.
    var batchRate = Double.NaN        // full clock
    var batchRateFanout = Double.NaN  // post-count clock
    locally {
      var cal: org.apache.spark.sql.DataFrame = null
      try {
        val calOut = Files.createTempDirectory("stream-bench-calout")
        val calT0 = System.nanoTime()
        cal = graft.ocsf.OcsfSink.cacheForFanOut(graft.ocsf.OcsfSink
          .routeClustered(graft.sources.FdrSource
            .load(spark, landing.toString).drop("raw")))
        cal.count()
        val calT1 = System.nanoTime()
        // match the STREAM's writer sizing, not whole-corpus sizing:
        // each trigger auto-sized from ~1/triggers of the corpus, so a
        // whole-corpus estimate could hand the batch arm more writers
        // and misattribute the parallelism delta to "what streaming
        // adds" — the confound this ratio exists to remove
        val calFpd =
          if (filesPerDay > 0) filesPerDay
          else graft.ocsf.OcsfSink.autoFilesPerDayFromBytes(
            cal.queryExecution.optimizedPlan.stats.sizeInBytes /
              math.max(1, m.length.toLong) /
              math.max(1, graft.ocsf.OcsfMappings.routes.size))
        graft.ocsf.OcsfSink.fanOutIdempotent(cal, calOut.toString, "us-east-1",
          "123456789012", runId = 1L, filesPerDay = calFpd)
        val calEnd = System.nanoTime()
        batchRate = rows / ((calEnd - calT0) / 1e9)
        batchRateFanout = rows / ((calEnd - calT1) / 1e9)
      } catch {
        case e: Throwable =>
          System.err.println(s"[stream-bench] calibration failed: ${e.getMessage}")
      } finally {
        if (cal != null) {
          try cal.unpersist() catch { case _: Throwable => () }
        }
      }
    }
    val cCal = GraftSession.codegenCompiles
    val warmRate = if (warmSec > 0) warmRows / warmSec else Double.NaN

    println(s"""{"metric":"stream_events_per_sec","value":${jnum(rows / sec)},"warm_events_per_sec":${jnum(warmRate)},"events":$rows,"seconds":${jnum(sec)},"triggers":${m.length},"trigger_ms_mean":${jnum(if (m.nonEmpty) trigMs.sum.toDouble / m.length else Double.NaN)},"trigger_ms_max":${trigMs.maxOption.getOrElse(-1L)},"first_trigger_ms":${trigMs.headOption.getOrElse(-1L)},"batch_calibration_events_per_sec":${jnum(batchRate)},"stream_over_batch_ratio":${jnum(warmRate / batchRate)},"stream_over_batch_ratio_fanout_clock":${jnum(warmRate / batchRateFanout)},"warmup_compiles":${cWarm - c0},"stream_compiles":${cStream - cWarm},"calibration_compiles":${cCal - cStream},"files":$nFiles,"files_per_day":$filesPerDay,"discovery":"$discoveryName"}""")
    spark.stop()
  }
}
