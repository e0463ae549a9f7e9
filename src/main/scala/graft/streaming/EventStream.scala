package graft.streaming

import scala.concurrent.duration.{Duration, DurationInt}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ocsf.{IdempotentSink, Normalizers, OcsfMappings}
import graft.sources.FdrSource

/** Streaming ingestion (SURVEY.md §2 A24).
  *
  * The reference is a continuous pipeline: S3 event → SQS → Lambda →
  * Firehose batches (/root/reference/README.md:34-46). Structured
  * Streaming expresses the same thing natively: a file-source stream
  * over the landing prefix (new objects are discovered per
  * micro-batch, the SQS notification re-expressed), the identical
  * map-only normalize, and a partitioned parquet sink with exactly-once
  * checkpointing (the Firehose buffering re-expressed as micro-batch
  * triggers).
  *
  * All normalizers are narrow (no aggregation), so no watermark is
  * needed for the ETL path; [[windowedCounts]] shows the watermarked
  * stateful-aggregation variant used for monitoring-style queries.
  */
object EventStream {

  /** How new landing objects are discovered each trigger:
    *
    *  - [[Listing]] — Spark's file source: LIST the prefix, diff
    *    against the checkpoint's seen-files map. Zero setup, but the
    *    per-trigger cost is O(all objects ever landed) and the map
    *    grows without bound — fine up to ~10⁵ objects, the wrong
    *    shape at 100 TB/day.
    *  - [[Manifest]] — `format("graft-landing")`
    *    ([[graft.sources.LandingSource]]): the lander announces each
    *    published batch in [[graft.sources.LandingLog]] and the stream
    *    plans batches from the announcements — the reference's S3→SQS
    *    notification ingest (README.md:34-38), per-trigger cost
    *    tracking the ingest delta. */
  sealed trait Discovery
  case object Listing extends Discovery
  case object Manifest extends Discovery

  /** Parsed streaming relation (raw, fields, event_name) over the
    * landing prefix. */
  private def readNamed(spark: SparkSession, landingDir: String,
                        discovery: Discovery): DataFrame = {
    val raw = discovery match {
      case Listing =>
        spark.readStream
          .option("maxFilesPerTrigger", 64)
          .text(landingDir)
          .toDF("raw")
      case Manifest =>
        spark.readStream
          .format("graft-landing")
          .option("maxFilesPerTrigger", 64)
          .load(landingDir)
          .select("raw")
    }
    raw
      .filter(length(trim(col("raw"))) > 0)
      .withColumn("fields", from_json(col("raw"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType)))
      .withColumn("event_name", FdrSource.eventName(col("fields")))
  }

  /** Streaming equivalent of FdrSource.load: gz json-lines →
    * classified events. */
  def readClassified(spark: SparkSession, landingDir: String,
                     discovery: Discovery = Listing): DataFrame =
    FdrSource.mappedWithClass(
      readNamed(spark, landingDir, discovery).filter(col("event_name").isNotNull))

  /** Streaming equivalent of FdrSource.loadWithQuarantine: classified
    * events plus the (raw, reason) quarantine stream. Run the
    * quarantine side as its own query (e.g. [[startQuarantineSink]])
    * so skipped lines are counted and replayable instead of silently
    * dropped — the reference merely logs them from the Lambda. */
  def readWithQuarantine(spark: SparkSession, landingDir: String,
                         discovery: Discovery = Listing): FdrSource.Loaded =
    FdrSource.splitQuarantine(readNamed(spark, landingDir, discovery))

  /** Lands the quarantine stream as parquet with its own checkpoint. */
  def startQuarantineSink(quarantined: DataFrame, dir: String,
                          checkpointDir: String,
                          trigger: Trigger = Trigger.ProcessingTime("10 seconds"))
      : StreamingQuery =
    quarantined.writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .queryName("fdr-quarantine")
      .start()

  /** Single-pass 13-way fan-out: ONE streaming query reads the landing
    * prefix once per micro-batch and writes every route's partitioned
    * parquet table from the cached batch through
    * [[graft.ocsf.OcsfSink.fanOutIdempotent]], the same fan-out a batch
    * job calls with its own `runId`.
    *
    * One file-source stream per route would list and parse every
    * landing object 13 times (13× IO at 100 TB/day: reading 1.3 PB to
    * ingest 100 TB); the reference ingests each object exactly once
    * (one Lambda invocation feeding 13 Firehoses,
    * /root/reference/README.md:34-46). Here the batch is persisted, the
    * 13 per-route writes run concurrently against the cache, then the
    * batch is released.
    *
    * Delivery: exactly-once per (route, batch). The checkpoint records
    * completed batches (clean restarts reprocess nothing), and a crash
    * MID-batch replays the batch under the SAME batchId into the
    * fan-out's per-route two-phase commit
    * ([[graft.ocsf.OcsfSink.fanOutIdempotent]] →
    * `IdempotentSink.begin`, one attempt per route) —
    * routes that already committed the batch skip, half-written routes
    * restage or resume their promote, so nothing is re-appended (the
    * spec pins the crash-after-k-routes replay). See IdempotentSink
    * for the S3A-rename caveat.
    *
    * `batchTimeout` bounds the per-batch wait on the 13 route writes:
    * one wedged write (a stuck remote upload) must FAIL the batch — so
    * the checkpoint retry machinery engages and the stuck route is
    * named — rather than hang the whole query forever. The timed-out
    * writes' Spark jobs are cancelled (see
    * [[graft.ocsf.OcsfSink.fanOutIdempotent]]); a write that already
    * staged files is fenced: if the query restarts in
    * the SAME JVM, the replayed batch supersedes them via
    * IdempotentSink's per-(route, batch) generation token — a stale
    * attempt stages into its own generation dir and is fenced off
    * (SupersededAttemptException) at its first control step, so it can
    * never publish a manifest or promote files the replay owns.
    *
    * `compactEvery` > 0 folds each route's per-batch manifest/marker
    * pairs into one via [[IdempotentSink.compactCommits]] every N
    * batches (after the batch commits). At a 10 s trigger a
    * table otherwise accrues ~10⁵–10⁶ control files over months — an
    * S3 LIST/GET tax on every read. Compaction is safe concurrent with
    * readers (during its publish-then-delete window both the merged
    * pair and the originals exist; the loader reads final paths
    * distinct, so rows stay exactly-once) and with the NEXT batch's
    * writer (it only merges pairs it listed; a pair landing mid-merge
    * is picked up by the next compaction). A compaction failure only
    * defers cleanup, so it must never fail the batch — it is logged
    * and retried at the next interval.
    *
    * Every batch's files land with their stats in its manifest
    * ([[graft.ocsf.StatsIndex]]), so [[graft.ocsf.OcsfTables.loadWhere]]
    * prunes a batch as soon as it commits, with no refresh to schedule.
    *
    * `filesPerDay` is the writer-parallelism lever (writer tasks per
    * (route, day)) of every route's write in the fan-out. The
    * default 0 auto-sizes per batch from the cache's size estimate
    * (ONE file per (route, day) at micro-batch scale — the
    * file-hygiene optimum for a long-running table). At one file per
    * day each route's write is a single narrow stage: the route's
    * cache scan, normalize, time sort and encode run in one task, with
    * no shuffle (OcsfSink.partitionedFrame). Above 1 the route pays a
    * salted repartition: a shuffle-map stage before its write stage.
    * Unlike a one-shot batch (EtlBench's `cores/13 + 1` latency
    * stance), extra writers do NOT pay off on this path at micro-batch
    * scale — measured at 1M-event triggers: filesPerDay=3 ran ~25%
    * SLOWER than 1 (3× staged files through the two-phase commit, 39
    * concurrent writers fork-storming the local-FS permission calls) — so only
    * raise it for backfill-sized batches where a route's slice
    * genuinely outgrows one writer. */
  def start(spark: SparkSession, landingDir: String, baseDir: String,
            checkpointDir: String, region: String, accountId: String,
            routes: Seq[String] = OcsfMappings.routes,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
            batchTimeout: Duration = 10.minutes,
            compactEvery: Int = 100,
            discovery: Discovery = Listing,
            filesPerDay: Int = 0): StreamingQuery = {
    import graft.ocsf.OcsfSink
    readClassified(spark, landingDir, discovery).writeStream
      .queryName("ocsf-fanout")
      .option("checkpointLocation", s"$checkpointDir/_fanout")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // drop the raw line (no normalizer reads it; it duplicates
        // every byte of `fields`) and route-cluster the batch cache so
        // each route's rescan prunes to its own columnar batches
        // (OcsfSink.routeClustered) — the 13 filters below otherwise
        // decompress the whole batch each time. The cache's partition
        // count follows the batch's estimated size: every route job
        // runs one task per cache partition, so a 64-object trigger of
        // FDR-sized lines caches as ONE partition (13 fan-out scan
        // tasks), and a backlog batch grows ~1 partition per MB of gz.
        // serialized + disk-spilling (cacheForFanOut): a backfill batch
        // that blows past maxFilesPerTrigger degrades linearly instead
        // of thrashing the storage pool
        val tBatch = System.nanoTime()
        val clustered = OcsfSink.cacheForFanOut(
          OcsfSink.routeClustered(batch.drop("raw")))
        // materialize the cache with ONE job before the 13 route jobs
        // fork: concurrent scans of an UNmaterialized persist each
        // recompute the partitions they race to (CacheManager stores
        // first-writer-wins but does not block the losers), so without
        // this cut the fan-out pays up to routes× the shuffle-read +
        // columnar-unroll cost — exactly the classify/fan-out split the
        // batch path (EtlBench) has always made
        clustered.count()
        val tCached = System.nanoTime()
        try {
          OcsfSink.fanOutIdempotent(clustered, baseDir, region, accountId,
            runId = batchId, filesPerDay = filesPerDay, routes = routes,
            timeout = batchTimeout)
          // one line per trigger (bounded, StreamMetrics-style): the
          // cache/fan-out split is the first thing a latency
          // investigation needs and Spark's progress only reports the
          // undivided addBatch total
          System.err.println(s"[graft] fanout batch $batchId: " +
            s"cache ${(tCached - tBatch) / 1000000} ms, " +
            s"routes ${(System.nanoTime() - tCached) / 1000000} ms")
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
            val conf = spark.sessionState.newHadoopConf()
            routes.foreach { route =>
              val table = new org.apache.hadoop.fs.Path(
                s"$baseDir/${OcsfSink.tableName(route)}")
              // maxBatchId = batchId - 1: THIS batch's pair must not
              // fold until the streaming checkpoint commits it — a
              // crash between an eager fold and the checkpoint would
              // replay the batch against an empty commit log and land
              // its rows twice (once via the merged manifest, once
              // restaged)
              try IdempotentSink.compactCommits(table.getFileSystem(conf),
                table, maxBatchId = batchId - 1)
              catch { case e: Exception => // deferred cleanup, never a batch failure
                System.err.println(
                  s"[graft] compactCommits($route) failed at batch $batchId: ${e.getMessage}")
              }
            }
          }
          ()
        } finally { clustered.unpersist(); () }
      }
      .start()
  }

  /** Exactly-once on an at-least-once landing feed: FDR can redeliver
    * objects (the reference relies on SQS redrive), so replayed lines
    * reappear with the same event id. Dedup on the id with a
    * watermark-bounded state TTL — state holds only ids younger than
    * the lateness bound, not the full history (the unbounded-state
    * trap of plain dropDuplicates on a stream).
    *
    * Rows missing `id` or a parseable `timestamp` are NOT dropped
    * (quarantine-not-drop, as in the load path): a missing id falls
    * back to a hash of the raw line — a redelivered object replays
    * byte-identical lines, so the raw hash still collapses true
    * redeliveries while distinct events (which differ at least in
    * payload) pass through — and a missing event time falls back to
    * the batch's processing time, keeping the row inside the
    * watermark. */
  def dedupedByEventId(classified: DataFrame, lateness: String = "10 minutes"): DataFrame =
    classified
      .withColumn("event_time",
        coalesce(Normalizers.epochToTimestamp(col("fields").getItem("timestamp")),
                 current_timestamp()))
      .withColumn("event_id",
        coalesce(col("fields").getItem("id"),
                 concat(lit("__raw__"), xxhash64(col("raw")).cast("string"))))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked windowed aggregation over the classified stream:
    * events per (route, 1-minute window), tolerating 5 minutes of
    * lateness — the streaming-analytics counterpart of
    * q_events_timebucket. */
  def windowedCounts(classified: DataFrame): DataFrame =
    classified
      .withColumn("event_time",
        Normalizers.epochToTimestamp(col("fields").getItem("timestamp")))
      .filter(col("event_time").isNotNull)
      .withWatermark("event_time", "5 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("route"))
      .agg(count(lit(1)).as("n_events"))

  /** Stream-static scoring — the lambda-architecture bridge: a model
    * relation built BATCH-side (per-route mean/σ rates from the
    * historical lake, e.g. the q_events_anomaly stats) joins onto the
    * live windowed counts so each arriving window carries its z-score
    * the moment it closes. The static side broadcasts (Spark re-reads
    * it per micro-batch, so a nightly model refresh is picked up
    * without restarting the query); routes the model has never seen
    * score null rather than dropping — an unknown route is the MOST
    * alert-worthy case (left join, never inner). Map-only on top of
    * [[windowedCounts]]'s state — no extra streaming state. */
  def scoredAgainstBaseline(classified: DataFrame, baseline: DataFrame): DataFrame =
    windowedCounts(classified)
      .join(broadcast(baseline), Seq("route"), "left")
      .withColumn("z",
        when(col("sigma") > 0.0,
          round((col("n_events") - col("mu")) / col("sigma"), 4))
          // A zero-variance KNOWN route is normal when the count hits the
          // historical constant exactly; any other count is off-model.
          // Without this a sigma=0 route would alert on every window, even
          // at n_events == mu, indistinguishable from the unknown-route case.
          .when(col("sigma") <= 0.0 && col("n_events") === col("mu"), lit(0.0)))
      .withColumn("anomalous", col("mu").isNull || col("z").isNull ||
        abs(col("z")) >= 2.0)
}
