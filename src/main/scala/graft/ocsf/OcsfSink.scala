package graft.ocsf

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Security-Lake-layout parquet sink (SURVEY.md §2 A22–A23).
  *
  * The reference's Firehose converts normalized JSON to parquet and
  * dynamically partitions as `region=/accountId=/eventDay=`
  * (/root/reference/README.md:44-46,
  * src/json/qopcfdr_firehose_metadata.json). Here that is a plain
  * partitioned parquet write with the same key layout, one table per
  * OCSF sink route.
  *
  * Scale notes: `region`/`accountId` are constants per deployment and
  * `eventDay` is low-cardinality, so at one file per day a route's
  * write is coalesced to ONE task that sorts by the partition keys and
  * `time`: exactly one open file per (day × class) instead of
  * `numTasks × partitions` small files, and no shuffle. At 100 TB/day
  * `filesPerDay` > 1 repartitions on the keys plus a salt (not the
  * layout) to spread a single day across more writers.
  */
object OcsfSink {

  /** The Security-Lake partition layout, `region=/accountId=/eventDay=`,
    * with the one type every write, read and DDL gives it: STRING, as
    * the lake's Glue tables declare it. Declared, never inferred from
    * the paths, so an accountId `000011112222` reads back as written. */
  private[ocsf] val PartitionSchema: StructType =
    StructType(Seq("region", "accountId", "eventDay").map(StructField(_, StringType)))

  /** [[PartitionSchema]]'s column names, in directory order. */
  private[ocsf] val PartitionCols: Seq[String] = PartitionSchema.fieldNames.toSeq

  /** Table (directory) name for a sink route, e.g.
    * "Operating System Patch State" → `operating_system_patch_state`. */
  def tableName(route: String): String =
    route.toLowerCase.replace(' ', '_')

  /** Runs `body` on a DEDICATED, named, bounded pool sized to the
    * fan-out width, shut down when the body returns. The route writes
    * are blocking parquet jobs; parking them on the JVM-shared
    * fork-join pool (`ExecutionContext.global`) lets two concurrent
    * fan-outs in one JVM starve each other and everything else sharing
    * the global pool. Daemon threads; `shutdown()` is graceful, so a
    * timed-out straggler (its Spark jobs cancelled by the caller)
    * finishes on its own thread and the pool then dies — nothing leaks
    * past the last task. */
  private[graft] def withFanOutPool[T](threads: Int, name: String)(
      body: scala.concurrent.ExecutionContext => T): T = {
    val seq = new java.util.concurrent.atomic.AtomicInteger(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, threads),
      (r: Runnable) => {
        val t = new Thread(r, s"$name-${seq.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
    try body(scala.concurrent.ExecutionContext.fromExecutorService(pool))
    finally { pool.shutdown(); () }
  }

  /** Auto-sizing for [[partitionedFrame]]'s `filesPerDay`: Catalyst's size
    * estimate for the plan divided by a target in-memory chunk per
    * writer (512 MB in-memory ≈ 100-200 MB parquet after encoding),
    * clamped to [1, 4096]. Tiny inputs still get exactly one file per
    * (region, account, day) — the anti-small-files default — while a
    * 100 TB/day feed fans out across thousands of writers without the
    * caller having to remember the lever. Cheap: reads optimizer
    * stats, runs no job. */
  def autoFilesPerDay(df: DataFrame, targetChunkBytes: Long = 512L << 20): Int =
    autoFilesPerDayFromBytes(
      df.queryExecution.optimizedPlan.stats.sizeInBytes, targetChunkBytes)

  /** The same sizing from an already-known byte estimate — what
    * [[fanOutIdempotent]] uses: reading `optimizedPlan.stats` off each
    * route's NORMALIZED plan runs a full optimizer pass per route per
    * batch (measured ~5 s of driver time per 1M-event trigger across
    * the 13 routes), while the batch cache already knows its size. One
    * stats read per batch, divided across routes. */
  def autoFilesPerDayFromBytes(est: BigInt,
                               targetChunkBytes: Long = 512L << 20): Int =
    (est / targetChunkBytes).min(BigInt(4096)).max(BigInt(1)).toInt

  /** A22 — one normalized class DataFrame keyed for the Security Lake
    * layout: the staging half of [[IdempotentSink.writeBatch]]'s
    * two-phase commit, which must produce the exact final directory
    * layout. `time` must exist (all normalizers emit it).
    *
    * `filesPerDay` is the skew lever: how many writer tasks (and so
    * files) share one (region, account, day) partition. 0 derives it
    * from the input size ([[autoFilesPerDay]]). Above 1 it is an upper
    * bound: AQE may coalesce the salted shuffle into fewer files.
    *
    * At `filesPerDay` 1 the frame is `coalesce(1)` then ordered by
    * (region, accountId, eventDay, time): the single writer task sees
    * each day's rows contiguously, so it emits exactly one time-sorted
    * file per (route, eventDay) however many partitions the input has,
    * and the route runs as one stage. The repartition on the keys this
    * replaced cost every route a shuffle-map job plus an AQE re-plan
    * before its write (fdrbench `stream_catchup`: 26 → 13 fan-out jobs
    * and stages per trigger, same files). The cost moves the route's
    * cache scan and normalize onto the writer task, where the sort and
    * encode already ran.
    *
    * The order is a GLOBAL sort (`orderBy`), which needs no exchange
    * on one partition. Time-sorted files give parquet row groups tight
    * min/max stats on `time`, so any engine (this one, Athena/Trino
    * over the same prefix) skips row groups on the time-range
    * predicates that dominate security-lake queries. A local
    * `sortWithinPartitions` on these keys would not survive the write:
    * the planned write adds its own local sort by the partition keys,
    * and Spark's `EliminateSorts` drops a local sort beneath another
    * one (see [[saltedByDay]] for when it does not add one).
    *
    * Above 1, the frame is split by [[saltedByDay]], the same split a
    * data rewrite makes, and each of its files is time-sorted too. */
  private[ocsf] def partitionedFrame(df: DataFrame, region: String,
                                     accountId: String,
                                     filesPerDay: Int): DataFrame = {
    require(filesPerDay >= 0, "filesPerDay must be >= 0 (0 = auto)")
    val filesPerDay0 = if (filesPerDay == 0) autoFilesPerDay(df) else filesPerDay
    val day = df.withColumn("eventDay", date_format(col("time"), "yyyyMMdd"))
    val constants = Map("region" -> lit(region), "accountId" -> lit(accountId))
    if (filesPerDay0 == 1)
      day.withColumns(constants).coalesce(1).orderBy(PartitionCols.map(col) :+ col("time"): _*)
    else saltedByDay(day, filesPerDay0).withColumns(constants)
  }

  /** Rows spread over up to `filesPerDay` writers per (region,
    * accountId, eventDay): a shuffle on the partition keys `df` carries
    * plus, above 1, a `metadata.uid`/`time` salt in [0, filesPerDay),
    * then each writer's rows sorted by those keys and `time`, so every
    * file it writes is time-sorted. AQE may coalesce the shuffle, so
    * `filesPerDay` bounds the files per day from above.
    *
    * A route write adds its constant region/accountId only after this.
    * The planned write drops constant keys from the order it requires
    * but compares the frame's own order as written, so a sort naming
    * them fails the match: the write then adds its own sort by day,
    * and Spark drops this one beneath it. */
  private[ocsf] def saltedByDay(df: DataFrame, filesPerDay: Int): DataFrame = {
    val keys = PartitionCols.filter(df.columns.contains).map(col)
    val salt =
      if (filesPerDay == 1) Nil
      else Seq(pmod(xxhash64(col("metadata.uid"), col("time")), lit(filesPerDay)))
    df.repartition(keys ++ salt: _*).sortWithinPartitions(keys :+ col("time"): _*)
  }

  /** Route-clustered layout for the fan-out cache: repartitions the
    * classified relation on (route, salt), then sorts each partition by
    * route (local, no exchange), so each columnar cache batch holds
    * (nearly) one route. Every route write then filters `route === r`
    * against the cache, and `InMemoryTableScan` prunes whole batches
    * via its per-batch min/max stats: a 13-way fan-out decompresses ~1×
    * the data instead of 13×. Measured at 1M events, median-of-3
    * interleaved arms (BASELINE.md r9): fan-out 19.6 s plain → 10.2 s
    * clustered, total 22.5 → 13.4 s; the no-shuffle alternative
    * (`sortWithinPartitions` + small cache batches) recovered only
    * ~2.6 s of that.
    *
    * The batch is spread over P partitions with salt range ⌈P / 13⌉.
    * The salt hashes the event id (falling back to the extapi
    * timestamp key); rows where both are absent degrade to one
    * partition for that route, never lost. `InMemoryTableScan` prunes
    * batches inside a task, never tasks, so every route job still
    * launches one task per cache partition: P sets the fan-out's task
    * count (13 × P scan tasks), and P must follow the batch's size.
    *
    * `tasksPerRoute` > 0 pins P = 13 × tasksPerRoute. The default (0)
    * sizes P from the classified plan's size estimate
    * ([[clusterPartitions]]): P = clamp(⌈estimate / 7.5 MB⌉, 1,
    * 13 × 64). The estimate tracks the input: the classify is a map
    * lookup, and the estimate is ~7.4× the landed gz bytes on
    * EtlBench's corpus. What must stay bounded at scale is partition
    * SIZE: the cache-unroll of fat serialized blocks is where a
    * 16M-event backfill on a fixed 13 × 2 layout blew the default heap
    * (BASELINE.md r12 — OOM at 615k rows/partition; the same corpus
    * passes at 123k). EtlBench's 1M-event corpus (26 MB gz, ~192 MB
    * estimated) lands at 26 partitions of ~38k rows, the 13 × 2 layout
    * of the r9 A/B above; the rows per partition stay near that as the
    * batch grows, up to the cap at ~32M events. A micro-batch of a few
    * hundred lines estimates ~100 KB and caches as ONE partition: 13
    * scan tasks per trigger. On a 4-vCPU VM (fdrbench
    * `stream_catchup`, 64 objects per trigger) that halved the trigger
    * time against the ~124 partitions a join-inflated estimate gave. */
  def routeClustered(classified: DataFrame, tasksPerRoute: Int = 0): DataFrame = {
    require(tasksPerRoute >= 0, "tasksPerRoute must be >= 0 (0 = auto)")
    val nRoutes = OcsfMappings.routes.size
    val partitions =
      if (tasksPerRoute > 0) nRoutes * tasksPerRoute
      else clusterPartitions(classified.queryExecution.optimizedPlan.stats.sizeInBytes, nRoutes)
    val salt = pmod(xxhash64(coalesce(col("fields").getItem("id"),
      col("fields").getItem("UTCTimestamp"), lit(""))),
      lit((partitions + nRoutes - 1) / nRoutes))
    classified.repartition(partitions, col("route"), salt)
      .sortWithinPartitions(col("route"))
  }

  /** Estimated classified bytes per fan-out cache partition. */
  private val ClusterPartitionBytes: Long = 7500000L

  /** The pure sizing behind [[routeClustered]]'s default (separated,
    * like [[admittedRoutes]], so the policy is spec-pinnable): total
    * cache partitions P = clamp(⌈estimate / 7.5 MB⌉, 1, routes × 64). */
  private[ocsf] def clusterPartitions(estimate: BigInt, nRoutes: Int): Int =
    ((estimate + ClusterPartitionBytes - 1) / ClusterPartitionBytes)
      .min(BigInt(nRoutes) * 64).max(BigInt(1)).toInt

  /** Heap-proof persist for the fan-out cache: MEMORY_AND_DISK_SER,
    * never the `.cache()` default (MEMORY_AND_DISK, deserialized).
    * The 13 concurrent route writes rescan this relation while their
    * own shuffle/encode work competes for the same unified memory; a
    * batch whose deserialized columnar cache outgrows the storage pool
    * used to fall off a cliff (BASELINE.md: 163.5k ev/s at 24 g heap vs
    * 51.3k at the default 8 g on 4M events — eviction + GC thrash, 3.2×
    * over linear). Serialized batches are both smaller on heap and
    * cheap to evict to local disk, so an oversized micro-batch degrades
    * linearly (disk-read per rescan) instead of thrashing. The
    * streaming path sizes batches with `maxFilesPerTrigger`, but the
    * cache must stay safe when a backfill batch blows past the cap. */
  def cacheForFanOut(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Admission control for [[fanOutIdempotent]]: how many route WRITE
    * JOBS may run at once before the next one queues on the bounded
    * pool, from the batch's size estimate `batchBytes`.
    *
    * Why it exists: every open parquet writer buffers up to a full row
    * group (`parquet.block.size`, default 128 MB) of UNTRACKED heap —
    * Spark's memory manager never sees it — and a fan-out runs
    * `routes × filesPerDay` writers concurrently on top of a storage
    * pool already pinned by the fan-out cache. On a small heap that is
    * exactly where an oversized batch dies (BASELINE.md, 32M events @
    * 8 g: the cache-unroll lever moved the boundary and the 13
    * concurrent `ParquetWriteSupport`s then OOM'd). Staggering route
    * jobs trades fan-out latency for a bounded write-buffer peak — the
    * degraded-LINEAR failure mode, like the serialized cache before it.
    *
    * Sizing: a route's write-buffer peak is its writer-task count
    * (`filesPerDay`) × the row-group cap — but a writer never buffers
    * more than the route's actual data, so small batches are charged
    * `~batchBytes / routes` instead of the cap (this is why a 1M-event
    * batch still runs all 13 routes wide: its per-route slice is a few
    * MB and admission control is a no-op). ×2 for encode transients
    * (dictionary pages + the in-flight flush). The budget is half the
    * heap minus what the storage pool ACTUALLY holds right now
    * (`getRDDStorageInfo` — the fan-out cache the route jobs rescan),
    * floored at heap/8 so at least one route is always admitted.
    *
    * A real cluster rarely needs this lever (each executor's writers
    * share that executor's heap only), but the same arithmetic holds
    * per-executor when `filesPerDay` is sized to the whole cluster. */
  def autoConcurrentRoutes(spark: SparkSession, batchBytes: BigInt,
                           filesPerDay: Int, nRoutes: Int): Int = {
    val sc = spark.sparkContext
    admittedRoutes(
      heapBytes = Runtime.getRuntime.maxMemory,
      storageUsedBytes = sc.getRDDStorageInfo.map(_.memSize).sum,
      rowGroupBytes = sc.hadoopConfiguration
        .getLong("parquet.block.size", 128L << 20),
      batchBytes = batchBytes, filesPerDay = filesPerDay, nRoutes = nRoutes)
  }

  /** The pure admission arithmetic behind [[autoConcurrentRoutes]]
    * (separated so the sizing policy is spec-pinnable without a
    * telemetry harness). See that method's scaladoc for the model. */
  private[ocsf] def admittedRoutes(heapBytes: Long, storageUsedBytes: Long,
                                   rowGroupBytes: Long, batchBytes: BigInt,
                                   filesPerDay: Int, nRoutes: Int): Int = {
    val writers = math.max(1, filesPerDay).toLong
    val perRoute = ((batchBytes / nRoutes).min(BigInt(writers * rowGroupBytes))
      .max(BigInt(16L << 20)) * 2).toLong
    val budget = math.max(heapBytes / 8, heapBytes / 2 - storageUsedBytes)
    math.max(1L, math.min(nRoutes.toLong, budget / perRoute)).toInt
  }

  /** A23 — the 13-way fan-out, the one write path of batch and stream:
    * normalize every route off the same classified relation and land
    * each in its own table through [[IdempotentSink]]'s two-phase
    * commit, keyed by `runId` (the streaming batch id, or e.g. a batch
    * job's ingest day). Re-running a `runId` after a crash or timeout
    * skips the routes that already committed and resumes or restages
    * the rest. Cache `classified` first ([[routeClustered]],
    * [[cacheForFanOut]], one `count()`): every route rescans it.
    *
    * The route jobs run concurrently (sequential submission made the
    * latency the sum instead of the max) on a pool created per call,
    * from the calling thread, so they inherit its Spark local
    * properties (the streaming batch id, a job group). The batch's size
    * estimate is read once: it sizes the writers per (route, day) when
    * `filesPerDay` is 0 (ONE file per (route, day) below 512 MB a
    * route) and the pool width ([[autoConcurrentRoutes]]).
    *
    * `writerId` namespaces the commit log of a job running BESIDE the
    * live stream, which owns the empty namespace (see
    * [[IdempotentSink]]); retire a finished backfill with
    * `compactCommits(foldWriters = Set(writerId))`.
    *
    * `timeout` bounds the wait: a wedged route write (a stuck remote
    * upload) throws a `TimeoutException` naming the stuck routes
    * instead of hanging the caller. The call's route jobs carry one job
    * tag (named in the message), and a timeout cancels them: running
    * jobs are cancelled, a route body still queued never starts, and a
    * job a body submits after the cancel is cancelled as it starts. A
    * tag rather than a job group, so a streaming query's own group
    * still cancels its batch. A cancelled write that already staged
    * files is fenced by the generation token once the `runId` is
    * replayed.
    *
    * Returns each route's wall seconds, measured inside its future, so
    * contention between the concurrent writes is included. */
  def fanOutIdempotent(classified: DataFrame, baseDir: String,
                       region: String, accountId: String,
                       runId: Long, writerId: String = "",
                       filesPerDay: Int = 0,
                       routes: Seq[String] = OcsfMappings.routes,
                       timeout: Duration = Duration.Inf): Map[String, Double] = {
    val est = classified.queryExecution.optimizedPlan.stats.sizeInBytes
    val fpd =
      if (filesPerDay > 0) filesPerDay
      else autoFilesPerDayFromBytes(est / math.max(1, routes.size))
    val width = autoConcurrentRoutes(classified.sparkSession, est, fpd, routes.size)
    val sc = classified.sparkSession.sparkContext
    val tag = s"graft-fanout-$runId-${java.util.UUID.randomUUID()}"
    val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
    withFanOutPool(width, "graft-fanout") { implicit ec =>
      // the pool threads are created while the futures are queued and
      // inherit the calling thread's local properties, the tag included
      sc.addJobTag(tag)
      val jobs =
        try routes.map { route =>
          // the attempt begins here, on the calling thread: a replay of
          // this runId supersedes every write this call queued
          val land = IdempotentSink.begin(classified.sparkSession, baseDir, route,
            region, accountId, runId, fpd, writerId)
          route -> Future {
            if (cancelled.get)
              throw new java.util.concurrent.CancellationException(s"$tag timed out")
            val t0 = System.nanoTime()
            land(Normalizers.byRoute(route)(classified.filter(col("route") === route)))
            route -> (System.nanoTime() - t0) / 1e9
          }
        } finally sc.removeJobTag(tag)
      try Await.result(Future.sequence(jobs.map(_._2)), timeout).toMap
      catch {
        case _: TimeoutException =>
          cancelRouteJobs(sc, tag, cancelled, jobs.map(_._2))
          val stuck = jobs.collect { case (r, f) if !f.isCompleted => r }
          throw new TimeoutException(s"fan-out batch $runId (job tag $tag) " +
            s"exceeded $timeout; stuck routes: ${stuck.mkString(", ")}")
      }
    }
  }

  /** Cancels a timed-out fan-out's route jobs: bodies not yet started
    * see `cancelled` and never run, and every job tagged `tag` is
    * cancelled. A body already past that check may still submit its
    * write job (its planning runs inside the write call), and
    * `cancelJobsWithTag` only reaches running jobs, so a listener
    * cancels such a job as it starts until every body has finished.
    * The listener is added before the tag is cancelled, so no job
    * slips between the two. */
  private def cancelRouteJobs(sc: org.apache.spark.SparkContext, tag: String,
                              cancelled: java.util.concurrent.atomic.AtomicBoolean,
                              bodies: Seq[Future[_]]): Unit = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    cancelled.set(true)
    val late = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag)))
          sc.cancelJob(e.jobId, s"fan-out $tag timed out")
    }
    sc.addSparkListener(late)
    sc.cancelJobsWithTag(tag, s"fan-out $tag timed out")
    val left = new java.util.concurrent.atomic.AtomicInteger(bodies.size)
    bodies.foreach(_.onComplete { _ =>
      if (left.decrementAndGet() == 0) sc.removeSparkListener(late)
    }(scala.concurrent.ExecutionContext.parasitic))
  }
}
