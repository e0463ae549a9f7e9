package fdrbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession
import graft.ocsf.{IdempotentSink, OcsfMappings, OcsfSink, OcsfTables}
import graft.sources.FdrSource
import graft.streaming.EventStream

/** One benchmark run: sets up, runs one workload for a fixed time
  * through the program's public entry points, checks the outputs, and
  * writes a JSON result for `run.py`.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <workDir> <traceFile>
  *
  * Workloads (see README.md in this directory):
  *  - stream_catchup: a landed backlog drained by the production
  *    streaming query under Trigger.AvailableNow.
  *  - lake_query: a closed loop of lake queries over a lake the set-up
  *    builds with the batch sink.
  */
object Harness {

  val Region = "us-east-1"
  val Account = "123456789012"
  /** Commit-log namespace of the lake build (a backfill writer). */
  val BackfillWriter = "backfill"
  val tables: Seq[String] = OcsfMappings.routes.map(OcsfSink.tableName)

  /** Corpus sizes per workload: (lines, objects). The stream backlog is
    * two triggers of 64 objects (EventStream's maxFilesPerTrigger).
    * Small on purpose: every fan-out pays a fixed cost of 10-30 s on a
    * 4-core box, and a run must stay near a minute (BASELINE.md). */
  val StreamCorpus = (256, 128)
  val LakeCorpus = (400, 1)

  final class Run(val workload: String, val seed: Long, val seconds: Double,
                  val traced: Boolean, val work: Path) {
    val result = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    /** JVM start until the timed region, unscaled. */
    var setupS = 0.0
    var spark: SparkSession = _
    var tracer: Tracer = _
    val counters = new WorkCounters(tables)
    val progress = new ProgressLog

    def dir(name: String): Path = Files.createDirectories(work.resolve(name))

    /** Counts one output check; a failed check is recorded by name. */
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      attempted += 1
      if (!ok) { failed += 1; failures += s"$name $detail".trim }
    }
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, traceFile) = argv
    val r = new Run(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      Paths.get(workS).toAbsolutePath)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    try {
      r.spark = GraftSession.builder()
        .config("spark.local.dir", r.dir("spark-local").toString)
        .config("spark.sql.warehouse.dir", r.dir("warehouse").toString)
        .config("spark.sql.streaming.checkpointLocation", r.dir("ckpt-default").toString)
        .getOrCreate()
      r.spark.sparkContext.setLogLevel("WARN")
      r.tracer = new Tracer(workload, r.spark.sparkContext)
      r.spark.streams.addListener(r.progress)
      if (r.traced) r.spark.sparkContext.addSparkListener(r.counters)
      workload match {
        case "stream_catchup" => streamCatchup(r, jvmStartMs)
        case "lake_query" => lakeQuery(r, jvmStartMs)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      r.result("peak_rss_mb") = peakRssMb()
      System.err.println("[fdrbench] phases: " + r.tracer.all.filter(_.parent == -1)
        .map(s => f"${s.name} ${s.durMs / 1e3}%.1fs").mkString(", "))
      if (r.traced) {
        drainListenerBus(r.spark)
        r.layer("trace.spans") = r.tracer.all.size
        selfTimes(r)
        val w = Files.newBufferedWriter(Paths.get(traceFile), UTF_8)
        try (r.tracer.toJsonLines ++ r.counters.executionLines(r.tracer.wallToMs))
          .foreach { l => w.write(l); w.write("\n") }
        finally w.close()
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        r.attempted += 1; r.failed += 1
        r.failures += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      if (r.spark != null) r.spark.stop()
    }
    r.result("attempted") = r.attempted
    r.result("failed") = r.failed
    r.result("failures") = r.failures.toList
    r.result("layer") = r.layer.toMap
    Files.write(r.work.resolve("result.json"), Json(r.result.toMap).getBytes(UTF_8))
    ()
  }

  // ------------------------------------------------------------------
  // workloads

  /** The batch path's one unit of work: classify, route-cluster and
    * cache, fan out through the idempotent sink, then fold the batch's
    * commit pairs into compacted history. */
  private def backfillBatch(r: Run, landing: String, lake: String, writer: String): Unit = {
    val spark = r.spark
    val cached = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, landing).drop("raw")))
    try {
      r.tracer.span("cache") { cached.count() }
      r.tracer.span("fanout") {
        OcsfSink.fanOutIdempotent(cached, lake, Region, Account, runId = 1L, writerId = writer)
      }
    } finally { cached.unpersist(); () }
    r.tracer.span("sink.compact") {
      val conf = spark.sessionState.newHadoopConf()
      tables.foreach { t =>
        val dir = new HPath(s"$lake/$t")
        IdempotentSink.compactCommits(dir.getFileSystem(conf), dir, foldWriters = Set(writer))
      }
    }
  }

  /** A pre-landed backlog drained by the production streaming query,
    * started cold as a stream restarted after downtime is. */
  private def streamCatchup(r: Run, jvmStartMs: Long): Unit = {
    val landing = r.dir("landing")
    val exp = Corpus.write(landing, r.seed, StreamCorpus._1, StreamCorpus._2)
    r.setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val lake = r.work.resolve("lake").toString
    val ckpt = r.work.resolve("ckpt").toString
    val t = timed(r) {
      r.tracer.span("stream.drain") { drain(r, landing.toString, lake, ckpt) }
    }
    drainListenerBus(r.spark)
    val triggers = r.progress.all.filter(_.numInputRows > 0)
    val expectTriggers = (StreamCorpus._2 + Corpus.TriggerObjects - 1) / Corpus.TriggerObjects
    r.check("stream.triggers", triggers.size == expectTriggers,
      s"${triggers.size} != $expectTriggers")
    r.attempted += triggers.size * tables.size
    // drains exactly once: a restart over the drained backlog must find
    // nothing new and commit nothing
    val before = committedFileCount(r, lake)
    r.progress.clear()
    r.tracer.span("check.restart")(drain(r, landing.toString, lake, ckpt))
    drainListenerBus(r.spark)
    val replayRows = r.progress.all.map(_.numInputRows).sum
    r.check("stream.restart_reads_nothing", replayRows == 0, s"$replayRows rows")
    r.check("stream.restart_commits_nothing", committedFileCount(r, lake) == before)
    checkOutputs(r, landing.toString, exp, lake)
    report(r, t, triggers.map(_.durationMs.get("triggerExecution").toDouble),
      exp.mapped / t.wallS, t.cpuS, lake, exp)
    if (r.traced) {
      sourceLayers(r, landing.toString, exp)
      val drainSpan = r.tracer.byName("stream.drain").head
      val keys = triggers.map { p =>
        val start = r.tracer.wallToMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        r.tracer.record("stream.trigger", drainSpan.id, start,
          start + p.durationMs.get("triggerExecution").toDouble)
        (drainSpan.id, p.batchId)
      }
      etlLayers(r, keys, exp, lake)
      def med(k: String) = median(triggers.map(_.durationMs.getOrDefault(k, 0L).toDouble))
      r.layer("stream.latest_offset_ms") = med("latestOffset")
      r.layer("stream.query_planning_ms") = med("queryPlanning")
      r.layer("stream.add_batch_ms") = med("addBatch")
      r.layer("stream.wal_commit_ms") = med("walCommit")
      r.layer("stream.commit_offsets_ms") = med("commitOffsets")
      r.layer("stream.rows_per_trigger") = median(triggers.map(_.numInputRows.toDouble))
      r.layer("stream.triggers") = triggers.size
    }
  }

  private def drain(r: Run, landing: String, lake: String, ckpt: String): Unit =
    EventStream.start(r.spark, landing, lake, ckpt, Region, Account,
      trigger = Trigger.AvailableNow()).awaitTermination()

  /** Rounds of the lake query shapes over a lake the set-up lands. */
  private def lakeQuery(r: Run, jvmStartMs: Long): Unit = {
    val spark = r.spark
    val landing = r.dir("landing")
    val exp = Corpus.write(landing, r.seed, LakeCorpus._1, LakeCorpus._2)
    val lake = r.work.resolve("lake").toString
    r.tracer.span("lake.build") { backfillBatch(r, landing.toString, lake, BackfillWriter) }
    r.tracer.span("stats.build") {
      LakeQueries.WindowRoutes.foreach(t => OcsfTables.buildStats(spark, lake, t, Seq("time")))
    }
    val ops = LakeQueries.ops(spark, lake, exp, r.tracer)
    // one round first: cold plans and footers
    r.tracer.span("warmup.round")(ops.foreach { case (_, op) => op() })
    r.setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // closed loop, one client: rounds of every operation in turn, whole
    // rounds only so every run samples the operations in the same mix;
    // a round starts only if it should end within --seconds (at least one)
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val last = mutable.Map.empty[String, LakeQueries.Answer]
    var rowsQueried = 0L
    val rowsRead = LakeQueries.rowsRead(exp)
    val t = timed(r) {
      val start = r.tracer.nowMs
      var roundMs = 0.0
      while (samples.isEmpty || r.tracer.nowMs - start + roundMs <= r.seconds * 1e3) {
        val r0 = r.tracer.nowMs
        ops.foreach { case (name, op) =>
          val t0 = System.nanoTime()
          last(name) = r.tracer.span(s"query:$name")(op())
          samples += name -> (System.nanoTime() - t0) / 1e6
          rowsQueried += rowsRead(name)
        }
        roundMs = r.tracer.nowMs - r0
      }
    }
    r.attempted += samples.size
    checkOutputs(r, landing.toString, exp, lake)
    last.foreach { case (name, a) =>
      a.expected.foreach(e => r.check(s"query.$name", a.count == e, s"${a.count} != $e"))
    }
    // the oracle side (DuckDB over the same parquet) runs in run.py
    Files.write(r.work.resolve("answers.json"), Json(last.toMap.map { case (n, a) =>
      n -> Map("columns" -> a.columns, "rows" -> a.json)
    }).getBytes(UTF_8))
    report(r, t, samples.map(_._2).toSeq, rowsQueried / t.wallS, t.cpuS / samples.size, lake, exp)
    if (r.traced) {
      sourceLayers(r, landing.toString, exp)
      etlLayers(r, Seq((r.tracer.byName("lake.build").head.id, -1L)), exp, lake)
      samples.groupBy(_._1).foreach { case (n, xs) => r.layer(s"query.ms.$n") = median(xs.map(_._2).toSeq) }
      // the timed operations' spans and the table loads inside them
      val qSpans = r.tracer.all.filter(_.name.startsWith("query:")).map(_.id).toSet
      val loads = r.tracer.byName("tables.load").filter(s => qSpans(s.parent))
      val inQueries = qSpans ++ loads.map(_.id)
      r.layer("tables.load_ms") = median(loads.map(_.durMs))
      val c = r.counters.sum(k => inQueries(k.span))
      r.layer("query.tasks") = c.tasks.toDouble / samples.size
      r.layer("query.executor_cpu_s") = c.cpuS / samples.size
      r.layer("query.input_bytes") = c.input.toDouble / samples.size
      val prunes = r.counters.executions(k => inQueries(k.span)).filter(_._1 == "prune")
      r.layer("stats.prune_ms") = median(prunes.map { case (_, s, e) => (e - s).toDouble })
      val fs = new HPath(lake).getFileSystem(spark.sessionState.newHadoopConf())
      val kept = LakeQueries.windowPredicates(exp).map { case (route, cond) =>
        val dir = new HPath(s"$lake/${OcsfSink.tableName(route)}")
        OcsfTables.prunedFiles(spark, fs, dir, cond).size.toDouble /
          IdempotentSink.committedFiles(fs, dir).size
      }
      r.layer("stats.files_kept_ratio") = kept.sum / kept.size
    }
  }

  /** The timed region's process CPU and wall seconds. */
  private final case class Timed(cpuS: Double, wallS: Double)

  private def timed(r: Run)(body: => Unit): Timed = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    r.tracer.span("timed")(body)
    Timed((os.getProcessCpuTime - c0) / 1e9, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------------
  // checks

  /** Output checks. Here: the quarantine the program reports matches
    * what the generator planted. `run.py` then checks, over the files
    * the commit log names (`lake_files.json`), that per-route committed
    * rows equal the generator's counts and that the row ledger balances:
    * lines landed = committed rows + quarantined rows + blank lines. */
  private def checkOutputs(r: Run, landing: String, exp: Corpus.Expected, lake: String): Unit = {
    val q = r.tracer.span("check.quarantine")(quarantineCounts(r, landing))
    Seq("unparseable_json", "missing_event_key", "unmapped_event").foreach { reason =>
      val (got, want) = (q.getOrElse(reason, 0L), exp.quarantined.getOrElse(reason, 0L))
      r.check(s"quarantine.$reason", got == want, s"$got != $want")
    }
    Files.write(r.work.resolve("lake_files.json"), Json(tables.map { t =>
      t -> committedFiles(r, lake, t).map(_.toUri.getPath)
    }.toMap).getBytes(UTF_8))
    Files.write(r.work.resolve("ledger.json"), Json(Map(
      "lines" -> exp.lines, "blank" -> exp.blank, "quarantined" -> q,
      "expected_rows" -> exp.routeRows.map { case (rt, n) => OcsfSink.tableName(rt) -> n }
    )).getBytes(UTF_8))
  }

  private def quarantineCounts(r: Run, landing: String): Map[String, Long] =
    FdrSource.loadWithQuarantine(r.spark, landing).quarantined
      .groupBy("reason").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap

  // ------------------------------------------------------------------
  // reporting

  /** The end-to-end figures of a run. `lat` holds one sample per
    * operation; `cpuPerUnit` is process CPU seconds per unit of work. */
  private def report(r: Run, t: Timed, lat: Seq[Double], eventsPerS: Double,
                     cpuPerUnit: Double, lake: String, exp: Corpus.Expected): Unit = {
    r.result("setup_s") = r.setupS
    r.result("events_per_s") = eventsPerS
    r.result("op_ms_p50") = median(lat)
    r.result("op_ms_p90") = percentile(lat, 0.9)
    r.result("op_samples") = lat.size
    r.result("cpu_s") = cpuPerUnit
    r.result("lake_bytes_per_event") = lakeBytes(r, lake) / exp.mapped.toDouble
    r.result("timed_s") = t.wallS
  }

  /** Decompress + parse, then classify, each forced on its own over the
    * workload's landed corpus (outside the timed region). */
  private def sourceLayers(r: Run, landing: String, exp: Corpus.Expected): Unit = {
    val spark = r.spark
    var lines = 0L
    r.layer("sources.parse_ms") = timeMs {
      lines = FdrSource.readJsonLines(spark, landing)
        .agg(count(lit(1)), count(col("fields"))).head().getLong(0)
    }
    r.layer("sources.lines") = lines
    r.layer("sources.gz_bytes") = exp.gzBytes
    var kept = 0L
    var q = Map.empty[String, Long]
    r.layer("classify.ms") = timeMs {
      val l = FdrSource.loadWithQuarantine(spark, landing)
      kept = l.classified.count()
      q = l.quarantined.groupBy("reason").count().collect()
        .map(row => row.getString(0) -> row.getLong(1)).toMap
    }
    r.layer("classify.kept_ratio") = kept.toDouble / lines
    Seq("unparseable_json", "missing_event_key", "unmapped_event").foreach { reason =>
      r.layer(s"classify.quarantined.$reason") = q.getOrElse(reason, 0L).toDouble
    }
  }

  /** Layer figures of one unit of ETL work. `commitMs` is the part of
    * the fan-out phase during which no route write ran: planning and
    * the two-phase commit's file steps, outside any Spark job. */
  private final case class UnitLayers(cacheMs: Double, fanMs: Double, commitMs: Double,
                                      routeMs: Map[String, Double], fan: WorkCounters.Counts,
                                      cached: (Long, Long))

  /** Cache, fan-out and sink layers of the ETL path. `units` are the
    * (span, streaming batch) keys of each unit of work (a backfill
    * batch or a stream trigger); figures are medians over units, counts
    * are per unit. */
  private def etlLayers(r: Run, units: Seq[(Int, Long)], exp: Corpus.Expected, lake: String): Unit = {
    drainListenerBus(r.spark)
    val tr = r.tracer
    val descend: Int => Set[Int] = root => {
      val all = tr.all
      var ids = Set(root)
      var grew = true
      while (grew) {
        val next = ids ++ all.filter(s => ids(s.parent)).map(_.id)
        grew = next.size > ids.size
        ids = next
      }
      ids
    }
    val perUnit = units.map { case (spanId, batch) =>
      val ids = descend(spanId)
      val inUnit = (k: WorkCounters.Key) => ids(k.span) && (batch < 0 || k.batch == batch)
      val isWrite = (k: WorkCounters.Key) => k.table.nonEmpty && k.table != "prune"
      val iv = (xs: Seq[(String, Long, Long)]) =>
        xs.map { case (_, s, e) => (tr.wallToMs(s), tr.wallToMs(e)) }
      val writes = iv(r.counters.executions(k => inUnit(k) && isWrite(k)))
      // a micro-batch's own execution encloses the route writes it runs;
      // the executions beside them build the cache
      val (enclosing, cacheExecs) = iv(r.counters.executions(k => inUnit(k) && k.table.isEmpty))
        .partition { case (s, e) => writes.exists { case (ws, we) => s <= ws && we <= e } }
      val cacheMs = tr.all.find(s => s.name == "cache" && ids(s.id)).map(_.durMs)
        .getOrElse(Tracer.unionMs(cacheExecs, Double.MinValue, Double.MaxValue))
      // the fan-out phase: the wrapped call, or from the cache build's end
      // to the end of the micro-batch
      val (fanLo, fanHi) = tr.all.find(s => s.name == "fanout" && ids(s.id))
        .map(s => (s.startMs, s.endMs))
        .getOrElse((cacheExecs.map(_._2).maxOption.getOrElse(writes.map(_._1).min),
          enclosing.map(_._2).maxOption.getOrElse(writes.map(_._2).max)))
      val routeMs = r.counters.executions(k => inUnit(k) && isWrite(k)).groupBy(_._1)
        .map { case (t, xs) => t -> xs.map { case (_, s, e) => (e - s).toDouble }.sum }
      UnitLayers(cacheMs, fanHi - fanLo, fanHi - fanLo - Tracer.unionMs(writes, fanLo, fanHi),
        routeMs, r.counters.sum(k => inUnit(k) && isWrite(k)), r.counters.cached(inUnit))
    }
    def med(f: UnitLayers => Double) = median(perUnit.map(f))
    r.layer("cache.ms") = med(_.cacheMs)
    r.layer("cache.partitions") = med(_.cached._1.toDouble)
    r.layer("cache.bytes") = med(_.cached._2.toDouble)
    r.layer("fanout.ms") = med(_.fanMs)
    tables.foreach(t => r.layer(s"fanout.route_ms.$t") = med(_.routeMs.getOrElse(t, 0.0)))
    r.layer("fanout.jobs") = med(_.fan.jobs.toDouble)
    r.layer("fanout.stages") = med(_.fan.stages.toDouble)
    r.layer("fanout.tasks") = med(_.fan.tasks.toDouble)
    r.layer("fanout.useful_task_ratio") = med(u => u.fan.usefulTasks.toDouble / math.max(1L, u.fan.tasks))
    r.layer("fanout.task_deser_s") = med(_.fan.deserS)
    r.layer("fanout.executor_run_s") = med(_.fan.runS)
    r.layer("fanout.executor_cpu_s") = med(_.fan.cpuS)
    r.layer("fanout.gc_s") = med(_.fan.gcS)
    r.layer("fanout.shuffle_write_bytes") = med(_.fan.shuffleWrite.toDouble)
    r.layer("fanout.shuffle_read_bytes") = med(_.fan.shuffleRead.toDouble)
    r.layer("fanout.spill_bytes") = med(_.fan.spill.toDouble)
    r.layer("sink.commit_ms") = med(_.commitMs)
    val compact = tr.byName("sink.compact").filter(s => units.exists(u => descend(u._1)(s.id)))
    r.layer("sink.compact_ms") = if (compact.isEmpty) 0.0 else median(compact.map(_.durMs))
    val files = tables.flatMap(t => committedFiles(r, lake, t))
    r.layer("sink.files") = files.size
    r.layer("sink.bytes") = lakeBytes(r, lake)
    r.layer("sink.rows") = exp.mapped
  }

  /** Median self time per span name, over the timed region's spans
    * when it has any of that name (set-up spans otherwise). */
  private def selfTimes(r: Run): Unit = {
    val tr = r.tracer
    val timed = tr.byName("timed").headOption
    val inTimed = (s: Tracer.Span) => timed.exists(t => s.startMs >= t.startMs && s.startMs <= t.endMs)
    def report(name: String, pick: Tracer.Span => Boolean): Unit = {
      val all = tr.all.filter(pick)
      val spans = if (all.exists(inTimed)) all.filter(inTimed) else all
      r.layer(s"self_ms.$name") = if (spans.isEmpty) 0.0 else median(spans.map(tr.selfMs))
    }
    Seq("cache", "fanout", "sink.compact", "stream.drain", "stream.trigger",
      "lake.build", "tables.load").foreach(n => report(n, _.name == n))
    report("query", _.name.startsWith("query:"))
  }

  // ------------------------------------------------------------------
  // helpers

  private def committedFiles(r: Run, lake: String, table: String): Seq[HPath] = {
    val dir = new HPath(s"$lake/$table")
    val fs = dir.getFileSystem(r.spark.sessionState.newHadoopConf())
    if (IdempotentSink.hasCommitLog(fs, dir)) IdempotentSink.committedFiles(fs, dir) else Nil
  }

  private def committedFileCount(r: Run, lake: String): Int =
    tables.map(t => committedFiles(r, lake, t).size).sum

  private def lakeBytes(r: Run, lake: String): Double = {
    val conf = r.spark.sessionState.newHadoopConf()
    tables.flatMap(t => committedFiles(r, lake, t)).map(p => p.getFileSystem(conf).getFileStatus(p).getLen).sum.toDouble
  }

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Peak resident set of this process (Linux VmHWM). */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else new String(Files.readAllBytes(status), UTF_8).split("\n")
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(Double.NaN)
  }

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.FdrbenchBus.drain(spark.sparkContext)
}
