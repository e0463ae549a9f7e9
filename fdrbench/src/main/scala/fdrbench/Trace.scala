package fdrbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spans recorded by the benchmark around its calls into each layer of
  * the program: name, start, end, parent span, and the workload they
  * belong to. Spans live in memory and are written out when the run
  * ends. Times are milliseconds since the tracer was created.
  *
  * [[span]] also tags every Spark job the body starts (including jobs
  * started from threads the body creates, which inherit Spark's local
  * properties) with the span id, so [[WorkCounters]] can attribute
  * work to the innermost enclosing span.
  */
final class Tracer(val workload: String, sc: SparkContext) {
  import Tracer._

  private val t0Ns = System.nanoTime()
  /** Wall-clock instant of `t0Ns`, to place listener events (which
    * carry wall-clock milliseconds) on the same axis. */
  val t0WallMs: Double = System.currentTimeMillis().toDouble
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def wallToMs(wallMs: Long): Double = wallMs - t0WallMs

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, workload, nowMs, Double.NaN)
    spans.synchronized(spans += s)
    stack = s.id :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  /** A span whose interval was observed rather than wrapped, e.g. a
    * streaming trigger reported by its progress event. */
  def record(name: String, parent: Int, startMs: Double, endMs: Double): Unit =
    spans.synchronized(spans += Span(spans.size, parent, name, workload, startMs, endMs))

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def byName(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time: the span's duration minus the part of it its child
    * spans cover. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    s.durMs - Tracer.unionMs(kids, s.startMs, s.endMs)
  }

  def toJsonLines: Seq[String] = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","workload":"${s.workload}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":${selfMs(s)}%.3f}"""
  }
}

object Tracer {
  val SpanKey = "fdrbench.span"

  final case class Span(id: Int, parent: Int, name: String, workload: String,
                        startMs: Double, var endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var end = lo
    intervals.sortBy(_._1).foreach { case (s0, e0) =>
      val s = math.max(s0, end)
      val e = math.min(e0, hi)
      if (e > s) { covered += e - s; end = e }
    }
    covered
  }
}

/** Work counters from Spark's own listener bus, registered by the
  * benchmark from outside the program. Every job is keyed by the span
  * that started it, the streaming batch it belongs to (if any), and the
  * sink table its SQL execution writes (if it is a route write), so a
  * counter can be summed for exactly one layer. */
final class WorkCounters(tableNames: Seq[String]) extends SparkListener {
  import WorkCounters._

  private val stageKey = mutable.Map.empty[Int, Key]
  private val execTable = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val agg = mutable.Map.empty[Key, Counts]
  /** (key, table, start wall ms, end wall ms) of finished SQL
    * executions. */
  private val execs = mutable.ArrayBuffer.empty[(Key, String, Long, Long)]
  private val execKey = mutable.Map.empty[Long, Key]

  /** Persisted RDDs: id → (key of the job that built it, partitions). */
  private val cachedRdds = mutable.Map.empty[Int, (Key, Int)]
  private val blockBytes = mutable.Map.empty[org.apache.spark.storage.BlockId, Long]

  private def counts(k: Key): Counts = agg.getOrElseUpdate(k, new Counts)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach { k =>
      e.stageInfo.rddInfos.filter(i => i.storageLevel.useMemory || i.storageLevel.useDisk)
        .foreach(i => if (!cachedRdds.contains(i.id)) cachedRdds(i.id) = (k, i.numPartitions))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blockBytes(b.blockId) = b.memSize + b.diskSize
  }

  /** (partitions, stored bytes) of the persisted RDDs built under keys
    * `pick` accepts. */
  def cached(pick: Key => Boolean): (Long, Long) = synchronized {
    val ids = cachedRdds.collect { case (id, (k, _)) if pick(k) => id }.toSet
    val parts = cachedRdds.collect { case (id, (_, n)) if ids(id) => n.toLong }.sum
    val bytes = blockBytes.collect {
      case (org.apache.spark.storage.RDDBlockId(rdd, _), n) if ids(rdd) => n
    }.sum
    (parts, bytes)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val plan = e.physicalPlanDescription
        val isWrite = plan.contains("InsertIntoHadoopFsRelationCommand")
        execTable(e.executionId) =
          if (isWrite) tableNames.find(t => plan.contains(s"/$t/")).getOrElse("?")
          else if (plan.contains("/_stats/index")) "prune"
          else ""
        execStart(e.executionId) = e.time
      case e: SparkListenerSQLExecutionEnd =>
        for (k <- execKey.get(e.executionId); s <- execStart.get(e.executionId))
          execs += ((k, execTable.getOrElse(e.executionId, ""), s, e.time))
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(n: String) = p.flatMap(x => Option(x.getProperty(n)))
    val exec = prop("spark.sql.execution.id").map(_.toLong)
    val k = Key(prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1),
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
      exec.flatMap(execTable.get).getOrElse(""))
    exec.foreach(x => execKey.getOrElseUpdate(x, k))
    e.stageIds.foreach(stageKey(_) = k)
    counts(k).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(counts(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageKey.get(e.stageId).foreach { k =>
      val c = counts(k)
      c.tasks += 1
      val rows = m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten +
        m.outputMetrics.recordsWritten
      if (rows > 0) c.usefulTasks += 1
      c.deserS += m.executorDeserializeTime / 1e3
      c.runS += m.executorRunTime / 1e3
      c.cpuS += m.executorCpuTime / 1e9
      c.gcS += m.jvmGCTime / 1e3
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
    }
  }

  /** Sum of the counters over every key `pick` accepts. */
  def sum(pick: Key => Boolean): Counts = synchronized {
    val out = new Counts
    agg.foreach { case (k, c) => if (pick(k)) out.add(c) }
    out
  }

  /** Every finished SQL execution as a JSON line, for the trace file. */
  def executionLines(toMs: Long => Double): Seq[String] = synchronized {
    execs.map { case (k, t, s, e) =>
      f"""{"kind":"execution","span":${k.span},"batch":${k.batch},"table":"$t","start_ms":${toMs(s)}%.3f,"end_ms":${toMs(e)}%.3f}"""
    }.toList
  }

  /** Finished SQL executions `pick` accepts: (table, start, end) in
    * wall-clock ms; table is "" for anything but a route write. */
  def executions(pick: Key => Boolean): Seq[(String, Long, Long)] = synchronized {
    execs.collect { case (k, t, s, e) if pick(k) => (t, s, e) }.toList
  }
}

object WorkCounters {
  /** `table` is the sink table a route write lands in, "prune" for a
    * stats-index lookup, "" for any other job. */
  final case class Key(span: Int, batch: Long, table: String)

  final class Counts {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var usefulTasks = 0L
    var deserS = 0.0; var runS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; usefulTasks += o.usefulTasks
      deserS += o.deserS; runS += o.runS; cpuS += o.cpuS; gcS += o.gcS
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; input += o.input
    }
  }
}

/** Collects every streaming progress report. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized(buf += e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = synchronized(buf.toList)
  def clear(): Unit = synchronized(buf.clear())
}
