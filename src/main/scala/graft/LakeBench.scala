package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.ocsf.{IdempotentSink, OcsfTables}

/** Measures what the lake's read-side maintenance actually buys: the
  * same narrow predicate over the same committed table, scanned three
  * ways — (1) full manifest read + filter, (2) stats-pruned read
  * over the raw (unclustered) layout, (3) pruned read after a z-order
  * re-layout. Reports wall seconds and the FILE COUNTS each plan
  * opens, which is the number that survives the 1000-executor
  * scale-up: at 100 TB the full scan opens every object behind the
  * manifest, the pruned+clustered read opens only the few files whose
  * min-max boxes intersect the predicate.
  *
  * Usage: `runMain graft.LakeBench [nEvents] [days] [filesPerDay]`
  * (defaults 2M, 8, 8). Prints ONE JSON line. */
object LakeBench {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(2000000L)
    val days = args.lift(1).map(_.toInt).getOrElse(8)
    val filesPerDay = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = GraftSession.get()
    import spark.implicits._
    val route = "DNS Activity"
    val base = "file:" + java.nio.file.Files
      .createTempDirectory("lakebench").toString
    val tableDir = new Path(s"$base/dns_activity")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())

    // synthetic table: nEvents rows spread uniformly over `days` days,
    // severity cycling 0..99 decorrelated from time — so a (time x
    // severity) box predicate needs BOTH dimensions clustered to prune
    val day0 = 1700000000L // 2023-11-14T22:13:20Z
    val batches = 8
    val perBatch = nEvents / batches
    (0 until batches).foreach { b =>
      val df = spark.range(b * perBatch, (b + 1) * perBatch)
        .select(struct(concat(lit("u"), col("id")).as("uid")).as("metadata"),
          timestamp_seconds(lit(day0) +
            pmod(col("id") * 7919L, lit(days * 86400L))).as("time"),
          pmod(col("id") * 104729L, lit(100L)).cast("int").as("severity"))
      IdempotentSink.writeBatch(df, base, route, "us-east-1",
        "123456789012", batchId = b.toLong, filesPerDay = filesPerDay)
    }
    val committed0 = IdempotentSink.committedFiles(fs, tableDir).size
    // one day's one-hour window x a severity decile
    val cond = "time >= timestamp'2023-11-17 00:00:00' AND " +
      "time < timestamp'2023-11-17 01:00:00' AND " +
      "severity >= 40 AND severity < 50"

    def fullCount(): Long =
      OcsfTables.load(spark, base, route, verifyAppends = false)
        .filter(cond).count()
    def prunedCount(): Long =
      OcsfTables.loadWhere(spark, base, route, cond).count()

    val (nFull, tFull) = timed(fullCount())

    // stats over the RAW layout (each file spans all days x all
    // severities — stats exist but exclude nothing)
    val rawKept = OcsfTables.prunedFiles(spark, fs, tableDir, cond).size
    val (nRaw, tRaw) = timed(prunedCount())

    // z-order re-layout, whose manifest records the rewritten files'
    // stats: min-max boxes tighten on both dimensions and the same
    // predicate now skips most files
    IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = filesPerDay, zorderCols = Seq("time", "severity"))
    val committed1 = IdempotentSink.committedFiles(fs, tableDir).size
    val zKept = OcsfTables.prunedFiles(spark, fs, tableDir, cond).size
    val (nZ, tZ) = timed(prunedCount())

    require(nFull == nRaw && nRaw == nZ,
      s"row counts diverged: full=$nFull raw=$nRaw zorder=$nZ")

    // the full lake MAINTENANCE CYCLE in the loop (r18): GDPR-erase a
    // row slice (A27 deleteWhere — rewrite-not-tombstone), fold the
    // accumulated commit pairs (compactCommits), and re-measure the
    // SAME pruned read — the composition a
    // month of production (ingest + erasure requests + nightly
    // maintenance) actually runs, verified to keep the read fast and
    // exact rather than assumed to
    val inWindow = OcsfTables.loadWhere(spark, base, route, cond)
      .filter("metadata.uid like 'u19%'").count()
    val (nErased, tErase) = timed(
      IdempotentSink.deleteWhere(spark, tableDir,
        "metadata.uid like 'u19%'",
        filesPerDay = filesPerDay, zorderCols = Seq("time", "severity")))
    val (folded, tCompact) = timed(
      IdempotentSink.compactCommits(fs, tableDir))
    val committed2 = IdempotentSink.committedFiles(fs, tableDir).size
    val mKept = OcsfTables.prunedFiles(spark, fs, tableDir, cond).size
    val (nM, tM) = timed(prunedCount())
    require(nM == nZ - inWindow,
      s"post-erasure count wrong: $nM != $nZ - $inWindow")

    // ---- CYCLE 2 (r19 verdict item 8): the lifecycle CHAINED — a
    // second month of ingest lands ON TOP of the first cycle's
    // artifacts (compaction horizon, z-order layout headers), then the
    // same maintenance runs again. Every step
    // keeps exact row accounting, and time travel is probed on both
    // sides of the horizon: asOf AT the cycle-1 horizon serves the
    // exact post-erasure cycle-1 state; asOf BELOW it throws the
    // documented folded-history error rather than a wrong snapshot.
    def totalRows(): Long =
      OcsfTables.load(spark, base, route, verifyAppends = false).count()
    val total1 = totalRows()
    require(total1 == nEvents - nErased,
      s"cycle-1 accounting: $total1 != $nEvents - $nErased")
    val (_, tIngest2) = timed {
      (0 until batches).foreach { b =>
        val df = spark.range(nEvents + b * perBatch,
            nEvents + (b + 1) * perBatch)
          .select(struct(concat(lit("u"), col("id")).as("uid")).as("metadata"),
            timestamp_seconds(lit(day0) +
              pmod(col("id") * 7919L, lit(days * 86400L))).as("time"),
            pmod(col("id") * 104729L, lit(100L)).cast("int").as("severity"))
        IdempotentSink.writeBatch(df, base, route, "us-east-1",
          "123456789012", batchId = (batches + b).toLong,
          filesPerDay = filesPerDay)
      }
    }
    val total2 = totalRows()
    require(total2 == 2 * nEvents - nErased,
      s"cycle-2 ingest accounting: $total2 != ${2 * nEvents} - $nErased")
    // time travel is probed BEFORE the cycle-2 data rewrite: z-order
    // compaction merges batch files, so per-batch granularity only
    // survives until the maintenance slot runs — exactly the window a
    // lagging consumer has in production. The cycle-1 horizon sits at
    // the last folded batch (batches-1): asOf there must serve
    // cycle-1's exact post-erasure state...
    val horizon1 = (batches - 1).toLong
    val asOfBefore = OcsfTables.loadAsOf(spark, base, route, horizon1).count()
    require(asOfBefore == total1,
      s"asOf($horizon1) != cycle-1 state: $asOfBefore != $total1")
    // ...and asOf below it must refuse loudly (history folded)
    val belowHorizonThrew =
      try { OcsfTables.loadAsOf(spark, base, route, horizon1 - 1).count(); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("below the compaction horizon") }
    require(belowHorizonThrew,
      s"asOf(${horizon1 - 1}) below the horizon did not throw")
    // second erasure slice spans BOTH cycles' rows — the realistic
    // cross-history request. deleteWhere supersedes EVERY live pair by
    // design (prefix-closure of the horizon): after the erasure,
    // below-horizon history — which still contained the erased rows —
    // REFUSES to serve rather than resurrecting them. That refusal IS
    // the GDPR time-travel contract, asserted below.
    val eraseCond2 = "metadata.uid like 'u29%'"
    val (nErased2, tErase2) = timed(
      IdempotentSink.deleteWhere(spark, tableDir, eraseCond2,
        filesPerDay = filesPerDay, zorderCols = Seq("time", "severity")))
    val total3 = totalRows()
    require(total3 == total2 - nErased2,
      s"cycle-2 erase accounting: $total3 != $total2 - $nErased2")
    // GDPR contract: the snapshot that predates the erasure (and so
    // would contain erased rows) must now refuse, not resurrect
    val asOfAfterRefused =
      try { OcsfTables.loadAsOf(spark, base, route, horizon1).count(); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("below the compaction horizon") }
    require(asOfAfterRefused,
      s"asOf($horizon1) served a pre-erasure snapshot after the erase")
    // now the maintenance slot: z-order the union layout (cycle-1
    // rewrites + cycle-2 appends) and fold the control pairs — this is
    // where batch granularity is traded away
    val (_, tZ2) = timed(IdempotentSink.compactDataFiles(spark, tableDir,
      filesPerDay = filesPerDay, zorderCols = Seq("time", "severity")))
    val (folded2, tCompact2) = timed(
      IdempotentSink.compactCommits(fs, tableDir))
    // the horizon MOVED: the new fold owns everything through the last
    // cycle-2 batch — asOf at the new horizon serves the live state,
    // asOf below it now throws where it served cycle-1 state above
    val horizon2 = (2 * batches - 1).toLong
    val asOfFinal = OcsfTables.loadAsOf(spark, base, route, horizon2).count()
    require(asOfFinal == total3,
      s"asOf($horizon2) != live state: $asOfFinal != $total3")
    val belowHorizon2Threw =
      try { OcsfTables.loadAsOf(spark, base, route, horizon2 - 1).count(); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("below the compaction horizon") }
    require(belowHorizon2Threw,
      s"asOf(${horizon2 - 1}) below the moved horizon did not throw")
    val committed3 = IdempotentSink.committedFiles(fs, tableDir).size
    val c2Kept = OcsfTables.prunedFiles(spark, fs, tableDir, cond).size
    val (nC2, tC2) = timed(prunedCount())

    println(
      s"""{"metric":"lake_read","rows":$nFull,"events":$nEvents,"unit":"sec"""" +
      s""","full_scan_sec":${f"$tFull%.3f"},"files_total":$committed0""" +
      s""","pruned_raw_sec":${f"$tRaw%.3f"},"files_raw_kept":$rawKept""" +
      s""","pruned_zorder_sec":${f"$tZ%.3f"},"files_zorder_total":$committed1""" +
      s""","files_zorder_kept":$zKept""" +
      s""","erased_rows":$nErased,"erase_sec":${f"$tErase%.3f"}""" +
      s""","compacted_pairs":$folded,"compact_sec":${f"$tCompact%.3f"}""" +
      s""","post_maintenance_files_total":$committed2""" +
      s""","post_maintenance_files_kept":$mKept""" +
      s""","post_maintenance_pruned_sec":${f"$tM%.3f"}""" +
      s""","c2_ingest_sec":${f"$tIngest2%.3f"},"c2_total_rows":$total2""" +
      s""","c2_zorder_sec":${f"$tZ2%.3f"}""" +
      s""","c2_erased_rows":$nErased2,"c2_erase_sec":${f"$tErase2%.3f"}""" +
      s""","c2_compacted_pairs":$folded2,"c2_compact_sec":${f"$tCompact2%.3f"}""" +
      s""","c2_final_rows":$total3,"c2_files_total":$committed3""" +
      s""","c2_files_kept":$c2Kept,"c2_pruned_sec":${f"$tC2%.3f"}""" +
      s""","asof_horizon1_rows":$asOfBefore""" +
      s""","asof_below_horizon_threw":$belowHorizonThrew""" +
      s""","asof_after_erase_refused":$asOfAfterRefused""" +
      s""","asof_final_rows":$asOfFinal""" +
      s""","asof_below_moved_horizon_threw":$belowHorizon2Threw}""")
    spark.stop()
  }
}
