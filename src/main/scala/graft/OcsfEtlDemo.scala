package graft

import graft.ocsf.OcsfSink
import graft.sources.FdrSource

/** End-to-end ETL example: gz FDR landing dir → classified events →
  * 13-way OCSF fan-out in Security Lake layout. Usage:
  * {{{ runMain graft.OcsfEtlDemo <landingPath> <outDir> }}} */
object OcsfEtlDemo {
  def main(args: Array[String]): Unit = {
    val Array(landing, outDir) = args
    val spark = GraftSession.get()
    // route-clustered cache: the 13 route writes rescan this, and
    // clustering lets each rescan prune to its own columnar batches
    val classified = OcsfSink.cacheForFanOut(OcsfSink.routeClustered(
      FdrSource.load(spark, landing).drop("raw")))
    try {
      println(s"[demo] classified events: ${classified.count()}")
      classified.groupBy("route").count().show(20, truncate = false)
      // runId keys the exactly-once commit: a rerun skips landed routes
      OcsfSink.fanOutIdempotent(classified, outDir, "us-east-1", "123456789012", runId = 1L)
    } finally { classified.unpersist(); () }
    println(s"[demo] wrote OCSF tables under $outDir")
    // consumption surface: SQL over the normalized lake
    val views = graft.ocsf.OcsfTables.registerAll(spark, outDir)
    println(s"[demo] registered views: ${views.mkString(", ")}")
    views.headOption.foreach { v =>
      spark.sql(
        s"SELECT class_name, activity_name, status, count(*) AS n FROM $v GROUP BY 1, 2, 3"
      ).show(10, truncate = false)
    }
    spark.stop()
  }
}
