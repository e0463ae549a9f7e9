package graft.ocsf

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import graft.sources.FdrSource

/** Catalog registration ([[OcsfTables.registerCatalog]]) — the
  * reference's Glue/Athena surface: persistent `CREATE TABLE … USING
  * parquet LOCATION` tables from the frozen DDL, queryable by name
  * from any SQL client on the metastore, with directory-partition
  * pruning, idempotent re-registration, and partition recovery after
  * new ingest days. */
class CatalogSpec extends graft.SparkSpec {

  private def writeGz(dir: Path, name: String, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(dir.resolve(name).toFile)), "UTF-8"))
    lines.foreach { l => w.write(l); w.write("\n") }
    w.close()
  }

  // two DNS events on different days → two eventDay partition dirs
  private def dnsLine(id: Int, tsMs: Long): String =
    s"""{"event_simpleName":"DnsRequest","name":"DnsRequestV4","aid":"aid-$id","cid":"cid-$id","id":"evt-$id","timestamp":"$tsMs","event_platform":"Lin","DomainName":"host$id.example.com"}"""

  test("registerCatalog: query by name, partition pruning, idempotent re-register, new-day recovery") {
    val landing = Files.createTempDirectory("cat-landing")
    val lake = Files.createTempDirectory("cat-lake")
    // 1700000000000 = 2023-11-14; +86400000 = 2023-11-15
    writeGz(landing, "a.gz", Seq(dnsLine(1, 1700000000000L),
      dnsLine(2, 1700000000000L + 86400000L)))
    val classified = FdrSource.load(spark, landing.toString)
    OcsfSink.fanOutIdempotent(classified, lake.toString, "us-east-1", "123456789012",
      runId = 1L)

    val db = "ocsf_cat_spec"
    val tables = OcsfTables.registerCatalog(spark, lake.toString, db)
    assert(tables.size == OcsfMappings.routes.size)
    assert(tables.contains(s"$db.dns_activity"))

    // resolves BY NAME through the catalog — no path in the query
    val q = spark.sql(s"SELECT count(*) AS n FROM $db.dns_activity")
    assert(q.head().getLong(0) == 2)

    // partition pruning: an eventDay predicate must reach the scan as a
    // partition filter (pruned before any file IO), and the pruned read
    // returns only that day's row
    val pruned = spark.sql(
      s"SELECT metadata.uid FROM $db.dns_activity WHERE eventDay = '20231114'")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("eventDay"),
      s"eventDay not pushed as a partition filter:\n$plan")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("evt-1"))

    // idempotent: re-registering neither fails nor changes the data
    val again = OcsfTables.registerCatalog(spark, lake.toString, db)
    assert(again == tables)
    assert(spark.sql(s"SELECT count(*) FROM $db.dns_activity").head().getLong(0) == 2)

    // a NEW ingest day lands, re-register recovers the new partition
    val landing2 = Files.createTempDirectory("cat-landing2")
    writeGz(landing2, "b.gz", Seq(dnsLine(3, 1700000000000L + 2 * 86400000L)))
    OcsfSink.fanOutIdempotent(FdrSource.load(spark, landing2.toString),
      lake.toString, "us-east-1", "123456789012", runId = 2L)
    OcsfTables.registerCatalog(spark, lake.toString, db)
    assert(spark.sql(s"SELECT count(*) FROM $db.dns_activity").head().getLong(0) == 3)
    assert(spark.sql(s"SELECT count(*) FROM $db.dns_activity " +
      "WHERE eventDay = '20231116'").head().getLong(0) == 1)

    // the frozen-DDL schema surface is there even for routes with no
    // data yet: the table exists and serves an empty, typed result
    assert(spark.sql(s"SELECT class_uid FROM $db.authentication").count() == 0)
  }
}
