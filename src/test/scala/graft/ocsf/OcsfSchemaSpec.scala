package graft.ocsf

import java.nio.file.{Files, Paths}
import graft.SparkSpec

/** Per-route schema contract: every normalizer's output StructType is
  * pinned to a checked-in DDL (src/test/resources/schemas/), mirroring
  * the reference's explicit Glue schema per class — Firehose record
  * conversion there would fail loudly on drift, and so does this spec.
  * Intentional changes: regenerate via `runMain graft.ocsf.SchemaDump`
  * and review the diff. */
class OcsfSchemaSpec extends SparkSpec {

  test("all 13 route schemas match their frozen DDL") {
    val dir = Paths.get("src/test/resources/schemas")
    assume(Files.exists(dir), "schema resources missing")
    val actual = SchemaDump.schemas(spark)
    assert(actual.size == 13)
    val drifted = actual.flatMap { case (table, ddl) =>
      val pinned = new String(
        Files.readAllBytes(dir.resolve(s"$table.ddl")), "UTF-8").trim
      if (pinned == ddl.trim) None
      else Some(s"$table:\n  pinned: $pinned\n  actual: $ddl")
    }
    assert(drifted.isEmpty,
      "schema drift (regenerate with SchemaDump if intentional):\n" +
        drifted.mkString("\n"))
  }

  test("schema evolution: additive is accepted, drop/retype rejected loudly") {
    import org.apache.spark.sql.types._
    val v1 = StructType.fromDDL("a STRING, b BIGINT")
    val v2 = StructType.fromDDL("a STRING, b BIGINT, c DOUBLE")
    assert(SchemaEvolution.requireAdditive(v1, v2, "t").map(_.name) == Seq("c"))
    assert(SchemaEvolution.requireAdditive(v1, v1, "t").isEmpty)
    val dropped = intercept[IllegalStateException] {
      SchemaEvolution.requireAdditive(v2, v1, "t")
    }
    assert(dropped.getMessage.contains("dropped"))
    val retyped = intercept[IllegalStateException] {
      SchemaEvolution.requireAdditive(v1,
        StructType.fromDDL("a STRING, b STRING, c DOUBLE"), "t")
    }
    assert(retyped.getMessage.contains("changed type"))
  }

  test("schema evolution: a table with pre- and post-evolution batches reads as the union") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Files.createTempDirectory("evo-lake")
    def batch(uid: String, day: String) = Seq((uid, day)).toDF("uid", "day")
      .select(struct(col("uid")).as("metadata"),
        to_timestamp(concat(col("day"), lit(" 12:00:00"))).as("time"))
    // v1 history: two committed batches without the evolved column
    IdempotentSink.writeBatch(batch("e0", "2023-11-14"), base.toString,
      "DNS Activity", "us-east-1", "123456789012", batchId = 0L)
    IdempotentSink.writeBatch(batch("e1", "2023-11-15"), base.toString,
      "DNS Activity", "us-east-1", "123456789012", batchId = 1L)
    // the evolution is vetted additive BEFORE any v2 batch lands — the
    // deploy-time gate an operator runs when bumping the DDL version
    val v1 = batch("x", "2023-11-14").schema
    val v2batch = batch("e2", "2023-11-16")
      .withColumn("risk_score", lit(0.7))
    assert(SchemaEvolution.requireAdditive(v1, v2batch.schema, "dns")
      .map(_.name) == Seq("risk_score"))
    IdempotentSink.writeBatch(v2batch, base.toString,
      "DNS Activity", "us-east-1", "123456789012", batchId = 2L)
    // readers crossing the boundary: union schema, nulls before the add
    val evolved = OcsfTables.load(spark, base.toString, "DNS Activity",
      mergeSchemas = true)
    assert(evolved.columns.contains("risk_score"))
    val rows = evolved.select(col("metadata.uid"), col("risk_score"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(rows == Map("e0" -> None, "e1" -> None, "e2" -> Some(0.7)))
    // the session-wide merge setting crosses the boundary the same way
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    val sessionMerged =
      try OcsfTables.load(spark, base.toString, "DNS Activity")
        .select(col("metadata.uid"), col("risk_score")).collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(sessionMerged == rows)
    // a non-additive v3 (retyping the evolved column) is refused at the
    // same gate — committed history would become unreadable
    intercept[IllegalStateException] {
      SchemaEvolution.requireAdditive(v2batch.schema,
        batch("y", "2023-11-16").withColumn("risk_score", lit("high")).schema,
        "dns")
    }
  }

  test("schema evolution: registerCatalog ALTERs an additively-drifted catalog table") {
    import java.nio.file.Files
    val lake = Files.createTempDirectory("evo-cat")
    val db = "ocsf_evo_spec"
    val ddls = SchemaDump.schemas(spark)
    // a catalog table registered under an OLD contract: the frozen DDL
    // minus its last data column (simulates a pre-evolution deploy)
    val full = org.apache.spark.sql.types.StructType.fromDDL(ddls("dns_activity"))
    val old = org.apache.spark.sql.types.StructType(full.fields.dropRight(1))
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(
      s"""CREATE TABLE `$db`.`dns_activity` (${old.toDDL},
         |  region STRING, accountId STRING, eventDay STRING)
         |USING parquet
         |PARTITIONED BY (region, accountId, eventDay)
         |LOCATION '$lake/dns_activity'""".stripMargin)
    val before = spark.table(s"`$db`.`dns_activity`").schema.fieldNames.toSet
    assert(!before.contains(full.fields.last.name))
    // re-register under the CURRENT contract: the delta is appended
    OcsfTables.registerCatalog(spark, lake.toString, db)
    val after = spark.table(s"`$db`.`dns_activity`").schema.fieldNames
    assert(after.contains(full.fields.last.name))
    // partition columns stay last, after the appended data column
    assert(after.takeRight(3).toSeq == Seq("region", "accountId", "eventDay"))
    // and the call stays idempotent once evolved
    OcsfTables.registerCatalog(spark, lake.toString, db)
    assert(spark.table(s"`$db`.`dns_activity`").schema.fieldNames.toSeq == after.toSeq)
  }
}
