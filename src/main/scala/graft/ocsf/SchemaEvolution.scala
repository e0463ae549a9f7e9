package graft.ocsf

import org.apache.spark.sql.types.{StructField, StructType}

/** Sanctioned ADDITIVE schema evolution on top of the frozen DDL
  * contract (SURVEY.md §2 A22/A24; the reference evolves OCSF versions
  * by redeploying Glue schemas — create_qopcfdr_firehoses.py wires a
  * `query_open_pipeline_for_fdr_*_schema` table per class — and
  * Firehose starts converting with the new columns while old parquet
  * keeps the old ones).
  *
  * v1 contract: a new schema version is accepted iff the OLD columns
  * are a subset of the new one — same name, same (recursively equal)
  * type — so the only change an evolution can make is APPENDING
  * columns. Renames, drops and type changes are rejected loudly:
  * they would make committed history unreadable under the new
  * contract (a dropped column's data silently vanishes; a re-typed
  * column fails at scan time on old files).
  *
  * Readers cross the boundary with nulls: parquet scans fill columns
  * absent from a file's footer with null, so reading pre-evolution
  * batches under the evolved schema (explicit `.schema(...)` read, or
  * `mergeSchema` — [[OcsfTables.load]]'s `mergeSchemas` flag) serves
  * the union with nulls where history predates the column. The lake's
  * data rewrites ([[IdempotentSink.compactDataFiles]],
  * [[IdempotentSink.deleteWhere]]) read their inputs under that merged
  * schema too, so a rewritten file keeps every appended column, null
  * on the rows that predate it.
  * [[OcsfTables.registerCatalog]] applies the same rule to the
  * metastore: an additive drift between the catalog table and the
  * frozen DDL becomes `ALTER TABLE … ADD COLUMNS`, anything else
  * throws. */
object SchemaEvolution {

  /** The fields of `evolved` that `old` lacks (by name) — the columns
    * an additive evolution appended. Throws [[IllegalStateException]]
    * if the evolution is NOT additive: an old column missing from
    * `evolved`, or present with a different type. */
  def requireAdditive(old: StructType, evolved: StructType,
                      context: String): Seq[StructField] = {
    val evolvedByName = evolved.fields.map(f => f.name -> f).toMap
    val broken = old.fields.flatMap { f =>
      evolvedByName.get(f.name) match {
        case None => Some(s"column '${f.name}' was dropped")
        // simpleString compares structure only: catalog round-trips
        // normalize nested-field nullability, which is not a type change
        case Some(n) if n.dataType.simpleString != f.dataType.simpleString =>
          Some(s"column '${f.name}' changed type " +
            s"${f.dataType.simpleString} -> ${n.dataType.simpleString}")
        case _ => None
      }
    }
    if (broken.nonEmpty) throw new IllegalStateException(
      s"non-additive schema evolution for $context (committed history " +
        s"would become unreadable): ${broken.mkString("; ")}")
    val oldNames = old.fieldNames.toSet
    evolved.fields.filterNot(f => oldNames.contains(f.name)).toSeq
  }

  /** True iff `evolved` only appends columns to `old`. */
  def isAdditive(old: StructType, evolved: StructType): Boolean =
    try { requireAdditive(old, evolved, "isAdditive"); true }
    catch { case _: IllegalStateException => false }
}
