package graft.ocsf

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, expr, input_file_name, lit, max, min, sum}
import org.apache.spark.sql.types._

/** File-skipping stats index for commit-log tables: per-data-file
  * min/max/null-count on caller-chosen columns, consulted at read time
  * to open only the files a predicate could match. The engine-side
  * complement of the Z-order layout ([[graft.operators.Zorder]] makes
  * per-file stats NARROW; this index makes the reader USE them before
  * any file is opened). The reference leaves pruning to Athena's
  * partition projection over `region/accountId/eventDay`
  * (/root/reference/README.md:44-48), which only cuts on partition
  * keys — this index prunes on DATA columns (event time, severity, id
  * ranges) the way Delta/Iceberg file statistics do, which is what
  * turns a 100 TB table scan with a narrow time filter into a few-file
  * read: the planner never opens (or even HEADs) a file the predicate
  * cannot match.
  *
  * Predicates arrive as ANSI SQL strings (the engine's native query
  * surface) and are parsed with Spark's own parser, so the pruning
  * derivation sees exactly the tree the filter will execute.
  *
  * Correctness is never at stake — pruning is strictly advisory:
  *   - a file with no stats row is always KEPT (new batches since the
  *     last [[build]], torn index part-files skipped via
  *     `ignoreCorruptFiles`, or no index at all → full file list);
  *   - a stats row whose file is no longer committed (compacted away)
  *     matches nothing — stale rows self-clean at read time and cost
  *     only index bytes until the next rebuild;
  *   - the derived pruning condition is a RELAXATION of the caller's
  *     predicate (interval arithmetic over min/max; any subtree it
  *     cannot reason about contributes "keep"), and
  *     [[OcsfTables.loadWhere]] re-applies the exact predicate to the
  *     surviving rows anyway.
  *
  * Scale shape: [[build]] is incremental — it scans only committed
  * files not yet indexed (one column-pruned distributed scan grouped
  * by `input_file_name`, through [[OcsfTables.committedReader]], so
  * partition columns index as STRING) and APPENDS their rows; existing index rows
  * are never rewritten, so the steady-state cost tracks the ingest
  * delta, not the table size. The committed file list is the one
  * [[IdempotentSink.committedFiles]] parses on the driver, the same
  * list every committed read opens; the index itself is a parquet
  * relation, read and joined against that list distributed: the
  * not-yet-indexed delta is a left-anti join (only the DELTA's names
  * come back), and [[prune]] is a join that collects only the
  * SURVIVORS, so the index rows never reach the driver. The index
  * schema comes from one part-file's footer read on the driver, so
  * opening it runs no inference job. The swap-free append design
  * means a crash anywhere leaves at worst a torn part-file, which
  * readers skip: an index can lose acceleration, never rows.
  */
object StatsIndex {

  private[ocsf] def indexDir(tableDir: Path): Path =
    new Path(tableDir, "_stats/index")

  /** Reserved index column names; stats columns are `min_<c>`,
    * `max_<c>`, `nulls_<c>`. */
  private val Reserved = Set("file", "cnt")

  /** Build or incrementally refresh the index for `cols` (top-level
    * data or partition columns of the table). If the existing index
    * covers a DIFFERENT column set it is dropped and rebuilt — stats
    * rows are only comparable under one schema. Returns the number of
    * files newly scanned (0 = index already current). */
  def build(spark: SparkSession, tableDir: Path, cols: Seq[String]): Int = {
    require(cols.nonEmpty, "need at least one column to index")
    require(cols.forall(c => !Reserved(c)), s"column names $Reserved are reserved")
    require(cols.forall(c => !c.contains(".")),
      "stats columns must be top-level (nested fields not supported)")
    val fs = tableDir.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = IdempotentSink.committedFiles(fs, tableDir)
    if (committed.isEmpty) return 0
    val idxDir = indexDir(tableDir)
    import spark.implicits._
    // not-yet-indexed delta as a DISTRIBUTED anti-join: only the delta's
    // names come back to the driver, never the full indexed-file list
    val newFiles: Seq[Path] = indexDf(spark, fs, tableDir) match {
      case Some(df) if indexedCols(df).toSet == cols.toSet =>
        val cdf = committed.map(p => normalize(fs, p)).toDF("c_file")
        val newKeys = cdf.join(df.select(col("file")),
            cdf("c_file") === col("file"), "left_anti")
          .as[String].collect().toSet
        committed.filter(p => newKeys(normalize(fs, p)))
      case Some(_) => // column set changed: rebuild from scratch
        fs.delete(idxDir, true)
        committed
      case None => committed
    }
    if (newFiles.isEmpty) return 0
    val aggs = count(lit(1)).as("cnt") +: cols.flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
        sum(col(c).isNull.cast("long")).as(s"nulls_$c"))
    }
    // store the CANONICAL file key (normalizePath form), attached via a
    // broadcast map from the predicted `input_file_name()` rendering
    // (qualified-path URI) — so prune's join needs no per-row driver
    // normalization. A raw URI the prediction missed falls back to
    // itself, which only costs acceleration (the file reads as
    // unindexed), never rows.
    val rawToCanon = newFiles
      .map(p => (fs.makeQualified(p).toUri.toString, normalize(fs, p)))
      .toDF("raw_uri", "file_key")
    // mergeSchemas: the delta may straddle an additive schema-evolution
    // boundary (SchemaEvolution) — an indexed column added later must
    // read as null from pre-evolution files, not lose the whole build
    // to whichever file wins schema inference
    OcsfTables.committedReader(spark, fs, tableDir, newFiles, mergeSchemas = true)(newFiles)
      .groupBy(input_file_name().as("file_raw"))
      .agg(aggs.head, aggs.tail: _*)
      .join(broadcast(rawToCanon), col("file_raw") === col("raw_uri"),
        "left_outer")
      .withColumn("file", coalesce(col("file_key"), col("file_raw")))
      .drop("file_raw", "raw_uri", "file_key")
      .write.mode("append").parquet(idxDir.toString)
    newFiles.size
  }

  /** The committed files a read with SQL predicate `cond` must open:
    * every committed file EXCEPT those whose stats prove no row can
    * match. Files without a stats row are kept, and so is everything
    * when there is no index or nothing in `cond` is prunable. A file
    * survives the join when it has NO stats row or ANY of its rows
    * passes the relaxed predicate; only the survivors are collected. */
  def prune(spark: SparkSession, fs: FileSystem, tableDir: Path,
            committed: Seq[Path], cond: String): Seq[Path] = {
    import spark.implicits._
    val joinOn = indexDf(spark, fs, tableDir).flatMap { idx =>
      val statTypes: Map[String, DataType] =
        idx.schema.fields.collect {
          case f if f.name.startsWith("min_") =>
            f.name.stripPrefix("min_") -> f.dataType
        }.toMap
      val parsed = spark.sessionState.sqlParser.parseExpression(cond)
      pruningFor(parsed, statTypes).map(idx -> _)
    }
    joinOn match {
      case None => committed
      case Some((idx, pruning)) =>
        val cdf = committed.map(p => normalize(fs, p)).toDF("c_file")
        val survivors = cdf.join(idx, cdf("c_file") === idx("file"), "left_outer")
          .filter(idx("file").isNull || pruning)
          .select("c_file").distinct()
          .as[String].collect().toSet
        committed.filter(p => survivors(normalize(fs, p)))
    }
  }

  /** The index relation, or None when absent. Torn part-files from a
    * crashed append are skipped, not fatal — their files simply read
    * as unindexed. Every part-file has the schema of one [[build]]
    * (a column-set change rebuilds from scratch), so the schema comes
    * from one part-file's footer read on the driver instead of Spark's
    * inference job; a torn or unreadable first part-file falls back to
    * inference. */
  private def indexDf(spark: SparkSession, fs: FileSystem,
                      tableDir: Path): Option[DataFrame] = {
    val d = indexDir(tableDir)
    if (!fs.exists(d)) None
    else {
      val reader = spark.read.option("ignoreCorruptFiles", "true")
      val part = fs.listStatus(d).iterator.map(_.getPath)
        .find(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      val df = part.flatMap(OcsfTables.footerSchema(fs.getConf, _))
        .fold(reader)(s => reader.schema(s)).parquet(d.toString)
      if (df.columns.contains("file")) Some(df) else None
    }
  }

  private def indexedCols(idx: DataFrame): Seq[String] =
    idx.columns.toSeq.collect {
      case c if c.startsWith("min_") => c.stripPrefix("min_")
    }

  /** One canonical string per physical file — delegated to
    * [[IdempotentSink.normalizePath]] so the `input_file_name()`-vs-
    * manifest-Path key rule lives in exactly one place. */
  private def normalize(fs: FileSystem, p: Path): String =
    IdempotentSink.normalizePath(fs, p)

  // ---- predicate → file-level pruning condition -------------------

  /** The weakest condition over `min_<c>`/`max_<c>`/`nulls_<c>` that
    * is TRUE whenever any row of the file satisfies `e` (interval
    * arithmetic), or None when nothing in `e` is prunable. AND keeps
    * the prunable side when the other is opaque; OR must understand
    * BOTH sides or give up (either branch alone could admit the row).
    *
    * min/max are null only for an all-null column chunk, and
    * three-valued logic keeps the relaxation sound there: a comparison
    * against a null bound yields null, which `filter` drops —
    * correctly, since an all-null column matches no comparison (IS
    * NULL is answered from `nulls_<c>` instead). Literal sides are
    * rebuilt as Columns via their own SQL rendering, so types
    * (timestamps, dates, decimals) survive the round trip exactly.
    *
    * TYPE GUARD: a comparison only prunes when the stats column's
    * stored type is order-compatible with the literal — i.e. when
    * Spark's coercion casts (at most) the LITERAL side, or casts the
    * column monotonically (numeric widening). A string column compared
    * to a numeric literal makes Spark cast the COLUMN, and a file's
    * string-ordered min/max says nothing about its numeric range —
    * pruning there would silently drop matching rows, so such nodes
    * contribute "keep" instead. */
  private[ocsf] def pruningFor(e: Expression,
                               stats: Map[String, DataType]): Option[Column] = {
    def c(ex: Expression): Column = expr(ex.sql)
    def minC(n: String) = col(s"min_$n")
    def maxC(n: String) = col(s"max_$n")
    def attrAny(ex: Expression): Option[String] = ex match {
      case a: UnresolvedAttribute
        if a.nameParts.size == 1 && stats.contains(a.nameParts.head) =>
        Some(a.nameParts.head)
      case a: AttributeReference if stats.contains(a.name) => Some(a.name)
      case _ => None
    }
    def orderCompatible(statT: DataType, litT: DataType): Boolean =
      statT == litT || ((statT, litT) match {
        case (_: NumericType, _: NumericType) => true
        case (_: NumericType, _: StringType) => true // literal side cast
        case (TimestampType | DateType,
              TimestampType | DateType | _: StringType) => true
        case _ => false
      })
    // attribute usable against this literal's type
    def attr(ex: Expression, v: Expression): Option[String] = v match {
      case l: Literal =>
        attrAny(ex).filter(n => orderCompatible(stats(n), l.dataType))
      case _ => None
    }
    // attribute in a type-free context (IS NULL etc.)
    def isLit(ex: Expression): Boolean = ex.isInstanceOf[Literal]
    def nonNullLit(ex: Expression): Boolean = ex match {
      case Literal(v, _) => v != null
      case _ => false
    }
    def isStringStat(n: String): Boolean = stats(n).isInstanceOf[StringType]
    e match {
      case And(l, r) => (pruningFor(l, stats), pruningFor(r, stats)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        for { a <- pruningFor(l, stats); b <- pruningFor(r, stats) }
          yield a || b
      // a > v ⇒ the file's max must exceed v (plus flipped forms)
      case GreaterThan(a, v) if attr(a, v).isDefined =>
        Some(maxC(attr(a, v).get) > c(v))
      case GreaterThan(v, a) if attr(a, v).isDefined =>
        Some(minC(attr(a, v).get) < c(v))
      case GreaterThanOrEqual(a, v) if attr(a, v).isDefined =>
        Some(maxC(attr(a, v).get) >= c(v))
      case GreaterThanOrEqual(v, a) if attr(a, v).isDefined =>
        Some(minC(attr(a, v).get) <= c(v))
      case LessThan(a, v) if attr(a, v).isDefined =>
        Some(minC(attr(a, v).get) < c(v))
      case LessThan(v, a) if attr(a, v).isDefined =>
        Some(maxC(attr(a, v).get) > c(v))
      case LessThanOrEqual(a, v) if attr(a, v).isDefined =>
        Some(minC(attr(a, v).get) <= c(v))
      case LessThanOrEqual(v, a) if attr(a, v).isDefined =>
        Some(maxC(attr(a, v).get) >= c(v))
      case EqualTo(a, v) if attr(a, v).isDefined =>
        Some(minC(attr(a, v).get) <= c(v) && maxC(attr(a, v).get) >= c(v))
      case EqualTo(v, a) if attr(a, v).isDefined =>
        Some(minC(attr(a, v).get) <= c(v) && maxC(attr(a, v).get) >= c(v))
      case EqualNullSafe(a, Literal(null, _)) if attrAny(a).isDefined =>
        Some(col(s"nulls_${attrAny(a).get}") > 0)
      case EqualNullSafe(a, v) if attr(a, v).isDefined && nonNullLit(v) =>
        Some(minC(attr(a, v).get) <= c(v) && maxC(attr(a, v).get) >= c(v))
      case In(a, vs) if vs.nonEmpty && vs.forall(isLit) &&
          vs.forall(v => attr(a, v).isDefined) =>
        Some(vs.map(v => minC(attr(a, v).get) <= c(v) &&
          maxC(attr(a, v).get) >= c(v)).reduce(_ || _))
      case IsNull(a) if attrAny(a).isDefined =>
        Some(col(s"nulls_${attrAny(a).get}") > 0)
      case IsNotNull(a) if attrAny(a).isDefined =>
        Some(minC(attrAny(a).get).isNotNull)
      // col LIKE 'p%' (no other wildcards) is a prefix range scan:
      // matches live in [p, nextPrefix(p)) — only meaningful when the
      // stats really are string-ordered
      case Like(a, Literal(pat, _), escape) if attrAny(a).exists(isStringStat) &&
          pat != null && escape == '\\' && likePrefix(pat.toString).isDefined =>
        val p = likePrefix(pat.toString).get
        val lower = maxC(attrAny(a).get) >= lit(p)
        Some(nextPrefix(p) match {
          case Some(np) => lower && minC(attrAny(a).get) < lit(np)
          case None => lower
        })
      case StartsWith(a, Literal(v, _)) if attrAny(a).exists(isStringStat) &&
          v != null =>
        val p = v.toString
        val lower = maxC(attrAny(a).get) >= lit(p)
        Some(nextPrefix(p) match {
          case Some(np) => lower && minC(attrAny(a).get) < lit(np)
          case None => lower
        })
      case _ => None
    }
  }

  /** The literal prefix of a LIKE pattern of the shape `prefix%`
    * (exactly one trailing `%`, no `_`, no escapes); None for any
    * other pattern. */
  private def likePrefix(pat: String): Option[String] =
    if (pat.nonEmpty && pat.last == '%' && !pat.dropRight(1).exists(ch =>
      ch == '%' || ch == '_' || ch == '\\'))
      Some(pat.dropRight(1))
    else None

  /** Smallest string greater than every string with prefix `p`: bump
    * the last non-￿ char and truncate. A bump landing in the
    * surrogate range would UTF-8-encode as the replacement char and
    * produce a bound BELOW the prefix, so it skips to  (every
    * valid code point above the surrogates sorts at or above it in
    * UTF-8 byte order — a looser but sound bound). None when no such
    * string exists (all-￿ prefix). */
  private def nextPrefix(p: String): Option[String] = {
    val i = p.lastIndexWhere(_ != '￿')
    if (i < 0) None
    else {
      val bumped = (p.charAt(i) + 1).toChar
      val safe = if (bumped >= '\ud800' && bumped <= '\udfff') ''
                 else bumped
      Some(p.substring(0, i) + safe)
    }
  }
}
