package graft.ocsf

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._

/** Per-file stats in the commit log, and file skipping over them: a
  * committed file's rows plus min/max/null count of its top-level
  * integral, date, timestamp, boolean and string columns ride in the
  * manifest entry that names the file, and a read with a predicate
  * opens only the files those stats say could match. The engine-side
  * complement of the Z-order layout ([[graft.operators.Zorder]] makes
  * per-file stats NARROW; this makes the reader USE them before any
  * file is opened). The reference leaves pruning to Athena's partition
  * projection over `region/accountId/eventDay` (the reference README's
  * Athena section), which only cuts on partition keys; this prunes on
  * DATA columns (event time, severity, id ranges) the way Delta Lake's
  * log does (Armbrust et al., VLDB 2020: the commit that adds a file
  * records its stats).
  *
  * A writer reads each file it staged once, on the driver
  * ([[footerStats]]: the parquet footer only, no data page), and
  * publishes the stats inside the manifest, so they commit atomically
  * with the file and are never stale. A reader already holds them: the
  * [[IdempotentSink.LogScan]] every read parses carries them, and
  * [[prune]] evaluates the relaxed predicate over them on the driver
  * without a Spark job.
  *
  * Predicates arrive as ANSI SQL strings (the engine's native query
  * surface) and are parsed with Spark's own parser, so the pruning
  * derivation sees exactly the tree the filter will execute.
  *
  * Correctness is never at stake; pruning is strictly advisory:
  *   - a file whose entry records no stats for a column (a manifest
  *     written before stats existed, an INT96 timestamp, a string
  *     bound over [[MaxStringStat]] characters, a float or double
  *     column) is KEPT by every condition on that column;
  *   - the derived pruning condition is a RELAXATION of the caller's
  *     predicate (interval arithmetic over min/max; any subtree it
  *     cannot reason about contributes "keep"), and
  *     [[OcsfTables.loadWhere]] re-applies the exact predicate to the
  *     surviving rows anyway.
  *
  * Float and double columns get no stats: parquet's min/max skip NaN,
  * while Spark orders NaN above every number, so `x > 1e9` matches a
  * NaN row a max-based prune would have dropped. The partition columns
  * prune from each file's path (min = max = the directory value). */
object StatsIndex {

  /** One column of one file: min/max in the external [[Row]] type of
    * `dataType` (both None when the column holds only nulls) and the
    * null count. */
  private[ocsf] final case class ColStats(dataType: DataType, min: Option[Any],
                                          max: Option[Any], nulls: Long)

  /** One file's recorded stats: its rows and its stats columns. */
  private[ocsf] final case class FileStats(rows: Long, cols: Map[String, ColStats])

  /** A string bound longer than this many characters drops the
    * column's stats for the file: manifests stay small, and a free-text
    * column prunes nothing anyway. */
  private val MaxStringStat = 64

  /** The column types with stats, by their manifest name. */
  private val Types: Map[String, DataType] = Map("byte" -> ByteType,
    "short" -> ShortType, "int" -> IntegerType, "long" -> LongType,
    "date" -> DateType, "timestamp" -> TimestampType,
    "boolean" -> BooleanType, "string" -> StringType)
  private val TypeNames: Map[DataType, String] = Types.map(_.swap)

  /** The stats of the parquet file `file` of length `len`, from its
    * footer, read on the driver with one open; None when the footer
    * cannot be read or carries no Spark schema. A column is left out
    * when any row group lacks its min/max while holding non-null
    * values, which covers INT96 timestamps: parquet keeps their null
    * count but no bounds. */
  private[ocsf] def footerStats(conf: Configuration, file: Path, len: Long): Option[FileStats] =
    try {
      val status = new FileStatus(len, false, 1, 0L, 0L, file)
      // read options over `conf`: the default ones build a fresh Hadoop
      // Configuration per file, ~10 ms apiece
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf),
        HadoopReadOptions.builder(conf, file).build())
      try {
        val footer = reader.getFooter
        OcsfTables.sparkSchema(footer.getFileMetaData.getKeyValueMetaData).map { schema =>
          val blocks = footer.getBlocks.asScala.toSeq
          val chunks = blocks.flatMap(_.getColumns.asScala)
            .filter(_.getPath.size == 1).groupBy(_.getPath.toArray.head)
          FileStats(blocks.map(_.getRowCount).sum, schema.fields.toSeq.flatMap { f =>
            val cs = chunks.getOrElse(f.name, Nil)
            Option.when(TypeNames.contains(f.dataType) && cs.size == blocks.size)(
              cs.map(c => (c.getPrimitiveType, c.getStatistics, c.getValueCount)))
              .flatMap(colStats(f.dataType, _)).map(f.name -> _)
          }.toMap)
        }
      } finally reader.close()
    } catch { case NonFatal(_) => None }

  /** One column's stats over its row groups' (type, stats, values). */
  private def colStats(t: DataType,
                       groups: Seq[(PrimitiveType, Statistics[_], Long)]): Option[ColStats] =
    if (groups.isEmpty) Some(ColStats(t, None, None, 0L))
    else if (groups.exists { case (_, s, n) =>
        s == null || !s.isNumNullsSet || (!s.hasNonNullValue && s.getNumNulls != n) })
      None
    else {
      val merged: Statistics[_] = Statistics.createStats(groups.head._1)
      groups.foreach(g => merged.mergeStatistics(g._2))
      if (!merged.hasNonNullValue) Some(ColStats(t, None, None, merged.getNumNulls))
      else for {
        min <- value(t, groups.head._1, merged.genericGetMin)
        max <- value(t, groups.head._1, merged.genericGetMax)
      } yield ColStats(t, Some(min), Some(max), merged.getNumNulls)
    }

  /** A parquet statistic as the external value of Spark type `t`. */
  private def value(t: DataType, p: PrimitiveType, v: Any): Option[Any] = (t, v) match {
    case (ByteType, i: Integer) => Some(i.toByte)
    case (ShortType, i: Integer) => Some(i.toShort)
    case (IntegerType, i: Integer) => Some(i.intValue)
    case (LongType, l: java.lang.Long) => Some(l.longValue)
    case (DateType, i: Integer) => Some(LocalDate.ofEpochDay(i.toLong))
    case (TimestampType, l: java.lang.Long) => p.getLogicalTypeAnnotation match {
      case ts: TimestampLogicalTypeAnnotation if ts.getUnit == TimeUnit.MICROS =>
        Some(DateTimeUtils.microsToInstant(l))
      case ts: TimestampLogicalTypeAnnotation if ts.getUnit == TimeUnit.MILLIS =>
        Some(Instant.ofEpochMilli(l))
      case _ => None
    }
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case (StringType, b: Binary) =>
      Some(b.toStringUsingUTF8).filter(_.length <= MaxStringStat)
    case _ => None
  }

  /** A file's stats as one manifest field: `rows`, then per column
    * `;name:type:nulls`, plus `:min:max` unless the column is all null.
    * Names and string values are URL-encoded, so the field holds no
    * tab, newline, `;` or `:`. */
  private[ocsf] def encode(s: FileStats): String =
    (s.rows.toString +: s.cols.toSeq.sortBy(_._1).map { case (n, c) =>
      (Seq(enc(n), TypeNames(c.dataType), c.nulls.toString) ++
        c.min.zip(c.max).toSeq.flatMap { case (lo, hi) =>
          Seq(show(c.dataType, lo), show(c.dataType, hi))
        }).mkString(":")
    }).mkString(";")

  /** [[encode]]'s inverse; None for a field it cannot read. A column of
    * a type this version does not know is dropped (its files are kept
    * by any condition on it). */
  private[ocsf] def decode(field: String): Option[FileStats] =
    try {
      val parts = field.split(";", -1)
      Some(FileStats(parts.head.toLong, parts.tail.toSeq.flatMap { p =>
        val f = p.split(":", -1)
        Types.get(f(1)).map { t =>
          val bound = Option.when(f.length == 5)((parse(t, f(3)), parse(t, f(4))))
          URLDecoder.decode(f(0), UTF_8) ->
            ColStats(t, bound.map(_._1), bound.map(_._2), f(2).toLong)
        }
      }.toMap))
    } catch { case NonFatal(_) => None }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  private def show(t: DataType, v: Any): String = (t, v) match {
    case (DateType, d: LocalDate) => d.toEpochDay.toString
    case (TimestampType, i: Instant) => DateTimeUtils.instantToMicros(i).toString
    case (StringType, s: String) => enc(s)
    case _ => v.toString
  }

  private def parse(t: DataType, s: String): Any = t match {
    case ByteType => s.toByte
    case ShortType => s.toShort
    case IntegerType => s.toInt
    case LongType => s.toLong
    case DateType => LocalDate.ofEpochDay(s.toLong)
    case TimestampType => DateTimeUtils.microsToInstant(s.toLong)
    case BooleanType => s.toBoolean
    case _ => URLDecoder.decode(s, UTF_8)
  }

  /** The files of `files` a read with SQL predicate `cond` must open:
    * every file EXCEPT those whose stats prove no row can match. `stats`
    * holds the recorded stats by file (a file without any is kept by
    * every data-column condition); the partition columns are read from
    * each file's path. The relaxed condition ([[pruningFor]]) runs over
    * a local relation of one row per file, which Spark's optimizer
    * evaluates while planning it: no Spark job starts. */
  def prune(spark: SparkSession, files: Seq[Path], stats: Map[Path, FileStats],
            cond: String): Seq[Path] = {
    val recorded = files.map(stats.get)
    // a column prunes only when every file that records it agrees on its type
    val types = recorded.flatten.flatMap(_.cols.map { case (c, s) => c -> s.dataType })
      .distinct.groupBy(_._1).collect { case (c, Seq((_, t))) => c -> t } ++
      OcsfSink.PartitionCols.map(_ -> (StringType: DataType))
    pruningFor(spark.sessionState.sqlParser.parseExpression(cond), types) match {
      case None => files
      case Some(pruning) =>
        val cols = types.toSeq.sortBy(_._1)
        val schema = StructType(StructField("i", IntegerType) +: cols.flatMap {
          case (c, t) => Seq(StructField(s"known_$c", BooleanType),
            StructField(s"min_$c", t), StructField(s"max_$c", t),
            StructField(s"nulls_$c", LongType))
        })
        val rows = files.zip(recorded).zipWithIndex.map { case ((f, rec), i) =>
          val parts = partitionValues(f)
          Row.fromSeq(i +: cols.flatMap { case (c, t) =>
            parts.get(c).map(v => ColStats(t, v, v, if (v.isEmpty) 1L else 0L))
              .orElse(rec.flatMap(_.cols.get(c)).filter(_.dataType == t)) match {
              case Some(s) => Seq(true, s.min.orNull, s.max.orNull, s.nulls)
              case None => Seq(false, null, null, null)
            }
          })
        }
        val kept = spark.createDataFrame(rows.asJava, schema).where(pruning)
          .select("i").collect().map(_.getInt(0)).toSet
        files.zipWithIndex.collect { case (f, i) if kept(i) => f }
    }
  }

  /** The `region`/`accountId`/`eventDay` directory values above `file`
    * (None for Hive's null partition). */
  private def partitionValues(file: Path): Map[String, Option[String]] =
    Iterator.iterate(file.getParent)(_.getParent).takeWhile(_ != null)
      .map(_.getName.split("=", 2)).takeWhile(_.length == 2)
      .collect { case Array(k, v) if OcsfSink.PartitionCols.contains(k) =>
        val value = ExternalCatalogUtils.unescapePathName(v)
        k -> Option.when(value != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)(value)
      }.toMap

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
    * contribute "keep" instead.
    *
    * Every comparison is guarded by `known_<c>`: a file that records no
    * stats for the column passes it. */
  private[ocsf] def pruningFor(e: Expression,
                               stats: Map[String, DataType]): Option[Column] =
    e match {
      case And(l, r) => (pruningFor(l, stats), pruningFor(r, stats)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) =>
        for { a <- pruningFor(l, stats); b <- pruningFor(r, stats) }
          yield a || b
      case _ => leaf(e, stats).map { c =>
        // a leaf bounds exactly one column, its only attribute
        val n = e.collectFirst(Function.unlift(statName(_, stats))).get
        !col(s"known_$n") || c
      }
    }

  /** The stats column `ex` names, if it is one. */
  private def statName(ex: Expression, stats: Map[String, DataType]): Option[String] =
    ex match {
      case a: UnresolvedAttribute
        if a.nameParts.size == 1 && stats.contains(a.nameParts.head) =>
        Some(a.nameParts.head)
      case a: AttributeReference if stats.contains(a.name) => Some(a.name)
      case _ => None
    }

  /** The relaxed condition of one comparison over one stats column;
    * None when `e` is not a prunable comparison. */
  private def leaf(e: Expression, stats: Map[String, DataType]): Option[Column] = {
    def c(ex: Expression): Column = expr(ex.sql)
    def minC(n: String) = col(s"min_$n")
    def maxC(n: String) = col(s"max_$n")
    def attrAny(ex: Expression): Option[String] = statName(ex, stats)
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
