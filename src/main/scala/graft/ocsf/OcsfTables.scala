package graft.ocsf

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Reader side of the lake (the reference's Athena consumption surface,
  * /root/reference/README.md:48): load any OCSF class table written by
  * [[OcsfSink]] and register all of them as temp views so the full SQL
  * surface runs over them.
  *
  * Tables landed through [[IdempotentSink]] are read through their
  * batch-commit log ([[IdempotentSink.committedFiles]]): the reader
  * opens exactly the data files the committed manifests name, so it
  * sees each row exactly once on ANY store — including one whose
  * rename is a non-atomic copy+delete (S3A), where a directory scan
  * could otherwise glimpse a mid-promote batch. A parquet directory
  * with no commit log (written by some other tool) is read over a
  * listing of its data files instead. Mixing such appends and
  * committed batches under one prefix is out of contract, and [[load]]
  * with `verifyAppends` REJECTS it (a stray final-path file named by
  * no manifest raises instead of being silently dropped from the read).
  *
  * Every read goes through [[committedReader]], which declares
  * `region`/`accountId`/`eventDay` ([[OcsfSink.PartitionSchema]]) as
  * STRING, as [[registerCatalog]]'s DDL does: an accountId with a
  * leading zero reads back as written. They stay directory
  * partitions, so `WHERE eventDay = ...` prunes files before any IO.
  */
object OcsfTables {

  /** A committed table is read from its commit log, parsed on the
    * driver: one [[IdempotentSink.scanPairs]] — one LIST of the control
    * dir and one GET per manifest in it — both decides that the table
    * has a committed batch and names its files.
    *
    * `verifyAppends` arms the mixed-table stray guard (below). It is a
    * MISCONFIGURATION detector, not a runtime invariant, and it costs
    * a recursive listing of every data file in the table — fine at
    * test scale and on fresh tables, an O(10⁵–10⁶ objects) LIST tax on
    * a months-old streaming table. OFF by default (r14): the guard is
    * the opt-in maintenance check (pass true from an audit job, or
    * after suspecting an out-of-band append).
    *
    * The default read costs ONE footer read on the driver: the schema
    * Spark wrote into the first committed file's footer, with the
    * partition columns declared STRING (see [[committedReader]]). A
    * table whose files carry different schemas, read without
    * `mergeSchemas`, therefore reads as one file's schema, as Spark's
    * own non-merging inference does.
    *
    * `mergeSchemas` crosses an ADDITIVE schema-evolution boundary
    * ([[SchemaEvolution]]): batches written before a column was added
    * serve null for it. It keeps Spark's schema merge, a job that reads
    * a footer per file, so at scale prefer an explicit
    * `spark.read.schema(evolvedSchema)` over the same file list — this
    * flag is the zero-setup path for occasional readers.
    *
    * A directory with no commit log is read over its data files, and
    * raises when it holds none. */
  def load(spark: SparkSession, baseDir: String, route: String,
           verifyAppends: Boolean = false,
           mergeSchemas: Boolean = false): DataFrame = {
    val (fs, tableDir) = tableFs(spark, baseDir, route)
    val log = IdempotentSink.scanPairs(fs, tableDir)
    if (log.hasCommitted)
      loadCommitted(spark, fs, tableDir, log, verifyAppends, mergeSchemas)
    else {
      val files = finalDataFiles(fs, tableDir)
      require(files.nonEmpty, s"$tableDir has no batch-commit log and no data files")
      committedReader(spark, fs, tableDir, files, mergeSchemas)(files)
    }
  }

  private def loadCommitted(spark: SparkSession, fs: FileSystem,
                            tableDir: Path,
                            log: IdempotentSink.LogScan,
                            verifyAppends: Boolean,
                            mergeSchemas: Boolean = false): DataFrame = {
    require(log.files.nonEmpty,
      s"$tableDir has a batch-commit log but no committed data files")
    if (verifyAppends) {
      // mixed-table guard: a data file at a final path that NO manifest
      // (committed or in-flight) names was plain-appended outside the
      // commit log — it would be silently invisible to this reader, so
      // fail loudly instead of narrowing the result. ORDER MATTERS
      // under a live writer: the data listing must happen while (or
      // before) the manifests cover it, so a batch promoted after the
      // contract snapshot is re-checked against a FRESH contract
      // rather than flagged.
      val strays0 = finalDataFiles(fs, tableDir).filterNot(log.named.contains)
      val strays =
        if (strays0.isEmpty) strays0
        else { // racing a live writer? re-snapshot the contract once
          val fresh = IdempotentSink.scanPairs(fs, tableDir).named
          strays0.filterNot(fresh.contains).filter(fs.exists)
        }
      require(strays.isEmpty,
        s"$tableDir mixes plain appends with committed batches (out of " +
          s"contract): ${strays.size} data file(s) at final paths are not " +
          s"named by any batch manifest and would be invisible to the " +
          s"manifest reader; first: ${strays.headOption.getOrElse("")}")
    }
    committedReader(spark, fs, tableDir, log.files, mergeSchemas)(log.files)
  }

  /** The one reader of a lake table's data files: resolves ONE schema
    * over `files` (non-empty) and returns a reader of any subset of
    * them under it, `basePath`-anchored at `tableDir`. Every table read
    * and both data rewrites open files through it.
    *
    * The data columns: by default the schema Spark wrote under
    * [[SparkSchemaKey]] in the first file's footer, read on the driver
    * — what Spark's non-merging inference takes too, but that runs a
    * one-task job, so resolving a table this way runs none. Spark's
    * inference resolves them instead when the read merges schemas
    * (`mergeSchemas`, or `spark.sql.parquet.mergeSchema` on the
    * session; a job that reads every footer) or when the footer has no
    * parseable key (a file not written by Spark).
    *
    * The partition columns are never inferred from the paths, where
    * `accountId=000011112222` would read as the integer 11112222: any
    * inferred ones are dropped and [[OcsfSink.PartitionSchema]] is
    * appended, all STRING. */
  private[ocsf] def committedReader(spark: SparkSession, fs: FileSystem,
                                    tableDir: Path, files: Seq[Path],
                                    mergeSchemas: Boolean = false): Seq[Path] => DataFrame = {
    val base = spark.read.option("basePath", tableDir.toString)
    def inferred: StructType =
      (if (mergeSchemas) base.option("mergeSchema", "true") else base)
        .parquet(files.map(_.toString): _*).schema
    val data =
      if (mergeSchemas || spark.sessionState.conf.isParquetSchemaMergingEnabled) inferred
      else footerSchema(fs.getConf, files.head).getOrElse(inferred)
    val schema = StructType(data.filterNot(f => OcsfSink.PartitionCols.contains(f.name)) ++
      OcsfSink.PartitionSchema)
    subset => spark.read.schema(schema).option("basePath", tableDir.toString)
      .parquet(subset.map(_.toString): _*)
  }

  /** The footer key Spark's parquet writer stores its row schema under
    * (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema `file`'s footer carries, read on the driver
    * without touching a row group; None when the footer cannot be read
    * or has no parseable schema key — the caller then lets Spark infer
    * (and raise its own error for an unreadable file). */
  private[ocsf] def footerSchema(conf: Configuration, file: Path): Option[StructType] =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
        HadoopReadOptions.builder(conf, file)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
      try sparkSchema(reader.getFileMetaData.getKeyValueMetaData)
      finally reader.close()
    } catch { case NonFatal(_) => None }

  /** The Spark schema under [[SparkSchemaKey]] in a footer's key-value
    * metadata; None when absent or unparseable. */
  private[ocsf] def sparkSchema(kv: java.util.Map[String, String]): Option[StructType] =
    try Option(kv.get(SparkSchemaKey)).map(DataType.fromJson).collect { case s: StructType => s }
    catch { case NonFatal(_) => None }

  /** Time travel: the table AS OF `asOfBatch` — exactly the rows the
    * batches with id <= `asOfBatch` committed. Backed by the commit
    * log alone (the manifests ARE the snapshot metadata — no extra
    * bookkeeping to maintain), so it costs the same control-file
    * LIST/GET as [[load]]. History granularity is bounded by
    * compaction: [[IdempotentSink.compactCommits]] /
    * [[IdempotentSink.compactDataFiles]] fold per-batch manifests, and
    * a request below the fold horizon THROWS instead of serving a
    * wrong snapshot — the same contract as Delta time travel vs
    * VACUUM. Partition pruning survives via `basePath`. */
  def loadAsOf(spark: SparkSession, baseDir: String, route: String,
               asOfBatch: Long): DataFrame = {
    val (fs, tableDir, log) = committedLog(spark, baseDir, route, "time travel")
    dfFor(spark, fs, tableDir, log, log.filesAsOf(asOfBatch))
  }

  /** Incremental consumption: only the rows committed AFTER
    * `afterBatch` — the delta a downstream consumer checkpointed at
    * `afterBatch` still needs. The lake is append-only, so the change
    * set is pure inserts and a consumer loop is just
    * `changesSince(last)` + checkpoint-the-new-max-batch. THROWS when
    * compaction already folded an unread batch (consumer checkpoints
    * must outpace the compaction cadence; size `compactCommits`'
    * `maxBatchId` / scheduling accordingly). */
  def changesSince(spark: SparkSession, baseDir: String, route: String,
                   afterBatch: Long): DataFrame = {
    val (fs, tableDir, log) = committedLog(spark, baseDir, route, "incremental")
    dfFor(spark, fs, tableDir, log, log.filesSince(afterBatch))
  }

  /** A no-op kept for callers of the retired stats index: every
    * committed file's stats now ride in the manifest entry that names
    * it, written with the file ([[StatsIndex]]), so there is nothing to
    * build and [[loadWhere]] prunes a batch the moment it commits.
    * Returns 0, the number of files it scanned. A lake whose manifests
    * predate the stats gets them back from
    * [[IdempotentSink.compactDataFiles]]. */
  def buildStats(spark: SparkSession, baseDir: String, route: String,
                 cols: Seq[String]): Int = 0

  /** [[load]] restricted to SQL predicate `cond`, opening only the
    * committed files whose stats say the predicate could match
    * ([[StatsIndex]] file skipping over the stats the commit log's
    * manifests carry; a file without stats for a column is always
    * read). The exact predicate is re-applied to the surviving rows, so
    * the result equals `load(...).filter(cond)`: the stats only change
    * how many files are opened ([[prunedFiles]]). The prune runs on the
    * driver over the one log scan the read makes anyway, and starts no
    * Spark job. The mixed-table stray guard is [[load]]'s
    * misconfiguration detector, not repeated here (it would relist
    * every data file and defeat the point of skipping). */
  def loadWhere(spark: SparkSession, baseDir: String, route: String,
                cond: String): DataFrame = {
    val (fs, tableDir, log) = committedLog(spark, baseDir, route, "stats-pruned")
    dfFor(spark, fs, tableDir, log,
      StatsIndex.prune(spark, log.files, log.stats, cond)).filter(cond)
  }

  /** Row-level erasure for `route`: permanently delete every row
    * matching SQL predicate `cond` (see [[IdempotentSink.deleteWhere]]
    * for the mechanism, crash contract, and erasure semantics — NULL
    * rows kept, time travel below the new horizon throws, live
    * backfill writers refuse). Returns rows deleted. */
  def deleteWhere(spark: SparkSession, baseDir: String, route: String,
                  cond: String, filesPerDay: Int = 1,
                  zorderCols: Seq[String] = Nil): Long = {
    val (_, tableDir) = tableFs(spark, baseDir, route)
    IdempotentSink.deleteWhere(spark, tableDir, cond, filesPerDay, zorderCols)
  }

  /** The file list [[loadWhere]] would open — exposed for maintenance
    * jobs and tests to observe skipping. One [[IdempotentSink.scanPairs]]
    * (the same read [[load]] makes) names the committed files and their
    * recorded stats, and [[StatsIndex.prune]] drops the files those
    * stats exclude, on the driver, with no Spark job. */
  def prunedFiles(spark: SparkSession, fs: FileSystem, tableDir: Path,
                  cond: String): Seq[Path] = {
    val log = IdempotentSink.scanPairs(fs, tableDir)
    StatsIndex.prune(spark, log.files, log.stats, cond)
  }

  private def tableFs(spark: SparkSession, baseDir: String,
                      route: String): (FileSystem, Path) = {
    val tableDir = new Path(s"$baseDir/${OcsfSink.tableName(route)}")
    (tableDir.getFileSystem(spark.sessionState.newHadoopConf()), tableDir)
  }

  /** `route`'s table with its commit log scanned once; raises unless it
    * holds a committed batch, naming the `kind` of read that needs one. */
  private def committedLog(spark: SparkSession, baseDir: String, route: String,
                           kind: String): (FileSystem, Path, IdempotentSink.LogScan) = {
    val (fs, tableDir) = tableFs(spark, baseDir, route)
    val log = IdempotentSink.scanPairs(fs, tableDir)
    require(log.hasCommitted,
      s"$tableDir has no batch-commit log — $kind reads need a " +
        "table written through IdempotentSink")
    (fs, tableDir, log)
  }

  /** An explicit file-list read; an EMPTY selection (e.g. no changes
    * since the consumer's checkpoint) still returns the table's true
    * schema, read from the first committed file with a LIMIT 0 — one
    * footer read, no Spark job, nothing scanned. A table whose
    * committed batches hold zero data files (a stream that has only
    * seen empty batches) has no schema to serve, so that raises the
    * same clear error as [[load]] rather than Spark's opaque
    * cannot-infer-schema failure. */
  private def dfFor(spark: SparkSession, fs: FileSystem, tableDir: Path,
                    log: IdempotentSink.LogScan, files: Seq[Path]): DataFrame =
    if (files.nonEmpty) committedReader(spark, fs, tableDir, files)(files)
    else {
      val one = log.files.take(1)
      require(one.nonEmpty,
        s"$tableDir has a batch-commit log but no committed data files")
      committedReader(spark, fs, tableDir, one)(one).limit(0)
    }

  /** Qualified data files at FINAL paths — everything outside the
    * underscore-hidden control/staging dirs; none when `tableDir` does
    * not exist. */
  private def finalDataFiles(fs: FileSystem, tableDir: Path): Seq[Path] = {
    if (!fs.exists(tableDir)) return Nil
    val it = fs.listFiles(tableDir, true)
    val out = Seq.newBuilder[Path]
    while (it.hasNext) {
      val f = it.next().getPath
      val rel = fs.makeQualified(tableDir).toUri
        .relativize(fs.makeQualified(f).toUri).getPath
      if (!rel.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
        out += fs.makeQualified(f)
    }
    out.result()
  }

  /** Registers every sink-route table that has data under `baseDir` as
    * a temp view named like `ocsf_process_activity`, read as [[load]]
    * reads it. A route with no data file to read is skipped: one whose
    * committed batches name none (it has seen no events), or a
    * directory with no commit log and no data file. Returns the views
    * registered.
    *
    * Probing goes through the Hadoop FileSystem API so the same call
    * works against `s3a://` / `hdfs://` lakes, not just the local FS. */
  def registerAll(spark: SparkSession, baseDir: String,
                  verifyAppends: Boolean = false): Seq[String] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    OcsfMappings.routes.flatMap { route =>
      val name = OcsfSink.tableName(route)
      val dir = new Path(s"$baseDir/$name")
      val fs = dir.getFileSystem(hadoopConf)
      val log = IdempotentSink.scanPairs(fs, dir)
      val df =
        if (log.hasCommitted)
          Option.when(log.files.nonEmpty)(loadCommitted(spark, fs, dir, log, verifyAppends))
        else Some(finalDataFiles(fs, dir)).filter(_.nonEmpty)
          .map(files => committedReader(spark, fs, dir, files)(files))
      df.map { d => d.createOrReplaceTempView(s"ocsf_$name"); s"ocsf_$name" }
    }
  }

  /** Registers every sink route as a PERSISTENT catalog table —
    * `CREATE TABLE IF NOT EXISTS <database>.<table> … USING parquet
    * PARTITIONED BY (region, accountId, eventDay) LOCATION …` from the
    * frozen DDL contract ([[SchemaDump.schemas]]) — then recovers
    * partitions. This is the reference's Glue/Athena surface
    * (/root/reference/README.md:48, the
    * `query_open_pipeline_for_fdr_*_schema` Glue tables): after one
    * call, ANY SQL client on the shared metastore resolves the lake by
    * name, with directory-partition pruning on
    * region/accountId/eventDay.
    *
    * Idempotent: re-running keeps existing tables and re-recovers
    * partitions, so a scheduled re-register after each ingest day picks
    * up new `eventDay=` directories. Partition column types are
    * DECLARED (all STRING), never inferred — an accountId with a
    * leading zero round-trips exactly.
    *
    * Schema evolution: when the frozen DDL gained columns since the
    * table was registered, the additive delta becomes
    * `ALTER TABLE … ADD COLUMNS` (the catalog-side half of
    * [[SchemaEvolution]] — the reference's redeploy-the-Glue-schema
    * step); catalog readers then see nulls on pre-evolution
    * partitions. A NON-additive drift (drop/rename/retype) throws
    * instead of silently serving a schema history can't satisfy.
    *
    * Catalog readers scan the LOCATION directly and so get the weaker
    * directory-scan guarantee on commit-log tables (staged state is
    * invisible, but a mid-promote batch may be partially visible —
    * same as Athena over the reference's prefix); exactly-once readers
    * use [[load]]/[[registerAll]], which go through the manifests. */
  def registerCatalog(spark: SparkSession, baseDir: String,
                      database: String = "ocsf"): Seq[String] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
    val ddls = SchemaDump.schemas(spark)
    val hadoopConf = spark.sessionState.newHadoopConf()
    OcsfMappings.routes.map { route =>
      val name = OcsfSink.tableName(route)
      val fq = s"`$database`.`$name`"
      // a registered location must exist (partition recovery lists it);
      // routes that have not ingested yet get an empty dir
      val loc = new Path(s"$baseDir/$name")
      loc.getFileSystem(hadoopConf).mkdirs(loc)
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $fq (${ddls(name)},
           |  ${OcsfSink.PartitionSchema.toDDL})
           |USING parquet
           |PARTITIONED BY (${OcsfSink.PartitionCols.mkString(", ")})
           |LOCATION '$baseDir/$name'""".stripMargin)
      // additive evolution: append any columns the frozen DDL gained
      // since the table was registered; reject anything non-additive
      val catalogData = StructType(
        spark.table(fq).schema.filterNot(f => OcsfSink.PartitionCols.contains(f.name)))
      val expected = StructType.fromDDL(ddls(name))
      val added = SchemaEvolution.requireAdditive(catalogData, expected, fq)
      if (added.nonEmpty)
        spark.sql(s"ALTER TABLE $fq ADD COLUMNS " +
          s"(${StructType(added).toDDL})")
      // discover partition dirs the writers added since the last call
      spark.sql(s"MSCK REPAIR TABLE $fq")
      s"$database.$name"
    }
  }

  /** Per-route result of [[compactAll]]: batch pairs folded by the
    * data rewrite and by the control-file merge. */
  final case class Compacted(dataPairs: Int, controlPairs: Int)

  /** Lake-wide maintenance entry point: for every route table with a
    * commit log, rewrite small per-batch data files into `filesPerDay`
    * files per day ([[IdempotentSink.compactDataFiles]]) and fold any
    * remaining control pairs ([[IdempotentSink.compactCommits]] — the
    * data pass already leaves one pair when it runs, so the control
    * pass only fires when the data was already at target layout).
    * OFFLINE, single operator — the same contract as the per-table
    * calls. Returns per-table counts for the routes that had a log. */
  def compactAll(spark: SparkSession, baseDir: String,
                 filesPerDay: Int = 1,
                 zorderCols: Seq[String] = Nil): Map[String, Compacted] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    OcsfMappings.routes.flatMap { route =>
      val dir = new Path(s"$baseDir/${OcsfSink.tableName(route)}")
      val fs = dir.getFileSystem(hadoopConf)
      if (IdempotentSink.hasCommitLog(fs, dir)) {
        val data = IdempotentSink.compactDataFiles(spark, dir, filesPerDay,
          zorderCols)
        val control = IdempotentSink.compactCommits(fs, dir)
        Some(OcsfSink.tableName(route) -> Compacted(data, control))
      } else None
    }.toMap
  }
}
