package fdrbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ocsf.{OcsfMappings, OcsfTables}

/** The `lake_query` operations: the nine `q_ocsf_lake_*` query shapes of
  * `graft.queries.OcsfLakeQueries`, pointed at the benchmark's own lake
  * (those entries are bound to a fixed lake path), plus stats-pruned
  * time-window reads through `OcsfTables.loadWhere`.
  *
  * Every operation resolves its tables through `OcsfTables.load` each
  * time it runs, as a client without a table cache does, so the
  * commit-log read is part of each query's latency. The DuckDB mirror
  * of the nine shapes is in `checks.py`; window reads are checked
  * against the generator's counts.
  */
object LakeQueries {

  /** Result of one operation: column names and rows as JSON; for a
    * window read also the rows it counted and the count the generator
    * predicts. */
  final case class Answer(columns: Seq[String], json: Seq[String],
                          count: Long = 0L, expected: Option[Long] = None)

  /** Partition-pruned day: the corpus's second eventDay. */
  val Day = 20231115

  private val CompletenessFields: Seq[(String, Seq[String])] = Seq(
    "Process Activity" -> Seq("process.pid", "process.file.name", "device.os.type"),
    "DNS Activity" -> Seq("query.hostname", "rcode", "src_endpoint.uid"),
    "Authentication" -> Seq("user.name", "logon_type_id", "status"))

  private val DayTables = Seq("Process Activity", "Network Activity",
    "DNS Activity", "Authentication", "HTTP Activity")

  /** Routes the window reads cycle through. */
  val WindowRoutes = Seq("Process Activity", "Network Activity", "DNS Activity")

  /** Tables each operation names, for the rows-queried throughput. */
  private val reads: Seq[(String, Seq[String])] = Seq(
    "completeness" -> CompletenessFields.map(_._1),
    "proc_days" -> Seq("Process Activity"),
    "dns_family" -> Seq("DNS Activity"),
    "http_errors" -> Seq("HTTP Activity"),
    "auth_users" -> Seq("Authentication"),
    "net_direction" -> Seq("Network Activity"),
    "observables" -> Seq("Process Activity"),
    "day_classes" -> DayTables,
    "extapi" -> Seq(OcsfMappings.ExtApiRoute))

  def windowPredicates(exp: Corpus.Expected): Seq[(String, String)] =
    WindowRoutes.zipWithIndex.map { case (route, i) =>
      val (s, e) = Corpus.windows(exp.days)(i % (exp.days - 1))
      route -> s"time >= ${ts(s)} AND time < ${ts(e)}"
    }

  private def ts(ms: Long): String =
    s"timestamp'${java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ").stripSuffix("Z")}'"

  /** Lake rows each operation's tables hold, per operation name. */
  def rowsRead(exp: Corpus.Expected): Map[String, Long] =
    (reads.map { case (n, ts) => n -> ts.map(exp.routeRows.getOrElse(_, 0L)).sum } ++
      windowPredicates(exp).zipWithIndex.map { case ((route, _), i) =>
        s"window_$i" -> exp.routeRows.getOrElse(route, 0L)
      }).toMap

  def ops(spark: SparkSession, lake: String, exp: Corpus.Expected,
          tracer: Tracer): Seq[(String, () => Answer)] = {
    def t(route: String): DataFrame =
      tracer.span("tables.load")(OcsfTables.load(spark, lake, route))
    def answer(df: DataFrame): Answer = Answer(df.columns.toSeq, df.toJSON.collect().toSeq)
    def fmtTime(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

    val shapes: Seq[(String, () => Answer)] = Seq(
      "completeness" -> (() => answer(CompletenessFields.map { case (tbl, fields) =>
        val flat = fields.map(_.replace('.', '_'))
        val aggs = count(lit(1)).as("n_rows") +:
          fields.zip(flat).map { case (f, a) => count(col(f)).as(a) }
        t(tbl).agg(aggs.head, aggs.tail: _*)
          .select(explode(array(fields.zip(flat).map { case (f, a) =>
            struct(lit(tbl).as("table_name"), lit(f).as("field"),
              col("n_rows"), col(a).as("n_nonnull"))
          }: _*)).as("x"))
          .select(col("x.*"))
      }.reduce(_ unionByName _)
        .withColumn("pct_nonnull",
          round(col("n_nonnull") * 10000d / greatest(col("n_rows"), lit(1L))) / 10000d))),
      "proc_days" -> (() => answer(t("Process Activity")
        .filter(col("device.os.type") === "Windows" &&
          col("process.parent_process.file.name") === "explorer.exe")
        .groupBy(col("eventDay").cast("string").as("event_day"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("process.pid")).as("n_pids"),
          fmtTime(max(col("time"))).as("max_time")))),
      "dns_family" -> (() => answer(t("DNS Activity")
        .filter(col("query.hostname").startsWith("host12"))
        .groupBy(col("query.hostname").as("hostname"), col("rcode").as("rcode"))
        .agg(count(lit(1)).as("n_queries"),
          countDistinct(col("src_endpoint.uid")).as("n_devices")))),
      "http_errors" -> (() => answer(t("HTTP Activity")
        .filter(col("status_code") === "404")
        .groupBy(col("http_request.url.hostname").as("hostname"),
          col("http_request.http_method").as("http_method"))
        .agg(count(lit(1)).as("n_errors")))),
      "auth_users" -> (() => answer(t("Authentication")
        .groupBy(col("user.name").as("user_name"))
        .agg(count(lit(1)).as("n_logons"),
          countDistinct(col("logon_type_id")).as("n_logon_types")))),
      "net_direction" -> (() => answer(t("Network Activity")
        .groupBy(col("connection_info.direction").as("direction"),
          col("dst_endpoint.port").as("dst_port"))
        .agg(count(lit(1)).as("n_conns"),
          countDistinct(col("dst_endpoint.ip")).as("n_dst_ips")))),
      "observables" -> (() => answer(t("Process Activity")
        .select(explode(col("observables")).as("ob"))
        .groupBy(col("ob.type_id").as("type_id"), col("ob.type").as("obs_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("ob.value")).as("n_values")))),
      "day_classes" -> (() => answer(DayTables.map { tbl =>
        t(tbl).filter(col("eventDay") === Day)
          .select(col("class_uid"), col("class_name"), col("category_name"))
      }.reduce(_ union _)
        .groupBy("class_uid", "class_name", "category_name")
        .agg(count(lit(1)).as("n_events")))),
      "extapi" -> (() => answer(t(OcsfMappings.ExtApiRoute)
        .groupBy(col("status").as("status"),
          col("http_request.http_method").as("http_method"),
          col("src_endpoint.owner.account.type").as("account_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("http_request.url.path")).as("n_paths")))))

    val windows = windowPredicates(exp).zipWithIndex.map { case ((route, cond), i) =>
      val want = exp.windowCounts.getOrElse((route, i % (exp.days - 1)), 0L)
      s"window_$i" -> (() => {
        val n = tracer.span("tables.load")(OcsfTables.loadWhere(spark, lake, route, cond))
          .count()
        Answer(Seq("n"), Seq(s"""{"n":$n}"""), n, Some(want))
      })
    }
    shapes ++ windows
  }
}
