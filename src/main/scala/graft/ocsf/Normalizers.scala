package graft.ocsf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** OCSF v1.2.0 normalizers (SURVEY.md §2 A5–A21).
  *
  * Re-expresses the reference's 13 per-class normalizers
  * (/root/reference/src/python/qopcfdr_stream_loader.py:277-3253) as
  * declarative, map-only DataFrame transforms: every normalizer is a
  * single `select` of nested struct columns over the parsed `fields`
  * map — no UDFs, no shuffle, fully codegen'd, so normalization
  * parallelism at 100 TB is purely input-partition parallelism.
  *
  * Divergences from the reference, chosen for a columnar engine:
  *  - `time` is a native TimestampType (ms precision) instead of the
  *    reference's `"yyyy-MM-dd HH:mm:ss.SSS"` string — Athena/Glue
  *    would convert the string right back.
  *  - observable `value` is always string-typed (the reference mixes
  *    ints and strings in the same JSON array, impossible in parquet).
  *  - a payload key counts as consumed (removed from `unmapped`) when
  *    present, even if its value is empty — the reference leaves
  *    falsy-valued keys in `unmapped`.
  *  - numeric OCSF fields (`pid`, ports, …) are natively typed; the
  *    reference passes some through as the raw payload strings and the
  *    downstream Firehose/Glue conversion coerces them.
  *
  * These four (plus null-vs-absent, which parquet cannot distinguish)
  * are the ONLY allowed deltas: `tools/normalizer_diff.py` runs the
  * actual reference loader on the NormalizerParitySpec fixtures and
  * fails on any divergence outside them.
  */
object Normalizers {

  // ------------------------------------------------------------- A5
  /** Epoch seconds-or-milliseconds autodetect → timestamp, matching
    * epochToTimestamp (qopcfdr_stream_loader.py:216-225): seconds are
    * tried first and fall back to ms when the result would overflow a
    * datetime year (anything past 9999-12-31 = 253402300799 s). */
  def epochToTimestamp(c: Column): Column = {
    val d = c.try_cast(DoubleType) // null (not ANSI error) on garbage
    when(d > 253402300799d, timestamp_millis(d.cast("long")))
      .otherwise(timestamp_seconds(d))
  }

  // ------------------------------------------------------------- A7
  /** platform → device.os type (qopcfdr_stream_loader.py:543-557). */
  def osTypeUid(platform: Column): Column =
    when(platform.isNull, 0)
      .when(platform === "Win", 100)
      .when(platform === "Lin", 200)
      .when(platform === "Mac", 300)
      .otherwise(99)

  def osTypeName(platform: Column): Column =
    when(platform.isNull, "Unknown")
      .when(platform === "Win", "Windows")
      .when(platform === "Lin", "Linux")
      .when(platform === "Mac", "macOS")
      .otherwise(platform)

  // ----------------------------------------------------------- A6
  private def f(k: String): Column = col("fields").getItem(k)

  /** Field read with the reference's truthiness semantics: an
    * empty-string value behaves like an absent key wherever the
    * reference guards with `if payload.get(k):` — i.e. in fallback
    * coalescing and branch decodes. Raw `f(k)` stays correct for
    * value positions, where the reference emits the falsy value
    * as-is. */
  private def fnb(k: String): Column = nullif(f(k), lit(""))

  /** Keys consumed by the common parser (qopcfdr_stream_loader.py:
    * 227-275) plus ConfigBuild / event_platform, pulled by every
    * class normalizer. */
  private val commonKeys =
    Seq("name", "aid", "cid", "timestamp", "id", "aip",
        "ConfigBuild", "event_platform")

  /** Adds the common-field columns and a class's own `classCols` in
    * ONE projection. `timestamp` defaults to the reference's 1998-04-24
    * sentinel (py:259). Every column reads only the input's `fields`
    * map, so one `withColumns` replaces a `withColumn` chain: each
    * `withColumn` is a separate eager analysis over the growing plan,
    * paid per route per trigger. */
  def withCommon(df: DataFrame, classCols: (String, Column)*): DataFrame =
    df.withColumns(ListMap(Seq(
      "c_name" -> f("name"),
      "c_aid" -> f("aid"),
      "c_cid" -> f("cid"),
      "c_ts" -> coalesce(f("timestamp"), lit("893383659000")),
      "c_id" -> f("id"),
      "c_aip" -> f("aip"),
      "config_build" -> f("ConfigBuild"),
      "platform" -> f("event_platform")) ++ classCols: _*))

  /** A6 — the `unmapped` remainder: the payload map minus common keys
    * and the class-specific consumed keys.
    *
    * `fallbacks` mirrors the reference's coalescing quirk (e.g.
    * py:2832-2838): it reads `get(primary) or get(fallback)` but then
    * runs `try: del primary except KeyError: del fallback` — so when
    * BOTH keys are present only the primary is deleted and the
    * fallback key STAYS in `unmapped`. The fallback is consumed only
    * when the primary key is absent. Pinned by the parity differ. */
  /** `conditionals` handles keys the reference deletes only under a
    * runtime condition (e.g. HttpPath only for HttpRequest events,
    * TlsVersion only when Ja3Hash is set): the key is consumed iff its
    * condition holds. */
  private def unmappedCol(classKeys: Seq[String],
                          fallbacks: Seq[(String, String)] = Nil,
                          conditionals: Seq[(String, Column)] = Nil): Column = {
    val consumed = (commonKeys ++ classKeys).map(x => x: Any)
    val base = fallbacks.foldLeft(
      map_filter(col("fields"), (k, _) => !k.isin(consumed: _*))) {
      case (m, (primary, fb)) =>
        map_filter(m, (k, _) => !(k === fb && f(primary).isNull))
    }
    conditionals.foldLeft(base) {
      case (m, (key, consumedWhen)) =>
        map_filter(m, (k, _) => !(k === key && consumedWhen))
    }
  }

  // ----------------------------------------------------------- A9
  def obs(name: String, typeId: Int, typ: String, value: Column): Column =
    struct(lit(name).as("name"), lit(typeId).as("type_id"),
           lit(typ).as("type"), value.cast("string").as("value"))

  /** Observables array keeping only present values. The reference's
    * appends are guarded with `if value:` — truthiness — so empty
    * strings are dropped too. */
  private def observablesArr(items: Seq[Column]): Column =
    filter(array(items: _*),
      x => x.getField("value").isNotNull && x.getField("value") =!= "")

  private def deviceObs: Seq[Column] = Seq(
    obs("device.agent_list[0].uid", 10, "Resource UID", col("c_aid")),
    obs("device.uid", 10, "Resource UID", col("c_cid")),
    obs("device.ip", 2, "IP Address", col("c_aip")))

  // ----------------------------------------------------------- shared structs
  private def productStruct: Column = struct(
    lit("en").as("lang"),
    lit("Crowdstrike Falcon").as("name"),
    lit("Crowdstrike").as("vendor_name"),
    lit("https://www.crowdstrike.com/resources/data-sheets/falcon-data-replicator/").as("url_string"))

  private def metadataStruct(uid: Column, profiles: Seq[String]): Column = struct(
    uid.as("uid"),
    col("event_name").as("log_name"),
    lit("Falcon Data Replicator").as("log_provider"),
    lit("1.2.0").as("version"),
    (if (profiles.isEmpty) array().cast("array<string>")
     else array(profiles.map(lit): _*)).as("profiles"),
    productStruct.as("product"))

  private def osStruct: Column = struct(
    osTypeUid(col("platform")).as("type_id"),
    osTypeName(col("platform")).as("type"))

  private def agentList(uid: Column, version: Column): Column = array(struct(
    uid.as("uid"),
    lit("Crowdstrike Falcon Agent").as("name"),
    lit(1).as("type_id"),
    lit("Endpoint Detection and Response").as("type"),
    version.as("version"),
    lit("Crowdstrike").as("vendor_name")))

  /** `device` (or device-shaped `src_endpoint`). */
  private def deviceStruct: Column = struct(
    col("c_aip").as("ip"),
    col("c_cid").as("uid"),
    osStruct.as("os"),
    agentList(col("c_aid"), col("config_build")).as("agent_list"))

  private def hashStruct(algId: Column, alg: Column, value: Column): Column =
    struct(algId.cast("int").as("algorithm_id"), alg.as("algorithm"), value.as("value"))

  private def hashStructI(algId: Int, alg: String, value: Column): Column =
    hashStruct(lit(algId), lit(alg), value)

  /** Hash list with present (truthy — `if hash:` in the reference)
    * values only; [null-struct] when empty (the reference back-fills
    * one null hash entry). */
  private def hashesArr(items: Seq[Column]): Column = {
    val present = filter(array(items: _*),
      x => x.getField("value").isNotNull && x.getField("value") =!= "")
    when(size(present) > 0, present).otherwise(array(hashStruct(
      lit(null).cast("int"), lit(null).cast("string"), lit(null).cast("string"))))
  }

  // ----------------------------------------------------------- A8
  /** Base-event columns shared by every class. `activity`/`status`
    * default to the broadcast mapping values; classes with runtime
    * overrides (HTTP, app lifecycle, patch state, extApi) pass their
    * computed columns. */
  private def baseCols(activityId: Column, activityName: Column,
                       statusId: Column, statusName: Column,
                       metadataUid: Column,
                       profiles: Seq[String]): Seq[Column] = Seq(
    activityName.as("activity_name"),
    activityId.cast("int").as("activity_id"),
    col("categoryName").as("category_name"),
    col("categoryUid").as("category_uid"),
    col("className").as("class_name"),
    col("classUid").as("class_uid"),
    col("severityName").as("severity"),
    col("severityId").as("severity_id"),
    statusName.as("status"),
    statusId.cast("int").as("status_id"),
    concat(col("className"), lit(": "), activityName).as("type_name"),
    (col("classUid") * 100 + activityId).cast("int").as("type_uid"),
    epochToTimestamp(col("c_ts")).as("time"),
    col("c_name").as("message"),
    metadataStruct(metadataUid, profiles).as("metadata"))

  private def mappedBaseCols(profiles: Seq[String] = Nil): Seq[Column] =
    baseCols(col("activityId"), col("activityName"),
             col("statusId"), col("statusName"), col("c_id"), profiles)

  // =========================================================== A21
  /** Device Config State (5002) — qopcfdr_stream_loader.py:522-648. */
  def deviceConfigState(df: DataFrame): DataFrame =
    withCommon(df).select(
      mappedBaseCols() ++ Seq(
        observablesArr(deviceObs).as("observables"),
        deviceStruct.as("device"),
        unmappedCol(Nil).as("unmapped")): _*)

  // =========================================================== A11
  /** Process Activity (1007) — qopcfdr_stream_loader.py:650-917. */
  def processActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "image" -> f("ImageFileName"),
      "sha256" -> f("SHA256HashData"),
      "md5h" -> f("MD5HashData"),
      "cmd" -> f("CommandLine"),
      "pid" -> f("RawProcessId"),
      "puid" -> f("SourceProcessId"),
      "parent_uid" -> f("ParentProcessId"),
      // reference shape: `p = get(primary); if not p: p = get(fallback)`
      // — a truthiness test on the primary but the RAW fallback value
      // (an empty-string fallback stays an empty string)
      "parent_file" -> coalesce(fnb("ParentBaseFileName"), f("ParentImageFileName")),
      "parent_cmd" -> f("ParentCommandLine"))
    // ParentImageFileName is read as the parent-name fallback but is
    // NEVER consumed: the reference's only path that would delete it
    // (py:778 — a bare `del unmapped["ParentBaseFileName"]` with no
    // try/except after the fallback get) raises KeyError and crashes
    // its Lambda whenever ParentImageFileName is present without
    // ParentBaseFileName, and when both are present it deletes only
    // ParentBaseFileName. We normalize such events instead of crashing
    // (declared divergence) and keep the key in unmapped either way.
    val consumed = Seq("ImageFileName", "SHA256HashData", "MD5HashData",
      "CommandLine", "RawProcessId", "SourceProcessId", "ParentProcessId",
      "ParentBaseFileName", "ParentCommandLine")
    val observables = observablesArr(Seq(
      obs("process.file.name", 7, "File Name", col("image")),
      obs("process.file.hashes[0].value", 8, "Hash", col("sha256")),
      obs("process.file.hashes[1].value", 8, "Hash", col("md5h")),
      obs("process.cmd_line", 13, "Command Line", col("cmd")),
      obs("process.pid", 13, "Process ID", col("pid"))) ++ Seq(
      obs("process.parent_process.file.name", 7, "File Name", col("parent_file")),
      obs("process.parent_process.cmd_line", 13, "Command Line", col("parent_cmd"))) ++
      deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      deviceStruct.as("device"),
      struct(
        col("cmd").as("cmd_line"),
        epochToTimestamp(col("c_ts")).as("created_time"),
        col("pid").try_cast(LongType).as("pid"),
        col("puid").as("uid"),
        struct(col("image").as("name"),
               hashesArr(Seq(hashStructI(3, "SHA-256", col("sha256")),
                             hashStructI(1, "MD5", col("md5h")))).as("hashes")).as("file"),
        struct(col("parent_cmd").as("cmd_line"),
               epochToTimestamp(col("c_ts")).as("created_time"),
               col("parent_uid").as("uid"),
               struct(col("parent_file").as("name")).as("file")).as("parent_process")
      ).as("process"),
      unmappedCol(consumed).as("unmapped")): _*)
  }

  // =========================================================== A12
  /** Network Activity (4001) — qopcfdr_stream_loader.py:918-1175. */
  def networkActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "src_port" -> f("LocalPort").try_cast(IntegerType),
      "dst_port" -> f("RemotePort").try_cast(IntegerType),
      "dst_ip" -> coalesce(fnb("RemoteAddressIP4"), f("RemoteAddressIP6")),
      "local_ip" -> coalesce(fnb("LocalAddressIP4"), f("LocalAddressIP6")),
      "mac" -> f("PhysicalAddress"),
      "conn_dir" -> f("ConnectionDirection"))
    val consumed = Seq("LocalPort", "RemotePort", "RemoteAddressIP4",
      "LocalAddressIP4", "PhysicalAddress", "ConnectionDirection")
    val fallbacks = Seq("RemoteAddressIP4" -> "RemoteAddressIP6",
                        "LocalAddressIP4" -> "LocalAddressIP6")
    val directionId =
      when(col("conn_dir") === "0", 2).when(col("conn_dir") === "1", 1)
        .when(col("conn_dir") === "2", 99).when(col("conn_dir") === "3", 3)
        .otherwise(0)
    val directionName =
      when(col("conn_dir") === "0", "Outbound").when(col("conn_dir") === "1", "Inbound")
        .when(col("conn_dir") === "2", "Neither").when(col("conn_dir") === "3", "Lateral")
        .otherwise("Unknown")
    val protoVerId =
      when(col("c_name").contains("IP4"), 4)
        .when(col("c_name").contains("IP6"), 6).otherwise(0)
    val protoVerName =
      when(col("c_name").contains("IP4"), "Internet Protocol version 4 (IPv4)")
        .when(col("c_name").contains("IP6"), "Internet Protocol version 6 (IPv6)")
        .otherwise("Unknown")
    val observables = observablesArr(Seq(
      obs("src_endpoint.port", 11, "Port", col("src_port")),
      obs("dst_endpoint.port", 11, "Port", col("dst_port")),
      // reference quirk (py:990-998): the dst IP observable reuses the
      // dst_endpoint.port name/type
      obs("dst_endpoint.port", 11, "Port", col("dst_ip")),
      obs("src_endpoint.intermediate_ips[0]", 2, "IP Address", col("local_ip")),
      obs("src_endpoint.mac", 3, "MAC Address", col("mac"))) ++ deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      struct(
        directionName.as("direction"),
        directionId.cast("int").as("direction_id"),
        col("c_id").as("uid"),
        protoVerName.as("protocol_ver"),
        protoVerId.cast("int").as("protocol_ver_id")).as("connection_info"),
      struct(
        col("c_aip").as("ip"),
        col("c_cid").as("uid"),
        col("mac").as("mac"),
        array(col("local_ip")).as("intermediate_ips"),
        osStruct.as("os"),
        agentList(col("c_aid"), col("config_build")).as("agent_list")).as("src_endpoint"),
      struct(col("dst_ip").as("ip"), col("dst_port").as("port")).as("dst_endpoint"),
      unmappedCol(consumed, fallbacks).as("unmapped")): _*)
  }

  // =========================================================== A10
  /** HTTP Activity (4002), non-extApi events —
    * qopcfdr_stream_loader.py:1176-1540. HttpRequest decodes the
    * CrowdStrike HttpMethod decimal into the OCSF activity; HttpStatus
    * resolves the "Override" status sentinel. */
  def httpActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "http_method_raw" -> f("HttpMethod"),
      "http_host" -> f("HttpHost"),
      "http_path" -> f("HttpPath"),
      "http_status" -> f("HttpStatus"),
      "dst_ip" -> coalesce(fnb("RemoteAddressIP4"), f("RemoteAddressIP6")),
      "dst_port" -> f("RemotePort").try_cast(IntegerType),
      "src_port" -> f("LocalPort").try_cast(IntegerType),
      "image" -> f("ImageFileName"),
      "cmd" -> f("CommandLine"),
      "ja3" -> fnb("Ja3Hash"),
      "tls_ver" -> f("TlsVersion"),
      "domain" -> f("DomainName"))
    // HttpStatus is read for the status override but never removed
    // from unmapped (the reference has no del for it, py:1313).
    // HttpMethod/HttpHost/HttpPath are read ONLY inside the
    // `if eventName == "HttpRequest"` branch (py:1200-1277) — for
    // HttpResponse/TlsClientHello they stay in unmapped — and
    // TlsVersion is deleted only inside the `if ja3Hash:` block
    // (py:1396), hence the conditional consumption below.
    val consumed = Seq("RemoteAddressIP4", "RemotePort", "LocalPort",
      "ImageFileName", "CommandLine", "Ja3Hash", "DomainName")
    val httpFallbacks = Seq("RemoteAddressIP4" -> "RemoteAddressIP6")
    val isReq = col("event_name") === "HttpRequest"
    val httpConditionals = Seq(
      "HttpMethod" -> isReq, "HttpHost" -> isReq, "HttpPath" -> isReq,
      "TlsVersion" -> fnb("Ja3Hash").isNotNull)
    // HttpMethod decimal → (activity_name, activity_id, http_method)
    val m = col("http_method_raw")
    val actName = when(!isReq, col("activityName"))
      .when(m === "1", "Get").when(m === "2", "Head").when(m === "3", "Post")
      .when(m === "4", "Put").when(m === "5", "Delete").when(m === "6", "Options")
      .when(m === "7", "Connect").when(m === "8", "Trace").when(m === "9", "Patch")
      .otherwise("Unknown")
    val actId = when(!isReq, col("activityId"))
      .when(m === "1", 3).when(m === "2", 4).when(m === "3", 6)
      .when(m === "4", 7).when(m === "5", 2).when(m === "6", 5)
      .when(m === "7", 1).when(m === "8", 8).when(m === "9", 99)
      .otherwise(0)
    val httpMethod = when(isReq && m.isin("1", "2", "3", "4", "5", "6", "7", "8"),
      upper(actName)).otherwise(lit(null).cast("string"))
    // "Override" status sentinel → derive from HttpStatus when present
    val hasOverride = col("statusName") === "Override"
    val canDerive = hasOverride && col("http_status").isNotNull
    val fail = col("http_status").startsWith("4") || col("http_status").startsWith("5")
    val statusId = when(canDerive, when(fail, 2).otherwise(1)).otherwise(col("statusId"))
    val statusName = when(canDerive, when(fail, "Failure").otherwise("Success"))
      .otherwise(col("statusName"))
    val observables = observablesArr(Seq(
      // the host observable is appended only inside the HttpRequest
      // branch (py:1256) — HttpHost on other events stays unread
      obs("http_request.url.hostname", 1, "Hostname", when(isReq, col("http_host"))),
      // reference quirk (py:1320-1341): dst IP observable reuses the
      // dst_endpoint.port name/type
      obs("dst_endpoint.port", 11, "Port", col("dst_ip")),
      obs("dst_endpoint.port", 11, "Port", col("dst_port")),
      obs("src_endpoint.port", 11, "Port", col("src_port")),
      obs("file.name", 7, "File Name", col("image")),
      obs("actor.process.cmd_line", 13, "Command Line", col("cmd")),
      obs("tls.ja3_hash.value", 8, "Hash", col("ja3")),
      obs("dst_endpoint.domain", 1, "Hostname", col("domain"))) ++ deviceObs)
    d.select(baseCols(actId, actName, statusId, statusName, col("c_id"),
                      profiles = Seq("host")) ++ Seq(
      col("http_status").as("status_code"),
      observables.as("observables"),
      struct(struct(col("cmd").as("cmd_line")).as("process")).as("actor"),
      struct(col("image").as("name")).as("file"),
      struct(
        col("c_aip").as("ip"),
        col("c_cid").as("uid"),
        col("src_port").as("port"),
        osStruct.as("os"),
        agentList(col("c_aid"), col("config_build")).as("agent_list")).as("src_endpoint"),
      struct(col("dst_ip").as("ip"), col("dst_port").as("port"),
             col("domain").as("domain")).as("dst_endpoint"),
      struct(
        httpMethod.as("http_method"),
        col("c_id").as("uid"),
        struct(when(isReq, col("http_host")).as("hostname"),
               when(isReq, col("http_path")).as("path")).as("url")).as("http_request"),
      struct(
        when(col("ja3").isNotNull, concat(lit("1."), col("tls_ver"))).as("version"),
        struct(when(col("ja3").isNotNull, "ja3").as("algorithm"),
               when(col("ja3").isNotNull, 99).cast("int").as("algorithm_id"),
               col("ja3").as("value")).as("ja3_hash")).as("tls"),
      unmappedCol(consumed, httpFallbacks, httpConditionals).as("unmapped")): _*)
  }

  // =========================================================== A13
  /** File System Activity (1001) — qopcfdr_stream_loader.py:1541-1759. */
  def fileSystemActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "file_name" -> coalesce(fnb("TargetFileName"), f("ScriptContentName")),
      "file_path" -> f("TargetDirectoryName"),
      "file_uid" -> f("FileIdentifier"),
      "creator" -> f("UserName"),
      "sha256" -> coalesce(fnb("SHA256HashData"), f("ContentSHA256HashData")))
    val consumed = Seq("TargetFileName", "TargetDirectoryName",
      "FileIdentifier", "UserName", "SHA256HashData")
    val fallbacks = Seq("TargetFileName" -> "ScriptContentName",
                        "SHA256HashData" -> "ContentSHA256HashData")
    val observables = observablesArr(Seq(
      obs("file.name", 7, "File Name", col("file_name")),
      obs("file.creator.name", 4, "User Name", col("creator")),
      obs("file.hashes[0].value", 8, "Hash", col("sha256"))) ++ deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      deviceStruct.as("device"),
      struct(
        col("file_name").as("name"),
        col("file_uid").as("uid"),
        col("file_path").as("path"),
        when(fnb("TargetDirectoryName").isNotNull, 2).otherwise(1).cast("int").as("type_id"),
        when(fnb("TargetDirectoryName").isNotNull, "Folder").otherwise("Regular File").as("type"),
        lit(0).as("confidentiality_id"),
        lit("Unknown").as("confidentiality"),
        struct(col("creator").as("name")).as("creator"),
        hashesArr(Seq(hashStructI(3, "SHA-256", col("sha256")))).as("hashes")).as("file"),
      unmappedCol(consumed, fallbacks).as("unmapped")): _*)
  }

  // =========================================================== A14
  /** Module Activity (1005) — qopcfdr_stream_loader.py:1760-1994. */
  def moduleActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "module_name" -> coalesce(fnb("BundleID"), f("IOServicePath")),
      "image" -> f("ImageFileName"),
      "sha256" -> f("SHA256HashData"),
      "sha1" -> f("SHA1HashData"),
      "md5h" -> f("MD5HashData"))
    // BundleID → IOServicePath is the same try-del-except-del fallback
    // as the file-name pairs: both present → only BundleID deleted
    val consumed = Seq("BundleID", "ImageFileName",
      "SHA256HashData", "SHA1HashData", "MD5HashData")
    val fallbacks = Seq("BundleID" -> "IOServicePath")
    val observables = observablesArr(Seq(
      obs("module.file.name", 7, "File Name", col("image")),
      obs("file.hashes[0].value", 8, "Hash", col("sha256")),
      obs("file.hashes[1].value", 8, "Hash", col("sha1")),
      obs("file.hashes[2].value", 8, "Hash", col("md5h"))) ++ deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      deviceStruct.as("device"),
      struct(
        col("module_name").as("function_name"),
        when(nullif(col("module_name"), lit("")).isNotNull, 1)
          .otherwise(0).cast("int").as("load_type_id"),
        when(nullif(col("module_name"), lit("")).isNotNull, "Standard")
          .otherwise("Unknown").as("load_type"),
        struct(col("image").as("name"),
               hashesArr(Seq(hashStructI(3, "SHA-256", col("sha256")),
                             hashStructI(2, "SHA-1", col("sha1")),
                             hashStructI(1, "MD5", col("md5h")))).as("hashes")).as("file")
      ).as("module"),
      unmappedCol(consumed, fallbacks).as("unmapped")): _*)
  }

  // =========================================================== A15
  /** DNS Activity (4003) — qopcfdr_stream_loader.py:1995-2155.
    * ContextBaseFileName is surfaced as an observable but left inside
    * `unmapped` (as in the reference — its observable is literally
    * named "unmapped.ContextBaseFileName"). */
  def dnsActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "domain" -> f("DomainName"),
      "ctx_file" -> f("ContextBaseFileName"))
    val consumed = Seq("DomainName")
    val observables = observablesArr(Seq(
      obs("query.hostname", 1, "Hostname", col("domain")),
      obs("unmapped.ContextBaseFileName", 7, "File Name", col("ctx_file"))) ++ deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      deviceStruct.as("src_endpoint"),
      struct(lit("Query").as("opcode"), lit(0).as("opcode_id"),
             col("domain").as("hostname")).as("query"),
      lit(0).as("rcode_id"),
      lit("NoError").as("rcode"),
      unmappedCol(consumed).as("unmapped")): _*)
  }

  // =========================================================== A16
  /** Authentication (3002) — qopcfdr_stream_loader.py:2156-2418. */
  def authentication(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "user_name" -> f("UserName"),
      "user_principal" -> f("UserPrincipal"),
      "user_sid" -> f("UserSid"),
      "auth_uid" -> f("AuthenticationId"),
      "auth_uuid" -> f("AuthenticationUuid"),
      "auth_mac" -> f("AuthenticationIdMac"),
      "logon_raw" -> f("LogonType"),
      "pid" -> f("RawProcessId"),
      "is_admin" -> f("UserIsAdmin"))
    // reference quirk (pinned by the parity differ): LogonType is read
    // via .get() but never deleted (py:2245), so it STAYS in unmapped —
    // unlike every other consumed key here
    val consumed = Seq("UserName", "UserPrincipal", "UserSid",
      "AuthenticationId", "AuthenticationUuid", "AuthenticationIdMac",
      "RawProcessId", "UserIsAdmin")
    // Windows logon type decimals → OCSF logon_type (py:2245-2285)
    val logonNames = Map(2 -> "Interactive", 3 -> "Network", 4 -> "Batch",
      5 -> "OS Service", 7 -> "Unlock", 8 -> "Network Cleartext",
      9 -> "New Credentials", 10 -> "Remote Interactive",
      11 -> "Cached Interactive", 12 -> "Cached Remote Interactive",
      13 -> "Cached Unlock")
    val lt = nullif(col("logon_raw"), lit(""))
    val logonTypeId = logonNames.keys.toSeq.sorted
      .foldLeft(when(lit(false), 0)) { (acc, k) => acc.when(lt === k.toString, k) }
      .otherwise(0)
    val logonTypeName = logonNames.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), "")) { case (acc, (k, v)) => acc.when(lt === k.toString, v) }
      .otherwise("Unknown")
    val adm = nullif(col("is_admin"), lit(""))
    val userTypeId = when(adm.isNull, 0)
      .when(adm === "1", 2).otherwise(1)
    val userTypeName = when(adm.isNull, "Unknown")
      .when(adm === "1", "Admin").otherwise("User")
    val observables = observablesArr(Seq(
      obs("user.name", 4, "User Name", col("user_name")),
      obs("user.uid", 10, "Resource UID", col("user_principal")),
      obs("user.uid_alt", 10, "Resource UID", col("user_sid")),
      obs("logon_process.pid", 15, "Process ID", col("pid"))) ++ deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      deviceStruct.as("src_endpoint"),
      struct(col("pid").try_cast(LongType).as("pid")).as("logon_process"),
      struct(col("user_name").as("name"),
             col("user_principal").as("uid"),
             col("user_sid").as("uid_alt"),
             userTypeName.as("type"),
             userTypeId.cast("int").as("type_id")).as("user"),
      struct(col("auth_uid").as("uid"), col("auth_uuid").as("uuid"),
             col("auth_mac").as("uid_alt")).as("session"),
      logonTypeName.as("logon_type"),
      logonTypeId.cast("int").as("logon_type_id"),
      unmappedCol(consumed).as("unmapped")): _*)
  }

  // =========================================================== A17
  /** Application Lifecycle (6002) — qopcfdr_stream_loader.py:2419-2614.
    * UpdateFlag drives both activity and status (the mapping's 777
    * Override sentinel). */
  def applicationLifecycle(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "flag" -> f("UpdateFlag"),
      "app_name" -> f("AppName"),
      "app_source" -> f("AppSource"),
      "app_vendor" -> f("AppVendor"),
      "app_version" -> f("AppVersion"))
    val consumed = Seq("UpdateFlag", "AppName", "AppSource", "AppVendor", "AppVersion")
    val fl = nullif(col("flag"), lit(""))
    val actId = when(fl.isNull, 0).when(fl === "2", 2).when(fl === "3", 1)
      .when(fl.isin("0", "1", "4", "5"), 99).otherwise(99)
    val actName = when(fl.isNull, "Unknown")
      .when(fl === "0", "UPDATE_INVALID").when(fl === "1", "UPDATE_ENUMERATION")
      .when(fl === "2", "Remove").when(fl === "3", "Install")
      .when(fl === "4", "UPDATE_OBSOLETE").when(fl === "5", "UPDATE_REVISED")
      .otherwise("Other")
    val statusId = when(fl.isNull, 0).when(fl.isin("0", "4"), 2)
      .when(fl.isin("1", "2", "3", "5"), 1).otherwise(99)
    val statusName = when(fl.isNull, "Unknown").when(fl.isin("0", "4"), "Failure")
      .when(fl.isin("1", "2", "3", "5"), "Success").otherwise("Other")
    // metadata.profiles = ["host"] (py:2578), as for HTTP Activity and
    // Detection Finding — pinned by the parity differ
    d.select(baseCols(actId, actName, statusId, statusName, col("c_id"),
                      profiles = Seq("host")) ++ Seq(
      observablesArr(deviceObs).as("observables"),
      deviceStruct.as("device"),
      struct(col("app_name").as("name"), col("app_source").as("uid"),
             col("app_vendor").as("vendor_name"),
             col("app_version").as("version")).as("app"),
      unmappedCol(consumed).as("unmapped")): _*)
  }

  // =========================================================== A18
  /** Operating System Patch State (5004) —
    * qopcfdr_stream_loader.py:2615-2789. */
  def osPatchState(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "status_flag" -> f("Status"),
      "kbs_raw" -> f("InstalledUpdateIds"))
    val consumed = Seq("Status", "InstalledUpdateIds")
    val sf = nullif(col("status_flag"), lit(""))
    val actId = when(sf.isNull, 0).when(sf === "0", 1).otherwise(99)
    val actName = when(sf.isNull, "Unknown").when(sf === "0", "Install").otherwise("Other")
    val statusId = when(sf.isNull, 0).when(sf === "0", 1).otherwise(99)
    val statusName = when(sf.isNull, "Unknown").when(sf === "0", "Success").otherwise("Other")
    val kbList = when(nullif(col("kbs_raw"), lit("")).isNotNull,
      transform(split(col("kbs_raw"), ";"), kb => struct(kb.as("uid"))))
      .otherwise(array(struct(lit(null).cast("string").as("uid"))))
    d.select(baseCols(actId, actName, statusId, statusName, col("c_id"), Nil) ++ Seq(
      observablesArr(deviceObs).as("observables"),
      deviceStruct.as("device"),
      kbList.as("kb_article_list"),
      unmappedCol(consumed).as("unmapped")): _*)
  }

  // =========================================================== A19
  /** File Hosting Activity (6006) — qopcfdr_stream_loader.py:2790-3005. */
  def fileHostingActivity(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "file_name" -> coalesce(fnb("SourceFileName"), f("DownloadPath")),
      "sha256" -> coalesce(fnb("SHA256HashData"), f("ContentSHA256HashData")),
      "dl_server" -> f("DownloadServer"),
      "dl_port" -> f("DownloadPort").try_cast(IntegerType))
    val consumed = Seq("SourceFileName", "SHA256HashData",
      "DownloadServer", "DownloadPort")
    val fallbacks = Seq("SourceFileName" -> "DownloadPath",
                        "SHA256HashData" -> "ContentSHA256HashData")
    val observables = observablesArr(Seq(
      obs("file.name", 7, "File Name", col("file_name")),
      obs("file.hashes[0].value", 8, "Hash", col("sha256")),
      obs("dst_endpoint.hostname", 1, "Hostname", col("dl_server")),
      obs("dst_endpoint.port", 11, "Port", col("dl_port"))) ++ deviceObs)
    d.select(mappedBaseCols() ++ Seq(
      observables.as("observables"),
      deviceStruct.as("src_endpoint"),
      struct(col("dl_server").as("hostname"), col("dl_port").as("port")).as("dst_endpoint"),
      struct(col("file_name").as("name"),
             lit(0).as("confidentiality_id"),
             lit("Unknown").as("confidentiality"),
             hashesArr(Seq(hashStructI(3, "SHA-256", col("sha256")))).as("hashes")).as("file"),
      unmappedCol(consumed, fallbacks).as("unmapped")): _*)
  }

  // =========================================================== A20
  /** Detection Finding (2004) — qopcfdr_stream_loader.py:3006-3253.
    * The parent process cmd_line is always null (the reference re-gets
    * the already-consumed CommandLine key, py:3099). */
  def detectionFinding(df: DataFrame): DataFrame = {
    val d = withCommon(df,
      "image" -> f("ImageFileName"),
      "cmd" -> f("CommandLine"),
      "sha256" -> f("ContentSHA256HashData"),
      "ctx_uid" -> f("ContextProcessId"),
      "parent_file" -> f("ParentImageFileName"),
      "gp_file" -> f("GrandparentImageFileName"),
      "gp_cmd" -> f("GrandparentCommandLine"))
    val consumed = Seq("ImageFileName", "CommandLine", "ContentSHA256HashData",
      "ContextProcessId", "ParentImageFileName", "GrandparentImageFileName",
      "GrandparentCommandLine")
    val nullStr = lit(null).cast("string")
    // the reference re-gets the CommandLine key for the parent cmd_line
    // (py:3099): when CommandLine was truthy it was deleted → null; a
    // FALSY CommandLine was never deleted, so the re-get returns it
    val parentCmd = when(fnb("CommandLine").isNotNull, nullStr)
      .otherwise(f("CommandLine"))
    val observables = observablesArr(Seq(
      obs("evidences[0].process.file.name", 7, "File Name", col("image")),
      obs("evidences[0].process.cmd_line", 13, "Command Line", col("cmd")),
      obs("evidences[0].process.file.hashes[0].value", 8, "Hash", col("sha256")),
      obs("evidences[0].process.parent_process.file.name", 7, "File Name", col("parent_file")),
      obs("evidences[0].process.parent_process.cmd_line", 13, "Command Line", parentCmd),
      obs("evidences[0].process.parent_process.parent_process.file.name", 7, "File Name", col("gp_file")),
      obs("evidences[0].process.parent_process.parent_process.cmd_line", 13, "Command Line", col("gp_cmd"))) ++
      deviceObs)
    d.select(mappedBaseCols(profiles = Seq("host")) ++ Seq(
      observables.as("observables"),
      deviceStruct.as("device"),
      array(struct(struct(
        // the reference builds this hash entry unconditionally with
        // the algorithm fields filled and the (possibly null) raw
        // value (py:3221-3227) — unlike the hashesArr classes
        struct(col("image").as("name"),
               array(hashStructI(3, "SHA-256", col("sha256"))).as("hashes")).as("file"),
        col("cmd").as("cmd_line"),
        col("ctx_uid").as("uid"),
        struct(struct(col("parent_file").as("name")).as("file"),
               parentCmd.as("cmd_line"),
               struct(struct(col("gp_file").as("name")).as("file"),
                      col("gp_cmd").as("cmd_line")).as("parent_process")
        ).as("parent_process")).as("process"))).as("evidences"),
      unmappedCol(consumed).as("unmapped")): _*)
  }

  // =========================================================== extApi
  /** Event_ExternalApiEvent → HTTP Activity (4002) on the dedicated
    * 13th "extApi" route — qopcfdr_stream_loader.py:287-520. The
    * payload is a different shape (AuditKeyValues k/v array, direct
    * UTCTimestamp), so it bypasses the common parser. */
  def externalApiEvent(df: DataFrame): DataFrame = {
    val akvType = ArrayType(StructType(Seq(
      StructField("Key", StringType), StructField("ValueString", StringType))))
    // get() (0-based, null when absent) not element_at — ANSI mode
    // throws on an empty filter result
    def kv(key: String): Column =
      get(filter(col("akv"), x => x.getField("Key") === key), lit(0))
        .getField("ValueString")
    // `fields` keeps nested JSON as raw text, so the k/v array parses
    // straight out of the map — no reference back to the `raw` line,
    // letting batch callers cache the classified relation without the
    // duplicate full-line string (it halves the cached bytes the
    // 13-route fan-out rescans). The other columns read `akv`, so it
    // is a projection of its own and they land in one `withColumns`.
    val d = df
      .withColumn("akv", from_json(col("fields").getItem("AuditKeyValues"), akvType))
      .withColumns(ListMap(
        "method_raw" -> kv("request_method"),
        "status_code" -> kv("status_code").try_cast(IntegerType),
        "user_agent" -> kv("user_agent"),
        "req_len" -> kv("request_uri_length").try_cast(IntegerType),
        "trace_id" -> kv("trace_id"),
        "req_path" -> kv("request_path"),
        "accept_hdr" -> kv("request_accept"),
        "content_type" -> kv("request_content_type"),
        "api_client_id" -> kv("APIClientID"),
        // the reference maps falsy values to None here (ternaries,
        // py:342-346), so empty strings become nulls in value positions
        "user_ip" -> fnb("UserIp"),
        "x_aid" -> fnb("AgentIdString"),
        "x_cid" -> fnb("cid"),
        "user_id" -> fnb("UserId"),
        "customer_id" -> fnb("CustomerIdString"),
        "ext_type" -> f("ExternalApiType"),
        "utc_ts" -> f("UTCTimestamp")))
    val actName = when(col("method_raw").isNull, "Unknown")
      .otherwise(initcap(lower(col("method_raw"))))
    val actId = when(col("method_raw").isNull, 0)
      .when(actName === "Connect", 1).when(actName === "Delete", 2)
      .when(actName === "Get", 3).when(actName === "Head", 4)
      .when(actName === "Options", 5).when(actName === "Post", 6)
      .when(actName === "Put", 7).when(actName === "Trace", 8)
      .otherwise(99)
    val httpMethod = col("method_raw")
    val sc = col("status_code").cast("string")
    val statusId = when(col("status_code").isNull, 0)
      .when(sc.startsWith("1") || sc.startsWith("2") || sc.startsWith("3"), 1)
      .otherwise(2)
    val statusName = when(col("status_code").isNull, "Unknown")
      .when(sc.startsWith("1") || sc.startsWith("2") || sc.startsWith("3"), "Success")
      .otherwise("Failure")
    val observables = observablesArr(Seq(
      obs("http_request.user_agent", 16, "HTTP User-Agent", col("user_agent")),
      obs("connection_info.session.credential_uid", 10, "Resource UID", col("api_client_id")),
      obs("src_endpoint.ip", 2, "IP Address", col("user_ip")),
      obs("src_endpoint.agent_list[0].uid", 10, "Resource UID", col("x_aid")),
      obs("src_endpoint.uid", 10, "Resource UID", col("x_cid")),
      obs("src_endpoint.owner.uid", 10, "Resource UID", col("user_id")),
      obs("src_endpoint.owner.account.uid", 10, "Resource UID", col("customer_id"))))
    d.select(
      actName.as("activity_name"),
      actId.cast("int").as("activity_id"),
      col("categoryName").as("category_name"),
      col("categoryUid").as("category_uid"),
      col("className").as("class_name"),
      col("classUid").as("class_uid"),
      col("severityName").as("severity"),
      col("severityId").as("severity_id"),
      statusName.as("status"),
      statusId.cast("int").as("status_id"),
      concat(col("className"), lit(": "), actName).as("type_name"),
      (col("classUid") * 100 + actId).cast("int").as("type_uid"),
      epochToTimestamp(col("utc_ts")).as("time"),
      col("ext_type").as("message"),
      observables.as("observables"),
      struct(
        col("trace_id").as("uid"),
        col("event_name").as("log_name"),
        lit("Falcon Data Replicator").as("log_provider"),
        lit("1.2.0").as("version"),
        array().cast("array<string>").as("profiles"),
        productStruct.as("product")).as("metadata"),
      struct(
        httpMethod.as("http_method"),
        col("user_agent").as("user_agent"),
        col("req_len").as("length"),
        col("trace_id").as("uid"),
        array(
          struct(lit("Accept").as("name"), col("accept_hdr").as("value")),
          struct(lit("Content-Type").as("name"), col("content_type").as("value")),
          struct(lit("User-Agent").as("name"), col("user_agent").as("value"))
        ).as("http_headers"),
        struct(col("req_path").as("path")).as("url")).as("http_request"),
      struct(
        lit(0).as("boundary_id"), lit("Unknown").as("boundary"),
        col("trace_id").as("uid"),
        lit(2).as("direction_id"), lit("Outbound").as("direction"),
        lit(0).as("protocol_ver_id"), lit("Unknown").as("protocol_ver"),
        lit("tcp").as("protocol_name"), lit(17).as("protocol_num"),
        struct(col("api_client_id").as("credential_uid")).as("session")).as("connection_info"),
      struct(
        col("user_ip").as("ip"),
        col("x_cid").as("uid"),
        struct(col("user_id").as("uid"), lit(0).as("type_id"),
               lit("Unknown").as("type"),
               struct(col("customer_id").as("uid"), lit(99).as("type_id"),
                      lit("Crowdstrike").as("type")).as("account")).as("owner"),
        agentList(col("x_aid"), lit(null).cast("string")).as("agent_list")).as("src_endpoint"))
  }

  // ------------------------------------------------------------------
  /** Route name → normalizer. */
  val byRoute: Map[String, DataFrame => DataFrame] = Map(
    "Device Config State"           -> deviceConfigState _,
    "Process Activity"              -> processActivity _,
    "Network Activity"              -> networkActivity _,
    "HTTP Activity"                 -> httpActivity _,
    "File System Activity"          -> fileSystemActivity _,
    "Module Activity"               -> moduleActivity _,
    "DNS Activity"                  -> dnsActivity _,
    "Authentication"                -> authentication _,
    "Application Lifecycle"         -> applicationLifecycle _,
    "Operating System Patch State"  -> osPatchState _,
    "File Hosting Activity"         -> fileHostingActivity _,
    "Detection Finding"             -> detectionFinding _,
    OcsfMappings.ExtApiRoute        -> externalApiEvent _)

  /** A10–A21 — classified FDR events (FdrSource.load output) → one
    * normalized OCSF DataFrame per sink route (13 routes). Each branch
    * filters + maps the same scan; Spark reuses the shared read. */
  def normalizeAll(df: DataFrame): Map[String, DataFrame] =
    byRoute.map { case (route, fn) => route -> fn(df.filter(col("route") === route)) }
}
