package graft.ocsf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The FDR-event → OCSF base-event mapping dimension.
  *
  * Re-expresses the semantics of the reference's two mapping JSONs
  * (/root/reference/src/json/QFDR_OCSF_Mapping.json — 122 events;
  * /root/reference/src/json/mapped_qfdr_events_to_class.json — 12
  * classes) as in-code data. Classify looks each event up in one
  * literal map column ([[baseEventOf]]), the reference's per-row dict
  * lookup (qopcfdr_stream_loader.py:150-214) kept inside the plan; a
  * join against the [[dimension]] table would make Catalyst estimate
  * the classified batch as the product of both sides, and the fan-out
  * cache is sized from that estimate.
  *
  * Notes vs the reference data:
  *  - Event_ExternalApiEvent maps to HTTP Activity (4002) in the JSON
  *    but is routed to its own 13th sink ("extApi") by loader code
  *    (qopcfdr_stream_loader.py:154-158); `route` captures that.
  *  - Three entries (FileVaultStatus, FirewallEnabled, LoginItemAdded)
  *    lack CategoryId in the JSON (the reference normalizer would
  *    KeyError on them); OCSF category uid == classUid / 1000, so they
  *    get 5 (Discovery).
  *  - ActivityId 777 / "Override" and StatusId 777 / "Override" are the
  *    reference's sentinels meaning "computed by the normalizer at
  *    runtime" (HttpMethod / UpdateFlag / Status / HttpStatus driven).
  */
object OcsfMappings {

  final case class BaseEvent(
      eventName: String,
      categoryUid: Int, categoryName: String,
      classUid: Int, className: String,
      severityId: Int, severityName: String,
      activityId: Option[Int], activityName: String,
      statusId: Option[Int], statusName: String)

  val baseEvents: Seq[BaseEvent] = Seq(
    BaseEvent("ProcessRollup2", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(3), "Open", Some(1), "Success"),
    BaseEvent("EndOfProcess", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(2), "Terminate", Some(1), "Success"),
    BaseEvent("NetworkConnectIP4", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(1), "Open", Some(1), "Success"),
    BaseEvent("SensorTampering", 5, "Discovery", 5002, "Device Config State", 4, "High", Some(99), "SensorTampering", Some(0), "Unknown"),
    BaseEvent("SensorHeartbeat", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "SensorHeartbeat", Some(1), "Success"),
    BaseEvent("ProcessRollup2Stats", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(99), "ProcessRollup2Stats", Some(1), "Success"),
    BaseEvent("NetworkReceiveAcceptIP4", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(6), "Traffic", Some(1), "Success"),
    BaseEvent("HttpRequest", 4, "Network Activity", 4002, "HTTP Activity", 1, "Informational", Some(777), "Override", Some(0), "Unknown"),
    BaseEvent("NetworkLinkConfigGetLink", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "NetworkLinkConfigGetLink", Some(1), "Success"),
    BaseEvent("TerminateProcess", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(2), "Terminate", Some(1), "Success"),
    BaseEvent("DirectoryCreate", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("NetworkListenIP4", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(6), "Traffic", Some(1), "Success"),
    BaseEvent("NetworkLinkConfigGetAddress", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "NetworkLinkConfigGetAddress", Some(1), "Success"),
    BaseEvent("RawBindIP6", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(99), "RawBindIP6", Some(1), "Success"),
    BaseEvent("DnsRequest", 4, "Network Activity", 4003, "DNS Activity", 1, "Informational", Some(1), "Query", Some(1), "Success"),
    BaseEvent("NetworkConnectIP6", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(1), "Open", Some(1), "Success"),
    BaseEvent("RawBindIP4", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(6), "Traffic", Some(1), "Success"),
    BaseEvent("AgentConnect", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "AgentConnect", Some(1), "Success"),
    BaseEvent("ConfigStateUpdate", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "ConfigStateUpdate", Some(1), "Success"),
    BaseEvent("LocalIpAddressIP6", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(6), "Traffic", Some(1), "Success"),
    BaseEvent("LocalIpAddressRemovedIP6", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "LocalIpAddressRemovedIP6", Some(1), "Success"),
    BaseEvent("CurrentSystemTags", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "CurrentSystemTags", Some(1), "Success"),
    BaseEvent("ResourceUtilization", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "ResourceUtilization", Some(1), "Success"),
    BaseEvent("NeighborListIP4", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "NeighborListIP4", Some(1), "Success"),
    BaseEvent("CriticalFileAccessed", 1, "System Activity", 1001, "File System Activity", 5, "Critical", Some(2), "Read", Some(1), "Success"),
    BaseEvent("DeliverLocalFXToCloud", 6, "Application Activity", 6006, "File Hosting Activity", 1, "Informational", Some(1), "Upload", Some(1), "Success"),
    BaseEvent("SensorProcessResourceUtilization", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "SensorProcessResourceUtilization", Some(1), "Success"),
    BaseEvent("PngFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("CrxFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("JpegFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("FsVolumeUnmounted", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(13), "Unmount", Some(1), "Success"),
    BaseEvent("FsVolumeMounted", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(12), "Mount", Some(1), "Success"),
    BaseEvent("SyntheticProcessRollup2", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(3), "Open", Some(1), "Success"),
    BaseEvent("LocalIpAddressIP4", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(6), "Traffic", Some(1), "Success"),
    BaseEvent("TlsClientHello", 4, "Network Activity", 4002, "HTTP Activity", 1, "Informational", Some(99), "TlsClientHello", Some(1), "Success"),
    BaseEvent("GzipFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("NewScriptWritten", 1, "System Activity", 1001, "File System Activity", 2, "Low", Some(1), "Create", Some(1), "Success"),
    BaseEvent("NetworkReceiveAcceptIP6", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(1), "Open", Some(1), "Success"),
    BaseEvent("NetworkListenIP6", 4, "Network Activity", 4001, "Network Activity", 1, "Informational", Some(1), "Open", Some(1), "Success"),
    BaseEvent("PeFileWritten", 1, "System Activity", 1001, "File System Activity", 2, "Low", Some(1), "Create", Some(1), "Success"),
    BaseEvent("NeighborListIP6", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "NeighborListIP6", Some(1), "Success"),
    BaseEvent("ZeroTrustHostAssessment", 5, "Discovery", 5002, "Device Config State", 3, "Medium", Some(99), "ZeroTrustHostAssessment", Some(1), "Success"),
    BaseEvent("AsepFileChangeScanInfo", 1, "System Activity", 1001, "File System Activity", 2, "Low", Some(99), "AsepFileChangeScanInfo", Some(1), "Success"),
    BaseEvent("UserIdentity", 3, "Identity & Access Management", 3002, "Authentication", 1, "Informational", Some(99), "UserIdentity", Some(1), "Success"),
    BaseEvent("GroupIdentity", 3, "Identity & Access Management", 3002, "Authentication", 1, "Informational", Some(99), "GroupIdentity", Some(1), "Success"),
    BaseEvent("ExecutableDeleted", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(4), "Delete", Some(1), "Success"),
    BaseEvent("ProcessSelfDeleted", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(2), "Terminate", Some(1), "Success"),
    BaseEvent("MachOFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("LocalIpAddressRemovedIP4", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "LocalIpAddressRemovedIP4", Some(1), "Success"),
    BaseEvent("NewExecutableWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("PtyCreated", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(1), "Launch", Some(1), "Success"),
    BaseEvent("LFODownloadConfirmation", 6, "Application Activity", 6006, "File Hosting Activity", 1, "Informational", Some(2), "Download", Some(1), "Success"),
    BaseEvent("XarFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("SystemCapacity", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "SystemCapacity", Some(1), "Success"),
    BaseEvent("OsVersionInfo", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "OsVersionInfo", Some(1), "Success"),
    BaseEvent("IOServiceRegister", 1, "System Activity", 1005, "Module Activity", 1, "Informational", Some(1), "Load", Some(1), "Success"),
    BaseEvent("NewExecutableRenamed", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(5), "Rename", Some(1), "Success"),
    BaseEvent("Event_ExternalApiEvent", 4, "Network Activity", 4002, "HTTP Activity", 1, "Informational", None, null, None, null),
    BaseEvent("GifFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("SuspiciousDnsRequest", 4, "Network Activity", 4003, "DNS Activity", 4, "High", Some(1), "Query", Some(1), "Success"),
    BaseEvent("ELFFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("SpsTelemetryResponse", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "SpsTelemetryResponse", Some(1), "Success"),
    BaseEvent("AdditionalHostInfo", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "AdditionalHostInfo", Some(1), "Success"),
    BaseEvent("HostInfo", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "HostInfo", Some(1), "Success"),
    BaseEvent("DiskUtilization", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "DiskUtilization", Some(1), "Success"),
    BaseEvent("ScriptControlScanInfo", 1, "System Activity", 1001, "File System Activity", 2, "Low", Some(99), "ScriptControlScanInfo", Some(1), "Success"),
    BaseEvent("EmailFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("BZip2FileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("DmgFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("AssociateIndicator", 5, "Discovery", 5002, "Device Config State", 2, "Low", Some(99), "AssociateIndicator", Some(1), "Success"),
    BaseEvent("ZipFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("TarFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("UserLogon", 3, "Identity & Access Management", 3002, "Authentication", 1, "Informational", Some(1), "Logon", Some(1), "Success"),
    BaseEvent("CriticalEnvironmentVariableChanged", 5, "Discovery", 5002, "Device Config State", 5, "Critical", Some(99), "CriticalEnvironmentVariableChanged", Some(1), "Success"),
    BaseEvent("InstanceMetadata", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "InstanceMetadata", Some(1), "Success"),
    BaseEvent("OciContainerTelemetry", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "OciContainerTelemetry", Some(1), "Success"),
    BaseEvent("SystemMeasurementStats", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "SystemMeasurementStats", Some(1), "Success"),
    BaseEvent("DiskCapacity", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "DiskCapacity", Some(1), "Success"),
    BaseEvent("TemplateDetectAnalysis", 1, "System Activity", 1007, "Process Activity", 3, "Medium", Some(4), "Inject", Some(1), "Success"),
    BaseEvent("UserLogoff", 3, "Identity & Access Management", 3002, "Authentication", 1, "Informational", Some(2), "Logoff", Some(1), "Success"),
    BaseEvent("RtfFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("DmpFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("UserLogonFailed2", 3, "Identity & Access Management", 3002, "Authentication", 2, "Low", Some(1), "Logon", Some(2), "Failed"),
    BaseEvent("PdfFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("CreateProcessArgs", 1, "System Activity", 1007, "Process Activity", 1, "Informational", Some(3), "Open", Some(1), "Success"),
    BaseEvent("TiffFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("OoxmlFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("SevenZipFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("BmpFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("ScriptControlDetectInfo", 2, "Findings", 2004, "Detection Finding", 3, "Medium", Some(1), "Create", Some(1), "New"),
    BaseEvent("BillingInfo", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "BillingInfo", Some(1), "Success"),
    BaseEvent("JarFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("LfoUploadDataComplete", 6, "Application Activity", 6006, "File Hosting Activity", 1, "Informational", Some(1), "Upload", Some(1), "Success"),
    BaseEvent("LfoUploadStart", 6, "Application Activity", 6006, "File Hosting Activity", 1, "Informational", Some(1), "Upload", Some(99), "LfoUploadStart"),
    BaseEvent("MSXlsxFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("OleFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("HostnameChanged", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "HostnameChanged", Some(1), "Success"),
    BaseEvent("ErrorEvent", 5, "Discovery", 5002, "Device Config State", 2, "Low", Some(99), "ErrorEvent", Some(2), "Failed"),
    BaseEvent("SensorMetadataUpdate", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "SensorMetadataUpdate", Some(1), "Success"),
    BaseEvent("AgentOnline", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "AgentOnline", Some(1), "Success"),
    BaseEvent("CreateSocket", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "CreateSocket", Some(1), "Success"),
    BaseEvent("PacketFilterAttached", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "PacketFilterAttached", Some(1), "Success"),
    BaseEvent("ImageHash", 1, "System Activity", 1005, "Module Activity", 1, "Informational", Some(99), "ImageHash", Some(1), "Success"),
    BaseEvent("FileOpenInfo", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(14), "Open", Some(1), "Success"),
    BaseEvent("AssociateTreeIdWithRoot", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "AssociateTreeIdWithRoot", Some(1), "Success"),
    BaseEvent("FileDeleteInfo", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(4), "Delete", Some(1), "Success"),
    BaseEvent("FileRenameInfo", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(5), "Rename", Some(1), "Success"),
    BaseEvent("FileVaultStatus", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "FileVaultStatus", Some(1), "Success"),
    BaseEvent("FirewallEnabled", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "FirewallEnabled", Some(1), "Success"),
    BaseEvent("CriticalFileModified", 1, "System Activity", 1001, "File System Activity", 5, "Critical", Some(3), "Update", Some(1), "Success"),
    BaseEvent("LoginItemAdded", 5, "Discovery", 5002, "Device Config State", 1, "Informational", Some(99), "LoginItemAdded", Some(1), "Success"),
    BaseEvent("RpmFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("MSDocxFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("MSPptxFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("LfoUploadDataUnneeded", 6, "Application Activity", 6006, "File Hosting Activity", 1, "Informational", Some(1), "Upload", Some(99), "LfoUploadDataUnneeded"),
    BaseEvent("KextLoad", 1, "System Activity", 1005, "Module Activity", 2, "Low", Some(1), "Load", Some(1), "Success"),
    BaseEvent("KextUnload", 1, "System Activity", 1005, "Module Activity", 2, "Low", Some(2), "Unload", Some(1), "Success"),
    BaseEvent("LfoUploadDataFailed", 6, "Application Activity", 6006, "File Hosting Activity", 2, "Low", Some(1), "Upload", Some(2), "Failed"),
    BaseEvent("DebFileWritten", 1, "System Activity", 1001, "File System Activity", 1, "Informational", Some(1), "Create", Some(1), "Success"),
    BaseEvent("InstalledUpdates", 5, "Discovery", 5004, "Operating System Patch State", 1, "Informational", Some(777), "Override", Some(777), "Override"),
    BaseEvent("InstalledApplication", 6, "Application Activity", 6002, "Application Lifecycle", 1, "Informational", Some(777), "Override", Some(777), "Override"),
    BaseEvent("HttpResponse", 4, "Network Activity", 4002, "HTTP Activity", 1, "Informational", Some(0), "Unknown", Some(777), "Override"),
  )

  /** The 13th route: Event_ExternalApiEvent goes to its own sink. */
  val ExtApiRoute = "extApi"

  def routeFor(eventName: String, className: String): String =
    if (eventName == "Event_ExternalApiEvent") ExtApiRoute else className

  /** All 13 sink routes (12 OCSF classes + extApi). */
  val routes: Seq[String] =
    baseEvents.map(e => routeFor(e.eventName, e.className)).distinct

  val mappedEventNames: Set[String] = baseEvents.map(_.eventName).toSet

  /** [[routeFor]] as a column expression. */
  def routeOf(eventName: Column, className: Column): Column =
    when(eventName === "Event_ExternalApiEvent", lit(ExtApiRoute)).otherwise(className)

  /** The [[BaseEvent]] struct of an event name, null for an unmapped
    * one: a lookup into a 122-entry literal map. It is a projection,
    * so the plan's size estimate stays that of its input. */
  def baseEventOf(eventName: Column): Column =
    typedLit(baseEvents.map(e => e.eventName -> e).toMap).getItem(eventName)

  /** The mapping as a DataFrame, one row per event with its route:
    * the reference's mapping table, and the column contract of the
    * classified relation (minus `eventName`). */
  def dimension(spark: SparkSession): DataFrame = {
    import spark.implicits._
    baseEvents.toDF().withColumn("route", routeOf(col("eventName"), col("className")))
  }
}
