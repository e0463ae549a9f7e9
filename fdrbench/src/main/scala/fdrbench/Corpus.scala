package fdrbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import graft.ocsf.OcsfMappings

/** Seeded FDR corpus generator: gzipped JSON-lines objects as a Falcon
  * Data Replicator feed lands them, plus the counts the benchmark checks
  * the pipeline's outputs against. The program under test only ever
  * sees the `.gz` objects.
  *
  * What the seed varies:
  *  - the route mix: skewed toward process, network and DNS events, with
  *    per-seed jitter on every route's weight;
  *  - a share of unmapped event types, malformed (truncated) lines,
  *    lines with no event key, and blank lines;
  *  - how the events spread over the four eventDays (each day's share);
  *  - how the lines split across objects (object sizes are skewed).
  *
  * The total line count and object count are fixed by the caller, and
  * every run of 64 objects (one stream trigger) holds the same number of
  * lines, so every seed asks for the same amount of work.
  */
object Corpus {

  /** First eventDay of every corpus: 2023-11-14T00:00:00Z. */
  val Day0Ms = 1699920000000L
  val DayMs = 86400000L
  /** eventDays every corpus spans; the seed varies each day's share. */
  val Days = 4

  /** Route → (base weight, FDR event names that map to it). */
  private val routeMix: Seq[(String, Double, Seq[String])] = Seq(
    ("Process Activity", 0.22, Seq("ProcessRollup2", "SyntheticProcessRollup2")),
    ("Network Activity", 0.20, Seq("NetworkConnectIP4", "NetworkReceiveAcceptIP4")),
    ("DNS Activity", 0.16, Seq("DnsRequest", "SuspiciousDnsRequest")),
    ("Authentication", 0.06, Seq("UserLogon")),
    ("HTTP Activity", 0.05, Seq("HttpRequest")),
    ("extApi", 0.05, Seq("Event_ExternalApiEvent")),
    ("File System Activity", 0.05, Seq("NewScriptWritten")),
    ("Device Config State", 0.04, Seq("SensorHeartbeat")),
    ("Module Activity", 0.03, Seq("KextLoad")),
    ("Detection Finding", 0.03, Seq("ScriptControlDetectInfo")),
    ("File Hosting Activity", 0.03, Seq("LFODownloadConfirmation")),
    ("Application Lifecycle", 0.04, Seq("InstalledApplication")),
    ("Operating System Patch State", 0.04, Seq("InstalledUpdates")))

  /** FDR event types outside the 122 mapped ones. */
  private val unmappedNames = Seq("DcStatus", "ChannelVersionRequired",
    "UserAccountAddedToGroup", "FirewallSetRule", "RegSystemConfigValueUpdate")

  /** Generator output: every count the benchmark's checks need. `windowCounts` is keyed by
    * (route, window index) over [[windows]]. */
  final case class Expected(
      gzBytes: Long, lines: Long, blank: Long,
      routeRows: Map[String, Long], quarantined: Map[String, Long],
      days: Int, windowCounts: Map[(String, Int), Long]) {
    def mapped: Long = routeRows.values.sum
  }

  /** The time windows `lake_query` reads through the stats index: one
    * six-hour window per eventDay after the first. */
  def windows(days: Int): Seq[(Long, Long)] =
    (1 until days).map { d =>
      val s = Day0Ms + d * DayMs + 6 * 3600000L
      (s, s + 6 * 3600000L)
    }

  /** Landing time of the first object. */
  private val LandedAtMs = 1700000000000L

  /** Objects per stream trigger (EventStream's maxFilesPerTrigger). */
  val TriggerObjects = 64

  /** Writes `nObjects` objects holding `nLines` lines in total to `dir`. */
  def write(dir: Path, seed: Long, nLines: Int, nObjects: Int): Expected = {
    require(OcsfMappings.routes.toSet == routeMix.map(_._1).toSet,
      "corpus route mix must cover exactly the sink routes")
    require(unmappedNames.forall(n => !OcsfMappings.mappedEventNames(n)))
    val rnd = new SplittableRandom(seed)
    val dayWeights = Array.fill(Days)(0.6 + 0.8 * rnd.nextDouble())
    val dayCum = dayWeights.scanLeft(0.0)(_ + _).tail.map(_ / dayWeights.sum)
    val weights = routeMix.map(_._2 * (0.8 + 0.4 * rnd.nextDouble()))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val unmappedShare = 0.03 + 0.02 * rnd.nextDouble()
    val malformedShare = 0.01 + 0.01 * rnd.nextDouble()
    val keylessShare = 0.005
    val blankShare = 0.01
    // skewed object sizes, every object holding at least one line; each
    // run of TriggerObjects consecutive objects (one stream trigger's
    // worth) holds the same number of lines, in a different order
    val groups = (nObjects + TriggerObjects - 1) / TriggerObjects
    val raw = Array.fill(math.min(TriggerObjects, nObjects))(math.exp(rnd.nextGaussian() * 0.8))
    val perGroup = nLines / groups
    val groupSizes = {
      val s = raw.map(w => 1 + ((perGroup - raw.length) * w / raw.sum).toInt)
      s(0) += perGroup - s.sum
      s
    }
    val sizes = (0 until groups).flatMap { g =>
      val shuffled = groupSizes.clone()
      for (k <- shuffled.indices.reverse) {
        val j = rnd.nextInt(k + 1)
        val t = shuffled(k); shuffled(k) = shuffled(j); shuffled(j) = t
      }
      shuffled
    }.take(nObjects).toArray
    sizes(0) += nLines - sizes.sum
    val windowList = windows(Days)
    val routeRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val quarantined = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val windowCounts = mutable.Map.empty[(String, Int), Long].withDefaultValue(0L)
    var blank = 0L
    var i = 0L
    val objects = sizes.zipWithIndex.map { case (n, oi) =>
      val p = dir.resolve(f"fdr-$oi%05d.gz")
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(new FileOutputStream(p.toFile)), "UTF-8"), 1 << 16)
      var k = 0
      while (k < n) {
        val x0 = rnd.nextDouble()
        val day = dayCum.indexWhere(x0 < _) match { case -1 => Days - 1; case d => d }
        val ts = Day0Ms + day * DayMs + (rnd.nextDouble() * DayMs).toLong
        val u = rnd.nextDouble()
        val line =
          if (u < blankShare) { blank += 1; if (rnd.nextBoolean()) "" else "   " }
          else if (u < blankShare + keylessShare) {
            quarantined("missing_event_key") += 1
            s"""{"aid":"aid-$i","timestamp":"$ts","ConfigBuild":"1007.3"}"""
          } else if (u < blankShare + keylessShare + malformedShare) {
            quarantined("unparseable_json") += 1
            val full = eventLine("ProcessRollup2", i, ts, rnd)
            full.substring(0, 10 + rnd.nextInt(full.length - 20))
          } else if (u < blankShare + keylessShare + malformedShare + unmappedShare) {
            quarantined("unmapped_event") += 1
            val name = unmappedNames(rnd.nextInt(unmappedNames.size))
            s"""{"event_simpleName":"$name","aid":"aid-$i","cid":"cid-${i % 97}","id":"e-$i","timestamp":"$ts"}"""
          } else {
            val x = rnd.nextDouble()
            val r = cum.indexWhere(x < _) match { case -1 => cum.size - 1; case j => j }
            val (route, _, names) = routeMix(r)
            routeRows(route) += 1
            if (route != OcsfMappings.ExtApiRoute) {
              val wi = windowList.indexWhere { case (s, e) => ts >= s && ts < e }
              if (wi >= 0) windowCounts((route, wi)) += 1
            }
            eventLine(names(rnd.nextInt(names.size)), i, ts, rnd)
          }
        w.write(line); w.write("\n")
        i += 1; k += 1
      }
      w.close()
      // landing order = object order, one second apart: the streaming
      // file source takes objects oldest first
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(
        LandedAtMs + oi * 1000L))
      p
    }.toSeq
    Expected(objects.map(Files.size).sum, nLines.toLong, blank,
      routeRows.toMap, quarantined.toMap, Days, windowCounts.toMap)
  }

  /** One well-formed FDR line of event type `name` (field shapes follow
    * the Falcon schema each normalizer reads). */
  def eventLine(name: String, i: Long, ts: Long, rnd: SplittableRandom): String = {
    val aid = s"aid-${rnd.nextInt(400)}"
    val cid = s"cid-${rnd.nextInt(97)}"
    val head = s""""aid":"$aid","cid":"$cid","id":"e-$i","timestamp":"$ts""""
    def n(k: Int) = rnd.nextInt(k)
    name match {
      case "ProcessRollup2" | "SyntheticProcessRollup2" =>
        s"""{"event_simpleName":"$name","name":"${name}V19",$head,"aip":"10.0.${n(256)}.${n(256)}","event_platform":"Win","ImageFileName":"C:\\\\W\\\\cmd${n(900)}.exe","CommandLine":"cmd /c job $i","SHA256HashData":"${i}a","RawProcessId":"${1000 + n(50000)}","ParentBaseFileName":"${if (n(4) == 0) "services.exe" else "explorer.exe"}"}"""
      case "NetworkConnectIP4" | "NetworkReceiveAcceptIP4" =>
        s"""{"event_simpleName":"$name","name":"${name}V10",$head,"event_platform":"Lin","LocalPort":"${1024 + n(60000)}","RemotePort":"${Seq(443, 80, 22, 53, 8443)(n(5))}","RemoteAddressIP4":"93.184.${n(256)}.${n(256)}","LocalAddressIP4":"10.0.0.${n(256)}","ConnectionDirection":"${n(4)}"}"""
      case "DnsRequest" | "SuspiciousDnsRequest" =>
        s"""{"event_simpleName":"$name","name":"${name}V4",$head,"event_platform":"Mac","DomainName":"host${10 + n(4)}.example.com","ContextBaseFileName":"proc${n(11)}"}"""
      case "UserLogon" =>
        s"""{"event_simpleName":"UserLogon","name":"UserLogonV10",$head,"event_platform":"Win","UserName":"user${n(500)}","UserSid":"S-1-5-$i","LogonType":"${2 + n(11)}","UserIsAdmin":"${n(2)}"}"""
      case "HttpRequest" =>
        s"""{"event_simpleName":"HttpRequest","name":"HttpRequestV1",$head,"event_platform":"Lin","HttpMethod":"${1 + n(8)}","HttpHost":"api${n(31)}.example.com","HttpPath":"/v1/r/$i","HttpStatus":"${if (n(2) == 0) 404 else 200}"}"""
      case "NewScriptWritten" =>
        s"""{"event_simpleName":"NewScriptWritten","name":"NewScriptWrittenV1",$head,"event_platform":"Lin","TargetFileName":"/tmp/s$i.sh","TargetDirectoryName":"/tmp","UserName":"svc${n(17)}","ContentSHA256HashData":"${i}b"}"""
      case "KextLoad" =>
        s"""{"event_simpleName":"KextLoad","name":"KextLoadV1",$head,"event_platform":"Mac","BundleID":"com.example.k${n(29)}","ImageFileName":"/L/E/k$i.kext","SHA256HashData":"${i}c"}"""
      case "InstalledApplication" =>
        s"""{"event_simpleName":"InstalledApplication","name":"InstalledApplicationV1",$head,"event_platform":"Win","UpdateFlag":"${n(6)}","AppName":"App${n(200)}","AppVendor":"Vendor${n(40)}","AppVersion":"1.${n(30)}"}"""
      case "InstalledUpdates" =>
        s"""{"event_simpleName":"InstalledUpdates","name":"InstalledUpdatesV1",$head,"event_platform":"Win","Status":"${n(2)}","InstalledUpdateIds":"KB$i;KB${i + 1}"}"""
      case "LFODownloadConfirmation" =>
        s"""{"event_simpleName":"LFODownloadConfirmation","name":"LFODownloadConfirmationV1",$head,"event_platform":"Win","SourceFileName":"f$i.bin","SHA256HashData":"${i}d","DownloadServer":"lfo${n(7)}.example.com","DownloadPort":"443"}"""
      case "ScriptControlDetectInfo" =>
        s"""{"event_simpleName":"ScriptControlDetectInfo","name":"ScriptControlDetectInfoV1",$head,"event_platform":"Win","ImageFileName":"ps$i.exe","CommandLine":"ps -enc $i","ContentSHA256HashData":"${i}e","ContextProcessId":"$i","ParentImageFileName":"cmd.exe"}"""
      case "SensorHeartbeat" =>
        s"""{"event_simpleName":"SensorHeartbeat","name":"SensorHeartbeatV4",$head,"event_platform":"Win","ConfigBuild":"1007.${n(10)}"}"""
      case "Event_ExternalApiEvent" =>
        val method = Seq("GET", "POST", "DELETE")(n(3))
        val status = if (n(10) == 0) "403" else "200"
        s"""{"event_simpleName":"Event_ExternalApiEvent","ExternalApiType":"Event_AuthActivityAuditEvent","UTCTimestamp":"${ts / 1000}","UserIp":"9.9.${n(256)}.9","AgentIdString":"$aid","cid":"$cid","UserId":"u${n(300)}@example.com","CustomerIdString":"cust-${n(5)}","AuditKeyValues":[{"Key":"request_method","ValueString":"$method"},{"Key":"status_code","ValueString":"$status"},{"Key":"trace_id","ValueString":"t-$i"},{"Key":"request_path","ValueString":"/v1/${n(50)}"}]}"""
    }
  }
}
