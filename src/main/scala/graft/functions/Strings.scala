package graft.functions

import java.io.ByteArrayInputStream
import java.net.URI
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Misc scalar-function layer (SURVEY.md §2.7 F1/F2/F13/F14).
  * Pure-Scala helpers; GraftFunctions registers gunzip, domain and
  * compression ratio as SQL UDFs (JVM logic with no Catalyst equivalent).
  */
object Strings {

  /** F2 — camelCase → snake_case (partition-dimension keys).
    * Reference: src/main/scala/com/mozilla/telemetry/Partitioning.scala:19-20. */
  def snakify(name: String): String =
    name.replaceAll("([A-Z]+)([A-Z][a-z])", "$1_$2")
      .replaceAll("([a-z\\d])([A-Z])", "$1_$2")
      .toLowerCase(java.util.Locale.ROOT)

  /** The irregular snake→camel mappings the reference hard-codes
    * (utils/package.scala:25-69): acronym-bearing telemetry field names
    * whose mechanical capitalization would mangle the acronym
    * (memory_mb → memoryMb instead of the schema's memoryMB). Shipped as
    * `camelize`'s override table so it matches the reference. */
  val CamelizeSpecialCases: Map[String, String] = Map(
    "submission_url" -> "submissionURL",
    "memory_mb" -> "memoryMB",
    "windows_ubr" -> "windowsUBR",
    "virtual_max_mb" -> "virtualMaxMB",
    "l2cache_kb" -> "l2cacheKB",
    "l3cache_kb" -> "l3cacheKB",
    "speed_mhz" -> "speedMHz",
    "d2d_enabled" -> "D2DEnabled",
    "d_write_enabled" -> "DWriteEnabled",
    "vendor_id" -> "vendorID",
    "device_id" -> "deviceID",
    "subsys_id" -> "subsysID",
    "ram" -> "RAM",
    "gpu_active" -> "GPUActive",
    "first_load_uri" -> "firstLoadURI",
    "" -> "")

  /** F1 — snake_case → camelCase, with the reference's hard-coded special
    * cases for irregular mappings (utils/package.scala:25-69). */
  def camelize(name: String): String =
    CamelizeSpecialCases.getOrElse(name, {
      val parts = name.split("_").toSeq
      (parts.head +: parts.tail.map(_.capitalize)).mkString
    })

  /** F13 — gunzip bytes to a UTF-8 string (the SQL registration in
    * GraftFunctions).
    * Reference: utils/DatasetShim.scala:48,58. */
  def gunzipBytes(bytes: Array[Byte]): String =
    if (bytes == null) null
    else {
      val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }

  /** Deflate compression ratio (compressed bytes / raw UTF-8 bytes) — the
    * Gopher/RefinedWeb redundancy proxy: boilerplate and repetitive spam
    * compress far below the ~0.4–0.7 of natural prose, so a low ratio is
    * a cheap document-level repetition signal complementing
    * [[graft.text.TextOps.repetitionSignals]]' exact counters. UDF
    * because the JVM deflater is the only compressor available (no
    * Catalyst equivalent); scan-side, no shuffle. Fixed level 6 +
    * default strategy so the value is stable for a given zlib. Empty
    * text → null (no meaningful ratio). */
  def deflateRatio(s: String): java.lang.Double =
    if (s == null) null
    else {
      val raw = s.getBytes("UTF-8")
      if (raw.isEmpty) null
      else {
        val d = new java.util.zip.Deflater(6)
        d.setInput(raw); d.finish()
        // only the SIZE matters: stream through a scratch chunk (a sized
        // buffer underestimates zlib's worst-case incompressible overhead
        // and would spin on a full buffer)
        val chunk = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(chunk)
        d.end()
        n.toDouble / raw.length
      }
    }

  /** F14 — URL → registrable-ish domain: host's last two labels, with a
    * regex fallback for URIs `new URI` rejects.
    * Reference: views/pioneer/package.scala:19-31. */
  def domainOf(url: String): Option[String] = {
    if (url == null) return None
    val host = scala.util.Try(Option(new URI(url).getHost)).toOption.flatten
      .orElse("""^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/:?#]+)""".r
        .findFirstMatchIn(url).map(_.group(1)))
    host.map(_.split('.').takeRight(2).mkString("."))
  }
}
