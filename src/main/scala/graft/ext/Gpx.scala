package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** GPX track ingestion (the GPS-exchange XML schema) — the geo-trace
  * shelf: fitness exports, OpenStreetMap traces, geotagged-photo
  * sidecars. Location traces are ALSO PII, so the same pipeline that
  * scrubs EXIF GPS wants these surfaced as typed rows for policy
  * decisions rather than left opaque in blobs.
  *
  * Rides the shared XML walker. Structure: `gpx → trk → trkseg →
  * trkpt[@lat,@lon] → (ele, time)`. Coordinates are DECIMAL-string
  * attributes; they convert to EXACT integer micro-degrees with pure
  * string/integer math — sign, integer part, then 1-6 fraction digits
  * scaled by position (`10^(6-n)`), never a float parse, so a
  * coordinate like `-12.345678` round-trips bitwise and the oracle
  * replays it with string arithmetic. More than 6 fraction digits (out
  * of the micro-degree profile), a missing attribute, or a non-numeric
  * character quarantines the whole document. `time` is the ISO-8601
  * extended UTC form (`YYYY-MM-DDTHH:MM:SSZ`) converted to epoch
  * seconds in integer math ([[Ics]] handles the calendar family's
  * BASIC form; both readers share the toEpochDay conversion idea).
  *
  * Output: one row per trackpoint with its segment/point indices —
  * segment boundaries matter (a pause splits segments, and distance/
  * speed features must not bridge them).
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Exif]] (the two
  * coordinate carriers now both surface micro/centi-unit integers).
  */
object Gpx {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  private[ext] def nSegs(id: Long): Int = {
    val m = md5Hex(s"gpx:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 2
  }

  private[ext] def nPts(id: Long, seg: Int): Int = {
    val m = md5Hex(s"gpx:$id")
    2 + Integer.parseInt(m.substring(1 + seg, 2 + seg), 16) % 3
  }

  /** Exact micro-degree model; signs cycle so negative parses grade. */
  private[ext] def latMicro(id: Long, seg: Int, p: Int): Long = {
    val m = md5Hex(s"gpx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val sign = if (nib(4) % 2 == 0) 1L else -1L
    val deg = nib(5 + seg) * 5L
    val frac = (nib(7 + p) * 61L + nib(10 + p)) * 37L % 1000000L
    sign * (deg * 1000000L + frac)
  }

  private[ext] def lonMicro(id: Long, seg: Int, p: Int): Long = {
    val m = md5Hex(s"gpx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val sign = if (nib(14) % 2 == 0) 1L else -1L
    val deg = nib(15 + seg) * 11L
    val frac = (nib(17 + p) * 53L + nib(20 + p)) * 41L % 1000000L
    sign * (deg * 1000000L + frac)
  }

  private[ext] def eleM(id: Long, seg: Int, p: Int): Long = {
    val m = md5Hex(s"gpx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    nib(23 + (seg + p) % 9) * 37L - 100L // negative elevations are legal
  }

  private[ext] def timeEpoch(id: Long, seg: Int, p: Int): Long = {
    val m = md5Hex(s"gpx:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val base = java.time.LocalDate.of(2015 + nib(3), 1 + nib(6) % 12, 1 + nib(9) % 28)
      .toEpochDay * 86400L
    base + (seg * 3600L) + p * 60L + nib(12) % 60
  }

  private def microToStr(v: Long): String = {
    val sign = if (v < 0) "-" else ""
    val a = math.abs(v)
    f"$sign${a / 1000000L}%d.${a % 1000000L}%06d"
  }

  private def epochToIso(epoch: Long): String = {
    val days = Math.floorDiv(epoch, 86400L)
    val rem = Math.floorMod(epoch, 86400L)
    val d = java.time.LocalDate.ofEpochDay(days)
    f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02dT" +
      f"${rem / 3600}%02d:${rem % 3600 / 60}%02d:${rem % 60}%02dZ"
  }

  private[ext] def renderGpx(id: Long): String = {
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8"?>""").append('\n')
    sb.append("""<gpx version="1.1" creator="graft" xmlns="http://www.topografix.com/GPX/1/1">""")
      .append('\n')
    sb.append(s"  <trk>\n    <name>track $id</name>\n")
    for (seg <- 0 until nSegs(id)) {
      sb.append("    <trkseg>\n")
      for (p <- 0 until nPts(id, seg)) {
        sb.append(s"""      <trkpt lat="${microToStr(latMicro(id, seg, p))}"""")
        sb.append(s""" lon="${microToStr(lonMicro(id, seg, p))}">\n""")
        sb.append(s"        <ele>${eleM(id, seg, p)}</ele>\n")
        sb.append(s"        <time>${epochToIso(timeEpoch(id, seg, p))}</time>\n")
        sb.append("      </trkpt>\n")
      }
      sb.append("    </trkseg>\n")
    }
    sb.append("  </trk>\n</gpx>\n")
    sb.toString
  }

  /** Fixture writer: one GPX track per document row. */
  def encodeGpx(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "gpx_text")(renderGpx)

  // --------------------------------------------------------------- parser

  private final class MalformedGpx
      extends RuntimeException("malformed gpx", null, false, false)
  private def fail(): Nothing = throw new MalformedGpx

  final case class GpxPoint(
      doc_id: Long, seg_idx: Long, pt_idx: Long, lat_micro: Long,
      lon_micro: Long, ele_m: Long, t_epoch: Long)

  /** A decimal-degree string → exact micro-degrees: sign, integer part,
    * then 1-6 fraction digits scaled by position. Never a float parse.
    */
  private[ext] def parseMicro(v: String, maxDeg: Long): Long = {
    if (v.isEmpty) fail()
    var i = 0
    var sign = 1L
    if (v.charAt(0) == '-') { sign = -1L; i = 1 }
    else if (v.charAt(0) == '+') i = 1
    var intPart = 0L
    var intDigits = 0
    while (i < v.length && v.charAt(i) >= '0' && v.charAt(i) <= '9') {
      intPart = intPart * 10 + (v.charAt(i) - '0')
      intDigits += 1
      if (intDigits > 3) fail()
      i += 1
    }
    if (intDigits == 0) fail()
    var frac = 0L
    var fracDigits = 0
    if (i < v.length && v.charAt(i) == '.') {
      i += 1
      while (i < v.length && v.charAt(i) >= '0' && v.charAt(i) <= '9') {
        frac = frac * 10 + (v.charAt(i) - '0')
        fracDigits += 1
        if (fracDigits > 6) fail() // sub-micro precision: out of profile
        i += 1
      }
      if (fracDigits == 0) fail()
    }
    if (i != v.length) fail()
    var scale = 6 - fracDigits
    while (scale > 0) { frac *= 10; scale -= 1 }
    val micro = intPart * 1000000L + frac
    if (micro > maxDeg * 1000000L) fail() // physically impossible coordinate
    sign * micro
  }

  /** ISO-8601 extended UTC (`YYYY-MM-DDTHH:MM:SSZ`) → epoch seconds. */
  private[ext] def parseIsoUtc(v: String): Long = {
    if (v.length != 20 || v.charAt(4) != '-' || v.charAt(7) != '-' ||
      v.charAt(10) != 'T' || v.charAt(13) != ':' || v.charAt(16) != ':' ||
      v.charAt(19) != 'Z') fail()
    def num(from: Int, until: Int): Int = {
      var acc = 0
      var i = from
      while (i < until) {
        val c = v.charAt(i)
        if (c < '0' || c > '9') fail()
        acc = acc * 10 + (c - '0')
        i += 1
      }
      acc
    }
    val y = num(0, 4); val mo = num(5, 7); val d = num(8, 10)
    val h = num(11, 13); val mi = num(14, 16); val s = num(17, 19)
    if (mo < 1 || mo > 12 || d < 1 || d > 31 || h > 23 || mi > 59 || s > 59) fail()
    val days =
      try java.time.LocalDate.of(y, mo, d).toEpochDay
      catch { case _: java.time.DateTimeException => fail() }
    days * 86400L + h * 3600L + mi * 60L + s
  }

  private[ext] def parseGpx(id: Long, xml: String): Seq[GpxPoint] = {
    val leaves =
      try Sitemaps.parseLeaves(Option(xml).getOrElse(""), withAttrs = true, withMarkers = true)
      catch { case scala.util.control.NonFatal(_) => fail() }
    if (!leaves.headOption.map(_._1).exists(_.startsWith("gpx@"))) fail()
    val out = Vector.newBuilder[GpxPoint]
    var seg = -1L
    var pt = -1L
    var lat = Long.MinValue
    var lon = Long.MinValue
    var haveLat = false
    var haveLon = false
    var ele = 0L
    var haveEle = false
    var epoch = 0L
    var haveTime = false
    def closePoint(): Unit = if (pt >= 0) {
      if (!haveLat || !haveLon || !haveEle || !haveTime) fail()
      out += GpxPoint(id, seg, pt, lat, lon, ele, epoch)
    }
    val base = "gpx/trk/trkseg"
    val segMarker = base + "@<"
    val ptMarker = base + "/trkpt@<"
    val latAttr = base + "/trkpt@lat"
    val lonAttr = base + "/trkpt@lon"
    val eleLeaf = base + "/trkpt/ele"
    val timeLeaf = base + "/trkpt/time"
    leaves.foreach { case (path, v) =>
      path match {
        case `segMarker` =>
          closePoint(); pt = -1L
          seg += 1
          if (seg > (1 << 16)) fail()
        case `ptMarker` =>
          if (seg < 0) fail()
          closePoint()
          pt += 1
          haveLat = false; haveLon = false; haveEle = false; haveTime = false
        case `latAttr` =>
          if (pt < 0) fail(); lat = parseMicro(v, maxDeg = 90L); haveLat = true
        case `lonAttr` =>
          if (pt < 0) fail(); lon = parseMicro(v, maxDeg = 180L); haveLon = true
        case `eleLeaf` =>
          if (pt < 0) fail()
          if (v.isEmpty || !v.forall(c => (c >= '0' && c <= '9') || c == '-') ||
            v.lastIndexOf('-') > 0 || v.length > 8 ||
            !v.exists(c => c >= '0' && c <= '9')) fail()
          ele = v.toLong; haveEle = true
        case `timeLeaf` =>
          if (pt < 0) fail(); epoch = parseIsoUtc(v); haveTime = true
        case _ => // name, metadata, other leaves: ignore
      }
    }
    closePoint()
    if (seg < 0) fail() // no segments at all: not a track
    out.result()
  }

  private[ext] def parseGpxSafe(id: Long, xml: String): Seq[GpxPoint] =
    try parseGpx(id, xml)
    catch { case _: MalformedGpx => Seq.empty }

  /** `gpx_points`: every trackpoint of every trace. Map-only. */
  def gpxPoints(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "gpx_text"): Dataset[GpxPoint] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, xml) => parseGpxSafe(id, xml) }
  }
}
