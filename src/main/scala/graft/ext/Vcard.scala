package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** vCard (.vcf, RFC 6350) ingestion — the contact-directory shelf, and
  * the STRUCTURED-VALUE hazard the calendar format does not have: the
  * `N` property is five components separated by UNESCAPED semicolons,
  * each component separately escaped, so the reader must split FIRST and
  * unescape SECOND — a fixture family name contains a literal `\;` to
  * punish the opposite order.
  *
  * Shares [[Ics]]'s RFC-5545-family wire machinery (the unfold rule,
  * §3.4-compatible text escapes, the quoted-parameter-aware value scan)
  * rather than reimplementing it — the two formats specify the same
  * content-line grammar on purpose.
  *
  * Per card: FN (formatted name), N's family/given components, EMAIL,
  * ORG (first component). A card missing FN or N, nesting damage, or an
  * illegal escape quarantines the whole document (a .vcf is one export:
  * mid-file damage means a broken export). Multiple cards per document
  * — the common multi-contact export — surface as one row each.
  *
  * Scale shape: map-only per document, zero shuffles. No reference
  * citation possible — the reference (`src/flinkarima.py:379-416`) has
  * no file surface; north-star scope beside [[Ics]].
  */
object Vcard {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private[ext] def nCards(id: Long): Int = {
    val m = md5Hex(s"vcf:$id")
    1 + Integer.parseInt(m.substring(0, 1), 16) % 3
  }

  private[ext] def familyOf(id: Long, c: Int): String = {
    val m = md5Hex(s"vcf:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val hazard = ((id + c) % 3) match {
      case 0 => "; jr" // literal semicolon INSIDE a component: split-then-unescape
      case 1 => " \u00e9"
      case _ => ""
    }
    words(nib(2 + c) % 8).capitalize + hazard
  }

  private[ext] def givenOf(id: Long, c: Int): String = {
    val m = md5Hex(s"vcf:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    words(nib(5 + c) % 8).capitalize
  }

  private[ext] def fnOf(id: Long, c: Int): String =
    givenOf(id, c) + " " + familyOf(id, c)

  private[ext] def emailOf(id: Long, c: Int): String =
    s"${givenOf(id, c).toLowerCase}.$c.$id@example.com"

  private[ext] def orgOf(id: Long, c: Int): String = {
    val m = md5Hex(s"vcf:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    "Org, " + words(nib(8 + c) % 8) // the comma escapes on the wire
  }


  private[ext] def renderVcf(id: Long): String = {
    val sb = new StringBuilder
    def line(s: String): Unit = sb.append(Ics.foldLine(s))
    for (c <- 0 until nCards(id)) {
      line("BEGIN:VCARD")
      line("VERSION:4.0")
      line("FN:" + Ics.escapeText(fnOf(id, c)))
      // N: Family;Given;Additional;Prefixes;Suffixes — components escaped
      line("N:" + Ics.escapeText(familyOf(id, c)) + ";" + Ics.escapeText(givenOf(id, c)) + ";;;")
      line("EMAIL;TYPE=\"work:main\":" + emailOf(id, c)) // quoted-param colon
      line("ORG:" + Ics.escapeText(orgOf(id, c)) + ";Unit " + c)
      line("END:VCARD")
    }
    sb.toString
  }

  /** Fixture writer: one .vcf (possibly multi-card) per document row. */
  def encodeVcf(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "vcf_text")(renderVcf)

  // --------------------------------------------------------------- parser

  private final class MalformedVcf
      extends RuntimeException("malformed vcf", null, false, false)
  private def fail(): Nothing = throw new MalformedVcf

  final case class VcardRow(
      doc_id: Long, card_idx: Long, fn: String, family: String, given: String,
      email: String, org: String)

  /** Split a structured value on UNESCAPED semicolons (backslash-pairs
    * skipped whole), then unescape each component — the mandated order.
    */
  private[ext] def splitComponents(v: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\') {
        if (i + 1 >= v.length) fail()
        cur.append(c).append(v.charAt(i + 1))
        i += 2
      } else if (c == ';') { parts += cur.toString; cur.clear(); i += 1 }
      else { cur.append(c); i += 1 }
    }
    parts += cur.toString
    parts.result()
  }

  private[ext] def parseVcf(id: Long, text: String): Seq[VcardRow] = {
    val lines = Ics.unfold(text)
    if (lines.isEmpty) fail()
    val out = Vector.newBuilder[VcardRow]
    var idx = 0L
    var inCard = false
    var fn: String = null
    var family: String = null
    var given: String = null
    var email: String = null
    var org: String = null
    lines.foreach { line =>
      if (line == "BEGIN:VCARD") {
        if (inCard) fail()
        inCard = true; fn = null; family = null; given = null; email = null; org = null
      } else if (line == "END:VCARD") {
        if (!inCard || fn == null || family == null || given == null) fail()
        out += VcardRow(id, idx, fn, family, given,
          Option(email).getOrElse(""), Option(org).getOrElse(""))
        idx += 1
        inCard = false
      } else if (inCard) {
        val (name, value) = Ics.splitLine(line)
        name match {
          case "FN" => fn = Ics.unescapeText(value)
          case "N" =>
            val comps = splitComponents(value)
            if (comps.length < 2) fail()
            family = Ics.unescapeText(comps(0))
            given = Ics.unescapeText(comps(1))
          case "EMAIL" => email = Ics.unescapeText(value)
          case "ORG" =>
            val comps = splitComponents(value)
            org = Ics.unescapeText(comps(0))
          case _ => // other properties skipped
        }
      } else fail() // content outside any card
    }
    if (inCard) fail()
    out.result()
  }

  private[ext] def parseVcfSafe(id: Long, text: String): Seq[VcardRow] =
    try parseVcf(id, Option(text).getOrElse(""))
    catch { case _: MalformedVcf | _: Ics.MalformedIcs => Seq.empty }

  /** `vcard_contacts`: every card of every .vcf export. Map-only. */
  def vcardContacts(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "vcf_text"): Dataset[VcardRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) => parseVcfSafe(id, text) }
  }
}
