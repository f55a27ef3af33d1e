package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** X.509 certificate ingestion, from scratch — crawled corpora carry
  * PEM material everywhere (CA bundles, `.well-known` artifacts, git
  * repos full of test fixtures), and a provenance pipeline inventories
  * certificates the way it inventories any other signed manifest: one
  * row per certificate with the fields trust analysis keys on
  * (subject/issuer RDNs, validity window, CA bit, SAN surface, key
  * size, the exact byte span of the signed TBSCertificate).
  *
  * Implemented per the published ASN.1 DER rules (X.690) and the
  * certificate profile (RFC 5280):
  *
  *  - DER only: definite lengths in MINIMAL form (a long-form length
  *    that fits short form is damage, as is `0x80` indefinite),
  *    INTEGER in minimal two's complement, BOOLEAN strictly
  *    `00`/`FF`;
  *  - Certificate ::= SEQUENCE { tbsCertificate, signatureAlgorithm,
  *    signatureValue BIT STRING } with the INNER tbs signature
  *    algorithm required to EQUAL the outer one (RFC 5280 §4.1.1.2,
  *    the classic algorithm-substitution check);
  *  - v3 version tag `[0] EXPLICIT INTEGER 2`, positive bounded
  *    serial, Name as RDNSequence (C PrintableString / O / CN, each
  *    exactly once), Validity as two 13-byte `YYMMDDHHMMSSZ`
  *    UTCTimes, RSA SubjectPublicKeyInfo (BIT STRING unused-bits 0,
  *    minimal modulus), extensions `[3]` with UNIQUE OIDs —
  *    basicConstraints / keyUsage / subjectAltName (dNSName arm)
  *    decoded;
  *  - PEM framing: `-----BEGIN/END CERTIFICATE-----` blocks, strict
  *    base64 body, 64-column lines except the last, nothing between
  *    blocks; every block must parse or the whole file quarantines.
  *
  * The reader records the raw [start, end) of the TBSCertificate TLV
  * while parsing — `tbs_len` is the span signatures are computed over,
  * graded in X509Spec against BOTH the writer and the JDK
  * `X509Certificate.getTBSCertificate` differential (binary DER
  * framing is pinned there rather than in the SQL oracle, the
  * deflate-ratio policy); the oracled projection carries the
  * relationally-replayable fields.
  *
  * Scale shape: map-only per PEM file, zero shuffles.
  */
object X509 {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"x509:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def isChain(id: Long): Boolean = id % 4 == 0
  private[ext] def nCerts(id: Long): Int = if (isChain(id)) 2 else 1
  private[ext] def caCn(id: Long): String = s"${words(nib(id, 1) % 8)} CA $id"
  private[ext] def caOrg(id: Long): String = s"${words(nib(id, 2) % 8)} Trust"
  private[ext] def leafCn(id: Long): String = s"host$id.example.org"
  private[ext] def leafOrg(id: Long): String = s"${words(nib(id, 3) % 8)} Ops"
  private[ext] def serialOf(id: Long, c: Int): Long = 100000L + id * 7 + c
  private[ext] def sanOf(id: Long): Seq[String] =
    if (id % 2 == 0) Seq(leafCn(id), s"www.${leafCn(id)}") else Seq(leafCn(id))
  private[ext] def notBeforeOf(id: Long): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(id % 365)
    d.format(java.time.format.DateTimeFormatter.ofPattern("yyMMdd")) + "000000Z"
  }
  private[ext] def notAfterOf(id: Long): String = {
    val d = java.time.LocalDate.of(2023, 1, 1).plusDays(id % 365 + 365)
    d.format(java.time.format.DateTimeFormatter.ofPattern("yyMMdd")) + "000000Z"
  }

  // ------------------------------------------------------- DER primitives

  private def derLen(n: Int): Array[Byte] =
    if (n < 0x80) Array(n.toByte)
    else if (n < 0x100) Array(0x81.toByte, n.toByte)
    else Array(0x82.toByte, (n >> 8).toByte, n.toByte)

  private def tlv(tag: Int, content: Array[Byte]): Array[Byte] =
    Array(tag.toByte) ++ derLen(content.length) ++ content

  /** Minimal two's-complement positive INTEGER. */
  private def derInt(v: Long): Array[Byte] = {
    require(v >= 0)
    var bytes = List.empty[Byte]
    var x = v
    do { bytes = (x & 0xff).toByte :: bytes; x >>>= 8 } while (x != 0)
    val b = if ((bytes.head & 0x80) != 0) (0: Byte) :: bytes else bytes
    tlv(0x02, b.toArray)
  }

  private def derOid(dotted: String): Array[Byte] = {
    val parts = dotted.split('.').map(_.toLong)
    val out = new java.io.ByteArrayOutputStream()
    out.write((parts(0) * 40 + parts(1)).toInt)
    parts.drop(2).foreach { v =>
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Int]
      var x = v
      do { chunks.prepend((x & 0x7f).toInt); x >>>= 7 } while (x != 0)
      chunks.zipWithIndex.foreach { case (c, i) =>
        out.write(if (i < chunks.length - 1) c | 0x80 else c)
      }
    }
    tlv(0x06, out.toByteArray)
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private val OidCn = "2.5.4.3"
  private val OidC = "2.5.4.6"
  private val OidO = "2.5.4.10"
  private val OidRsa = "1.2.840.113549.1.1.1"
  private val OidSha256Rsa = "1.2.840.113549.1.1.11"
  private val OidBasicConstraints = "2.5.29.19"
  private val OidKeyUsage = "2.5.29.15"
  private val OidSan = "2.5.29.17"

  private def rdn(oid: String, tag: Int, v: String): Array[Byte] =
    tlv(0x31, tlv(0x30, derOid(oid) ++ tlv(tag, utf8(v)))) // SET { SEQ { OID, str } }

  /** Name: C (PrintableString) + O + CN (UTF8String). */
  private def name(c: String, o: String, cn: String): Array[Byte] =
    tlv(0x30, rdn(OidC, 0x13, c) ++ rdn(OidO, 0x0c, o) ++ rdn(OidCn, 0x0c, cn))

  private val algSha256Rsa: Array[Byte] =
    tlv(0x30, derOid(OidSha256Rsa) ++ Array[Byte](0x05, 0x00))

  /** 2048-bit modulus from the md5 stream, top bit and low bit forced. */
  private def modulusOf(id: Long, c: Int): Array[Byte] = {
    val b = new Array[Byte](256)
    (0 until 16).foreach { i =>
      val hx = md5Hex(s"mod:$id:$c:$i")
      (0 until 16).foreach(j => b(16 * i + j) = Integer.parseInt(hx.substring(2 * j, 2 * j + 2), 16).toByte)
    }
    b(0) = (b(0) | 0x80).toByte
    b(255) = (b(255) | 0x01).toByte
    b
  }

  private def spki(id: Long, c: Int): Array[Byte] = {
    val mod = modulusOf(id, c)
    val rsaKey = tlv(0x30, tlv(0x02, (0: Byte) +: mod) ++ derInt(65537L))
    tlv(0x30,
      tlv(0x30, derOid(OidRsa) ++ Array[Byte](0x05, 0x00)) ++
        tlv(0x03, (0: Byte) +: rsaKey))
  }

  private def extension(oid: String, critical: Boolean, inner: Array[Byte]): Array[Byte] =
    tlv(0x30, derOid(oid) ++
      (if (critical) tlv(0x01, Array(0xff.toByte)) else Array.emptyByteArray) ++
      tlv(0x04, inner))

  private def extensionsOf(id: Long, isCa: Boolean): Array[Byte] = {
    val bc = extension(OidBasicConstraints, critical = true,
      tlv(0x30, if (isCa) tlv(0x01, Array(0xff.toByte)) else Array.emptyByteArray))
    val ku =
      if (isCa) extension(OidKeyUsage, critical = true, Array[Byte](0x03, 0x02, 0x01, 0x06))
      else extension(OidKeyUsage, critical = true, Array[Byte](0x03, 0x02, 0x05, 0xa0.toByte))
    val san =
      if (isCa) Array.emptyByteArray
      else extension(OidSan, critical = false,
        tlv(0x30, sanOf(id).map(d => tlv(0x82, utf8(d))).fold(Array.emptyByteArray)(_ ++ _)))
    tlv(0xa3, tlv(0x30, bc ++ ku ++ san))
  }

  private def utcTime(s: String): Array[Byte] = tlv(0x17, utf8(s))

  private[ext] def renderCertDer(id: Long, c: Int): Array[Byte] = {
    val isCa = isChain(id) && c == 0
    val issuer = name("US", caOrg(id), caCn(id))
    val subject =
      if (isCa) issuer
      else name("US", leafOrg(id), leafCn(id))
    val tbs = tlv(0x30,
      tlv(0xa0, derInt(2L)) ++ // [0] version v3
        derInt(serialOf(id, c)) ++
        algSha256Rsa ++
        issuer ++
        tlv(0x30, utcTime(notBeforeOf(id)) ++ utcTime(notAfterOf(id))) ++
        subject ++
        spki(id, c) ++
        extensionsOf(id, isCa))
    val sig = new Array[Byte](256)
    (0 until 16).foreach { i =>
      val hx = md5Hex(s"sig:$id:$c:$i")
      (0 until 16).foreach(j => sig(16 * i + j) = Integer.parseInt(hx.substring(2 * j, 2 * j + 2), 16).toByte)
    }
    tlv(0x30, tbs ++ algSha256Rsa ++ tlv(0x03, (0: Byte) +: sig))
  }

  private[ext] def renderPem(id: Long): Array[Byte] = {
    val sb = new StringBuilder
    (0 until nCerts(id)).foreach { c =>
      val b64 = java.util.Base64.getEncoder.encodeToString(renderCertDer(id, c))
      sb.append("-----BEGIN CERTIFICATE-----\n")
      b64.grouped(64).foreach(l => sb.append(l).append('\n'))
      sb.append("-----END CERTIFICATE-----\n")
    }
    utf8(sb.toString)
  }

  /** Fixture writer: one PEM file per document row (every 4th a 2-cert
    * chain).
    */
  def encodePem(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pem")(renderPem)

  // --------------------------------------------------------------- reader

  private final class MalformedX509
      extends RuntimeException("malformed x509", null, false, false)
  private def fail(): Nothing = throw new MalformedX509

  private val MaxLen = 1 << 26

  /** One TLV: (tag, content start, content end). Enforces minimal
    * definite lengths.
    */
  private def readTlv(b: Array[Byte], p: Int, limit: Int): (Int, Int, Int) = {
    if (p + 2 > limit) fail()
    val tag = b(p) & 0xff
    val l0 = b(p + 1) & 0xff
    if (l0 == 0x80) fail() // indefinite is BER, not DER
    val (len, cs) =
      if (l0 < 0x80) (l0, p + 2)
      else {
        val n = l0 & 0x7f
        if (n < 1 || n > 3 || p + 2 + n > limit) fail()
        var v = 0
        (0 until n).foreach(i => v = (v << 8) | (b(p + 2 + i) & 0xff))
        // minimal form: one length byte must be > 0x7f, two > 0xff...
        if (v < 0x80 || (n >= 2 && v < 0x100) || (n >= 3 && v < 0x10000)) fail()
        (v, p + 2 + n)
      }
    if (len > MaxLen || cs + len > limit) fail()
    (tag, cs, cs + len)
  }

  private def expect(b: Array[Byte], p: Int, limit: Int, tag: Int): (Int, Int) = {
    val (t, cs, ce) = readTlv(b, p, limit)
    if (t != tag) fail()
    (cs, ce)
  }

  private def readInt(b: Array[Byte], p: Int, limit: Int): (Long, Int) = {
    val (cs, ce) = expect(b, p, limit, 0x02)
    val n = ce - cs
    if (n < 1 || n > 8) fail()
    // minimal: no redundant leading 0x00 / 0xff
    if (n > 1 && (b(cs) == 0 && (b(cs + 1) & 0x80) == 0)) fail()
    if (n > 1 && (b(cs) == -1 && (b(cs + 1) & 0x80) != 0)) fail()
    var v = if ((b(cs) & 0x80) != 0) -1L else 0L
    (cs until ce).foreach(i => v = (v << 8) | (b(i) & 0xffL))
    (v, ce)
  }

  private def readOid(b: Array[Byte], p: Int, limit: Int): (String, Int) = {
    val (cs, ce) = expect(b, p, limit, 0x06)
    if (ce - cs < 1) fail()
    // X.690 §8.19: the FIRST subidentifier is itself base-128 encoded and
    // packs the first two arcs as 40*X+Y (X capped at 2) — a multi-byte
    // first subidentifier (joint-iso-itu-t arcs >= 2.48, e.g. 2.999) must
    // decode through the same varint walk, not from a single byte
    val sb = new StringBuilder
    var q = cs
    var acc = 0L
    var inArc = false
    var firstDone = false
    while (q < ce) {
      val x = b(q) & 0xff
      if (!inArc && x == 0x80) fail() // non-minimal arc
      acc = (acc << 7) | (x & 0x7f)
      if (acc > (1L << 56)) fail()
      if ((x & 0x80) == 0) {
        if (!firstDone) {
          val (arc1, arc2) =
            if (acc < 40) (0L, acc)
            else if (acc < 80) (1L, acc - 40)
            else (2L, acc - 80)
          sb.append(arc1).append('.').append(arc2)
          firstDone = true
        } else sb.append('.').append(acc)
        acc = 0
        inArc = false
      } else inArc = true
      q += 1
    }
    if (inArc || !firstDone) fail() // dangling continuation / empty
    (sb.toString, ce)
  }

  private def readBool(b: Array[Byte], p: Int, limit: Int): (Boolean, Int) = {
    val (cs, ce) = expect(b, p, limit, 0x01)
    if (ce - cs != 1) fail()
    (b(cs) & 0xff) match {
      case 0x00 => (false, ce)
      case 0xff => (true, ce)
      case _ => fail() // DER booleans are strictly 00/FF
    }
  }

  /** AlgorithmIdentifier { OID, NULL }. */
  private def readAlg(b: Array[Byte], p: Int, limit: Int): (String, Int) = {
    val (cs, ce) = expect(b, p, limit, 0x30)
    val (oid, q) = readOid(b, cs, ce)
    if (q + 2 != ce || b(q) != 0x05 || b(q + 1) != 0x00) fail()
    (oid, ce)
  }

  private def str(b: Array[Byte], cs: Int, ce: Int): String =
    new String(b, cs, ce - cs, java.nio.charset.StandardCharsets.UTF_8)

  /** Name → (C, O, CN); each attribute exactly once. */
  private def readName(b: Array[Byte], p: Int, limit: Int): ((String, String, String), Int) = {
    val (cs, ce) = expect(b, p, limit, 0x30)
    var q = cs
    var fields = Map.empty[String, String]
    while (q < ce) {
      val (scs, sce) = expect(b, q, ce, 0x31) // RDN SET
      val (acs, ace) = expect(b, scs, sce, 0x30)
      if (ace != sce) fail() // exactly one attribute per RDN
      val (oid, vq) = readOid(b, acs, ace)
      val (t, vcs, vce) = readTlv(b, vq, ace)
      if (vce != ace) fail()
      val v = t match {
        case 0x13 | 0x0c | 0x16 => str(b, vcs, vce)
        case _ => fail()
      }
      if (oid == OidC && (t != 0x13 || vce - vcs != 2)) fail() // C: PrintableString, 2 chars
      if (fields.contains(oid)) fail()
      fields += (oid -> v)
      q = sce
    }
    val out = (fields.getOrElse(OidC, fail()), fields.getOrElse(OidO, fail()),
      fields.getOrElse(OidCn, fail()))
    (out, ce)
  }

  private def readUtcTime(b: Array[Byte], p: Int, limit: Int): (String, Int) = {
    val (cs, ce) = expect(b, p, limit, 0x17)
    if (ce - cs != 13 || b(ce - 1) != 'Z') fail()
    (cs until ce - 1).foreach(i => if (b(i) < '0' || b(i) > '9') fail())
    (str(b, cs, ce), ce)
  }

  final case class X509Rec(
    doc_id: Long, cert_idx: Long, version: Long, serial: Long, sig_alg: String,
    issuer_c: String, issuer_org: String, issuer_cn: String,
    subject_c: String, subject_org: String, subject_cn: String,
    not_before: String, not_after: String, is_ca: Boolean, key_bits: Long,
    n_extensions: Long, n_san: Long, san_dns: String, tbs_len: Long)

  /** Parse one certificate at `p`; returns (record sans doc_id/idx, end). */
  private[ext] def parseCert(b: Array[Byte], p: Int, limit: Int): (X509Rec, Int) = {
    val (cs, ce) = expect(b, p, limit, 0x30) // Certificate
    // tbs span: the whole TLV, from its tag byte to its content end
    val tbsStart = cs
    val (tcs, tce) = expect(b, cs, ce, 0x30) // TBSCertificate
    var q = tcs
    // [0] EXPLICIT version
    val (vcs, vce) = expect(b, q, tce, 0xa0)
    val (version, vq) = readInt(b, vcs, vce)
    if (vq != vce || version != 2) fail() // v3 required (extensions present)
    q = vce
    val (serial, q1) = readInt(b, q, tce)
    if (serial < 0) fail()
    q = q1
    val (tbsAlg, q2) = readAlg(b, q, tce)
    q = q2
    val ((ic, io, icn), q3) = readName(b, q, tce)
    q = q3
    val (valCs, valCe) = expect(b, q, tce, 0x30)
    val (nb, qv1) = readUtcTime(b, valCs, valCe)
    val (na, qv2) = readUtcTime(b, qv1, valCe)
    if (qv2 != valCe) fail()
    q = valCe
    val ((sc, so, scn), q4) = readName(b, q, tce)
    q = q4
    // SubjectPublicKeyInfo
    val (kcs, kce) = expect(b, q, tce, 0x30)
    val (keyAlg, kq) = readAlg(b, kcs, kce)
    if (keyAlg != OidRsa) fail()
    val (bcs, bce) = expect(b, kq, kce, 0x03)
    if (bce != kce || bce - bcs < 2 || b(bcs) != 0) fail() // unused bits 0
    val (rcs, rce) = expect(b, bcs + 1, bce, 0x30)
    if (rce != bce) fail()
    val (mcs, mce) = expect(b, rcs, rce, 0x02) // modulus
    var mi = mcs
    while (mi < mce && b(mi) == 0) mi += 1
    if (mce == mi) fail()
    val keyBits = (mce - mi - 1) * 8 + (32 - Integer.numberOfLeadingZeros(b(mi) & 0xff))
    val (_, eEnd) = readInt(b, mce, rce) // exponent
    if (eEnd != rce) fail()
    q = kce
    // [3] extensions
    val (xcs, xce) = expect(b, q, tce, 0xa3)
    if (xce != tce) fail()
    val (lcs, lce) = expect(b, xcs, xce, 0x30)
    if (lce != xce) fail()
    var e = lcs
    var seen = Set.empty[String]
    var nExt = 0L
    var isCa = false
    var sans = Vector.empty[String]
    while (e < lce) {
      val (ecs, ece) = expect(b, e, lce, 0x30)
      val (oid, oq) = readOid(b, ecs, ece)
      if (seen.contains(oid)) fail() // RFC 5280: a cert MUST NOT repeat an extension
      seen += oid
      nExt += 1
      // optional critical BOOLEAN — X.690 §11.5: DER must OMIT a component
      // equal to its DEFAULT, so an explicit `critical FALSE` is damage
      val vq2 =
        if (oq < ece && (b(oq) & 0xff) == 0x01) {
          val (crit, x) = readBool(b, oq, ece)
          if (!crit) fail()
          x
        } else oq
      val (ocs, oce) = expect(b, vq2, ece, 0x04)
      if (oce != ece) fail()
      oid match {
        case OidBasicConstraints =>
          val (bccs, bcce) = expect(b, ocs, oce, 0x30)
          if (bcce != oce) fail()
          if (bccs < bcce) {
            val (ca, bq) = readBool(b, bccs, bcce)
            isCa = ca
            // optional pathLenConstraint
            if (bq < bcce) { val (_, pe) = readInt(b, bq, bcce); if (pe != bcce) fail() }
          }
        case OidSan =>
          val (sscs, ssce) = expect(b, ocs, oce, 0x30)
          if (ssce != oce) fail()
          var sq = sscs
          if (sq == ssce) fail() // empty SAN is damage
          while (sq < ssce) {
            val (t, dcs, dce) = readTlv(b, sq, ssce)
            if (t != 0x82) fail() // fixture surface: dNSName only
            sans :+= str(b, dcs, dce)
            sq = dce
          }
        case OidKeyUsage =>
          val (t, kucs, kuce) = readTlv(b, ocs, oce)
          if (t != 0x03 || kuce != oce || kuce - kucs < 2 || (b(kucs) & 0xff) > 7) fail()
        case _ => ()
      }
      e = ece
    }
    // outer: signatureAlgorithm must equal the tbs one
    val (outerAlg, sq) = readAlg(b, tce, ce)
    if (outerAlg != tbsAlg) fail()
    val (sigCs, sigCe) = expect(b, sq, ce, 0x03)
    if (sigCe != ce || sigCe - sigCs < 2 || b(sigCs) != 0) fail()
    val rec = X509Rec(0L, 0L, version, serial, tbsAlg, ic, io, icn, sc, so, scn,
      nb, na, isCa, keyBits.toLong, nExt, sans.length.toLong,
      sans.mkString(","), (tce - tbsStart).toLong)
    (rec, ce)
  }

  /** Strict PEM walk: BEGIN/END blocks, 64-col base64 lines, nothing
    * outside blocks.
    */
  private[ext] def parsePem(id: Long, bytes: Array[Byte]): Seq[X509Rec] = {
    if (bytes == null || bytes.length == 0 || bytes.length > MaxLen) fail()
    val text = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
    val lines = text.split("\n", -1)
    if (lines.last.nonEmpty) fail() // must end with a newline
    val body = lines.dropRight(1)
    var i = 0
    var certIdx = 0L
    val out = Vector.newBuilder[X509Rec]
    while (i < body.length) {
      if (body(i) != "-----BEGIN CERTIFICATE-----") fail()
      i += 1
      val b64 = new StringBuilder
      var lastLen = -1
      while (i < body.length && body(i) != "-----END CERTIFICATE-----") {
        val l = body(i)
        if (l.isEmpty || l.length > 64) fail()
        if (lastLen >= 0 && lastLen != 64) fail() // only the last line may be short
        lastLen = l.length
        b64.append(l)
        i += 1
      }
      if (i >= body.length) fail() // no END line
      i += 1
      val der =
        try java.util.Base64.getDecoder.decode(b64.toString)
        catch { case _: IllegalArgumentException => fail() }
      val (rec, end) = parseCert(der, 0, der.length)
      if (end != der.length) fail() // exact consumption per block
      out += rec.copy(doc_id = id, cert_idx = certIdx)
      certIdx += 1
    }
    val res = out.result()
    if (res.isEmpty) fail()
    res
  }

  private[ext] def parsePemSafe(id: Long, b: Array[Byte]): Seq[X509Rec] =
    try parsePem(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `x509_meta`: the certificate inventory. Map-only. `tbs_len` is
    * carried for library users; the registered QueryCatalog projection
    * drops it (binary DER framing is pinned by X509Spec's JDK
    * `getTBSCertificate` differential, not the SQL oracle).
    */
  def x509Meta(docs: DataFrame, idCol: String = "doc_id",
               binCol: String = "pem"): Dataset[X509Rec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parsePemSafe(id, b) }
  }
}
