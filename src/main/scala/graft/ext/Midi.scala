package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Standard MIDI File ingestion, from scratch — music corpora ship as
  * SMF, and the format's two signature hazards (variable-length
  * delta-time quantities and RUNNING STATUS, where consecutive events
  * omit a repeated status byte) break naive readers. Implemented per
  * the published SMF 1.0 specification:
  *
  *  - `MThd` header chunk, length EXACTLY 6: format (0/1 in scope),
  *    track count CROSS-CHECKED against the actual chunks, division
  *    (positive ticks-per-quarter only — SMPTE division out of scope);
  *  - `MTrk` chunks with declared lengths consumed exactly;
  *  - delta times as VLQs (MSB-first 7-bit groups, max 4 bytes,
  *    non-minimal `80 00`-style encodings damage);
  *  - channel events: note-off 0x8n / note-on 0x9n / controller 0xBn /
  *    program 0xCn (1 data byte, the variable-arity trap) — RUNNING
  *    STATUS honored, a data byte with NO prior status is damage, all
  *    data bytes < 0x80;
  *  - meta events 0xFF: tempo (0x51, length pinned 3), track name
  *    (0x03), end-of-track (0x2F, length 0) REQUIRED as each track's
  *    final event and forbidden earlier;
  *  - the file must end at the last declared track.
  *
  * Scale shape: map-only per file, zero shuffles.
  */
object Midi {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"midi:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def divisionOf(id: Long): Int = 96 * (1 + nib(id, 1) % 4)
  private[ext] def tempoOf(id: Long): Long = 400000L + nib(id, 2) * 10000
  private[ext] def trackNameOf(id: Long): String = s"${words(nib(id, 3) % 8)} take $id"
  private[ext] def nNotesOf(id: Long): Int = 3 + nib(id, 4) % 5
  private[ext] def keyOf(id: Long, n: Int): Int = 48 + ((id + n * 5) % 24).toInt
  private[ext] def velOf(id: Long, n: Int): Int = 64 + nib(id, 5 + n % 8) % 32
  private[ext] def deltaOf(id: Long, n: Int): Int =
    if (n == 0) 0 else 120 + nib(id, 6 + n % 8) * 16 // some exceed 0x7F → 2-byte VLQs

  private final class W {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v)
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def be32(v: Long): Unit = (3 to 0 by -1).foreach(i => out.write(((v >>> (8 * i)) & 0xff).toInt))
    def vlq(v: Int): Unit = {
      require(v >= 0)
      val groups = scala.collection.mutable.ArrayBuffer.empty[Int]
      var x = v
      do { groups.prepend(x & 0x7f); x >>>= 7 } while (x != 0)
      groups.zipWithIndex.foreach { case (g, i) =>
        out.write(if (i < groups.length - 1) g | 0x80 else g)
      }
    }
    def raw(b: Array[Byte]): Unit = out.write(b, 0, b.length)
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
    val w = new W
    w.raw(tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    w.be32(body.length.toLong)
    w.raw(body)
    w.out.toByteArray
  }

  private[ext] def renderMidi(id: Long): Array[Byte] = {
    val head = new W
    head.be16(1) // format 1
    head.be16(2) // two tracks
    head.be16(divisionOf(id))

    // track 0: tempo + name + EOT
    val t0 = new W
    t0.vlq(0); t0.u8(0xff); t0.u8(0x51); t0.vlq(3)
    val tempo = tempoOf(id)
    t0.u8(((tempo >> 16) & 0xff).toInt); t0.u8(((tempo >> 8) & 0xff).toInt); t0.u8((tempo & 0xff).toInt)
    val name = utf8(trackNameOf(id))
    t0.vlq(0); t0.u8(0xff); t0.u8(0x03); t0.vlq(name.length); t0.raw(name)
    t0.vlq(0); t0.u8(0xff); t0.u8(0x2f); t0.vlq(0)

    // track 1: program change, controller, then note-on/off pairs with
    // RUNNING STATUS on the repeated note-ons
    val t1 = new W
    t1.vlq(0); t1.u8(0xc0); t1.u8(nib(id, 13) % 128) // program, 1 data byte
    t1.vlq(0); t1.u8(0xb0); t1.u8(7); t1.u8(100) // volume controller
    val nn = nNotesOf(id)
    (0 until nn).foreach { n =>
      t1.vlq(deltaOf(id, n))
      if (n == 0) t1.u8(0x90) // status once; everything after runs on it
      t1.u8(keyOf(id, n)); t1.u8(velOf(id, n)) // note-on
      t1.vlq(60)
      if (n == nn - 1) { t1.u8(0x80); t1.u8(keyOf(id, n)); t1.u8(0x40) } // explicit off
      else { t1.u8(keyOf(id, n)); t1.u8(0) } // running-status vel-0 note-on = off
    }
    t1.vlq(0); t1.u8(0xff); t1.u8(0x2f); t1.vlq(0)

    chunk("MThd", head.out.toByteArray) ++
      chunk("MTrk", t0.out.toByteArray) ++
      chunk("MTrk", t1.out.toByteArray)
  }

  /** Fixture writer: one SMF per document row. */
  def encodeMidi(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "midi")(renderMidi)

  // --------------------------------------------------------------- reader

  private final class MalformedMidi
      extends RuntimeException("malformed midi", null, false, false)
  private def fail(): Nothing = throw new MalformedMidi

  private val MaxLen = 1 << 26

  final case class MidiRec(
    doc_id: Long, format: Long, n_tracks: Long, division: Long, tempo_us: Long,
    track_name: String, n_note_on: Long, n_note_off: Long, total_ticks: Long,
    notes_checksum: Long)

  private def be16At(b: Array[Byte], p: Int): Int = ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)
  private def be32At(b: Array[Byte], p: Int): Long =
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) | ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)

  private def readVlq(b: Array[Byte], p0: Int, limit: Int): (Int, Int) = {
    var p = p0
    var v = 0
    var n = 0
    while (true) {
      if (p >= limit || n >= 4) fail()
      val x = b(p) & 0xff
      if (n == 0 && x == 0x80) fail() // non-minimal leading group
      v = (v << 7) | (x & 0x7f)
      p += 1
      n += 1
      if ((x & 0x80) == 0) return (v, p)
    }
    fail()
  }

  private[ext] def parseMidi(id: Long, b: Array[Byte]): MidiRec = {
    if (b == null || b.length < 14 || b.length > MaxLen) fail()
    if (b(0) != 'M' || b(1) != 'T' || b(2) != 'h' || b(3) != 'd') fail()
    if (be32At(b, 4) != 6L) fail()
    val format = be16At(b, 8)
    if (format != 0 && format != 1) fail()
    val declaredTracks = be16At(b, 10)
    val division = be16At(b, 12)
    if ((division & 0x8000) != 0 || division == 0) fail() // SMPTE out of scope
    var p = 14
    var nTracks = 0
    var tempo = -1L
    var trackName = ""
    var nOn = 0L
    var nOff = 0L
    var totalTicks = 0L
    var cks = 0L
    while (p < b.length) {
      if (p + 8 > b.length) fail()
      if (b(p) != 'M' || b(p + 1) != 'T' || b(p + 2) != 'r' || b(p + 3) != 'k') fail()
      val len = be32At(b, p + 4)
      if (len < 4 || len > MaxLen || p + 8 + len > b.length) fail()
      val end = p + 8 + len.toInt
      var q = p + 8
      var running = -1
      var ended = false
      var trackTicks = 0L
      while (q < end) {
        if (ended) fail() // nothing after end-of-track
        val (delta, q1) = readVlq(b, q, end)
        trackTicks += delta
        q = q1
        if (q >= end) fail()
        val first = b(q) & 0xff
        if (first == 0xff) {
          // meta event
          if (q + 2 > end) fail()
          val typ = b(q + 1) & 0xff
          val (mlen, q2) = readVlq(b, q + 2, end)
          if (q2 + mlen > end) fail()
          typ match {
            case 0x51 =>
              if (mlen != 3) fail()
              tempo = ((b(q2) & 0xffL) << 16) | ((b(q2 + 1) & 0xffL) << 8) | (b(q2 + 2) & 0xffL)
            case 0x2f =>
              if (mlen != 0) fail()
              ended = true
            case 0x03 =>
              trackName = new String(b, q2, mlen, java.nio.charset.StandardCharsets.UTF_8)
            case _ => () // other metas skipped (opaque)
          }
          q = q2 + mlen
          running = -1 // meta events cancel running status
        } else {
          val status =
            if ((first & 0x80) != 0) { q += 1; running = first; first }
            else {
              if (running < 0) fail() // data byte with no prior status
              running
            }
          val kind = status & 0xf0
          val nData = kind match {
            case 0x80 | 0x90 | 0xb0 => 2
            case 0xc0 => 1
            case _ => fail() // out-of-scope statuses are damage
          }
          if (q + nData > end) fail()
          (0 until nData).foreach(i => if ((b(q + i) & 0x80) != 0) fail())
          kind match {
            case 0x90 =>
              val key = b(q) & 0xff
              val vel = b(q + 1) & 0xff
              if (vel == 0) nOff += 1 else nOn += 1
              cks = (((cks * 31 + delta) % 1000000007L) * 31 + key) % 1000000007L
              cks = (cks * 31 + vel) % 1000000007L
            case 0x80 =>
              nOff += 1
              val key = b(q) & 0xff
              cks = (((cks * 31 + delta) % 1000000007L) * 31 + key) % 1000000007L
              cks = (cks * 31 + (b(q + 1) & 0xff)) % 1000000007L
            case _ => ()
          }
          q += nData
        }
      }
      if (!ended || q != end) fail() // EOT required, length exact
      totalTicks = math.max(totalTicks, trackTicks)
      nTracks += 1
      p = end
    }
    if (nTracks != declaredTracks) fail()
    if (tempo < 0) fail() // the fixture contract carries a tempo
    MidiRec(id, format.toLong, nTracks.toLong, division.toLong, tempo,
      trackName, nOn, nOff, totalTicks, cks)
  }

  private[ext] def parseMidiSafe(id: Long, b: Array[Byte]): Seq[MidiRec] =
    try Seq(parseMidi(id, b))
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `midi_meta`: the per-file music inventory. Map-only. */
  def midiMeta(docs: DataFrame, idCol: String = "doc_id",
               binCol: String = "midi"): Dataset[MidiRec] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseMidiSafe(id, b) }
  }
}
