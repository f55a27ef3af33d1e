package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== Avro Object Container Files, both directions ========
  *
  * The data-lake interchange format: corpus drops from upstream teams
  * arrive as `.avro` container files, and reading them needs the whole
  * stack — the binary encoding (zigzag varints, length-prefixed
  * strings/bytes), the map-encoded file metadata, the block structure
  * with per-block sync markers, and the codec layer. All from scratch
  * here, composing the repo's own DEFLATE for the `deflate` codec
  * (Avro blocks carry RAW RFC 1951 streams, no zlib wrapper):
  *
  *   header  = `Obj\x01` + metadata map + 16-byte sync marker
  *   block   = count (zigzag varint) + byte size (zigzag varint)
  *           + [codec-compressed] records + the SAME 16-byte sync
  *
  * The metadata map uses Avro's block encoding: a signed count per
  * map block (negative count = abs count with a byte-size following —
  * the skip-optimization arm real writers emit), key-value pairs,
  * zero terminator. The reader verifies the magic, honors
  * `avro.codec` (absent = null), checks EVERY block's sync marker
  * against the header's, bounds block sizes before allocation, and
  * requires each block's decoded bytes to be consumed EXACTLY by its
  * declared record count — any slack or overrun is malformed, and
  * damage quarantines the archive whole. Records here are the fixture
  * schema `{doc_id: long, text: string}`.
  *
  * Differential: the spec round-trips BOTH directions against the
  * real Avro library (on /opt/spark/jars, test-only) — our files read
  * there, its files (random sync markers, interleaved metadata, both
  * codecs) read here, bit-exact.
  *
  * Scale shape: map-only demux per container; one bounded fixture
  * groupBy. No reference citation — the reference has no ingest path;
  * north-star scope.
  */
object Avro {

  private val SchemaJson =
    """{"type":"record","name":"Doc","fields":[{"name":"doc_id","type":"long"},{"name":"text","type":"string"}]}"""

  private def md5(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  // ------------------------------------------------------- binary encoding

  private[ext] def writeVarLong(out: java.io.ByteArrayOutputStream, v: Long): Unit =
    Bits.writeUvarint(out, Bits.zigzag(v))

  private def writeString(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    writeVarLong(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  // ------------------------------------------------------------- writer

  /** Documents grouped into 16 `.avro` containers (id % 16, records in
    * id order), codec cycling null/deflate by archive, blocks of up to
    * 8 records so every container has several sync-checked blocks.
    */
  def encodeAvroArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0 && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .groupByKey(_._1 % nArchives)
      .mapGroups { (aid, it) =>
        val recs = it.toArray.sortBy(_._1)
        val deflate = aid % 2 == 1
        val sync = md5(s"avro:$aid")
        val out = new java.io.ByteArrayOutputStream()
        out.write('O'); out.write('b'); out.write('j'); out.write(1)
        writeVarLong(out, 2L) // metadata map: one block of two entries
        writeString(out, "avro.schema"); writeString(out, SchemaJson)
        writeString(out, "avro.codec"); writeString(out, if (deflate) "deflate" else "null")
        writeVarLong(out, 0L) // map end
        out.write(sync, 0, 16)
        recs.grouped(8).foreach { group =>
          val body = new java.io.ByteArrayOutputStream()
          group.foreach { case (id, text) =>
            writeVarLong(body, id)
            writeString(body, text)
          }
          val raw = body.toByteArray
          val data = if (deflate) Multimodal.deflateDynamic(raw) else raw
          writeVarLong(out, group.length.toLong)
          writeVarLong(out, data.length.toLong)
          out.write(data, 0, data.length)
          out.write(sync, 0, 16)
        }
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  // ------------------------------------------------------------- reader

  private final class MalformedAvro
      extends RuntimeException("malformed avro", null, false, false)
  private def fail(): Nothing = throw new MalformedAvro

  private final class Reader(b: Array[Byte]) extends Bits.Cursor(b, 0, b.length) {
    def fail(): Nothing = Avro.fail()
    def varLong(): Long = Bits.unzigzag(uvarint(10))
    def bytes(len: Int): Array[Byte] = {
      if (len < 0 || pos + len > b.length) fail()
      val out = java.util.Arrays.copyOfRange(b, pos, pos + len)
      pos += len
      out
    }
    def string(maxLen: Int): String = {
      val len = varLong()
      if (len < 0 || len > maxLen) fail()
      new String(bytes(len.toInt), java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  final case class AvroEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  /** The container walk shared by the fixture-schema demux and the
    * schema-driven generic decoder: header magic, the metadata map
    * (capturing `avro.codec` and `avro.schema`), the 16-byte sync, and
    * the block loop with per-block sync verification and codec
    * decompression. Returns (schema json, decompressed blocks with
    * their record counts).
    */
  private def parseContainer(payload: Array[Byte],
      maxBlockBytes: Int): (String, Vector[(Long, Array[Byte])]) = {
    val r = new Reader(payload)
    if (r.u8() != 'O' || r.u8() != 'b' || r.u8() != 'j' || r.u8() != 1) fail()
    // metadata map: signed block counts; negative = abs count + byte size
    var codec = "null"
    var schema = ""
    var count = r.varLong()
    while (count != 0L) {
      val n = if (count < 0) { r.varLong(); -count } else count
      var i = 0L
      while (i < n) {
        val key = r.string(1 << 16)
        val vLen = r.varLong()
        if (vLen < 0 || vLen > (1 << 24)) fail()
        val value = r.bytes(vLen.toInt)
        if (key == "avro.codec")
          codec = new String(value, java.nio.charset.StandardCharsets.UTF_8)
        if (key == "avro.schema")
          schema = new String(value, java.nio.charset.StandardCharsets.UTF_8)
        i += 1
      }
      count = r.varLong()
    }
    if (codec != "null" && codec != "deflate") fail() // unsupported codec
    val sync = r.bytes(16)
    val blocks = Vector.newBuilder[(Long, Array[Byte])]
    while (r.pos < payload.length) {
      val nRecs = r.varLong()
      val size = r.varLong()
      if (nRecs <= 0 || size <= 0 || size > maxBlockBytes) fail()
      val data = r.bytes(size.toInt)
      val blockSync = r.bytes(16)
      if (!java.util.Arrays.equals(blockSync, sync)) fail() // sync mismatch
      // sizeHint is REQUIRED here, not an optimization: without it the
      // inflate buffer is one expectedMax-sized (64 MB default) ZEROED
      // allocation per block — a G1-humongous allocation that, repeated
      // for every few-KB block across 32 concurrent tasks, produced the
      // recurrent multi-minute full-GC stalls in the r13/r15 driver bench
      // artifacts (jstack caught the suite inside this very call). The
      // hint starts at 4x the compressed size and the buffer doubles
      // geometrically up to maxBlockBytes, so correctness is unchanged.
      val raw =
        if (codec == "deflate")
          Multimodal.inflateWithEnd(data, 0, data.length, maxBlockBytes,
            sizeHint = math.min(maxBlockBytes, 4 * data.length + 1024))._1
        else data
      blocks += ((nRecs, raw))
    }
    (schema, blocks.result())
  }

  private[ext] def demux(aid: Long, payload: Array[Byte], maxBlockBytes: Int): Vector[AvroEntry] = {
    val (_, blocks) = parseContainer(payload, maxBlockBytes)
    val entries = Vector.newBuilder[AvroEntry]
    var recIdx = 0L
    blocks.foreach { case (nRecs, raw) =>
      val br = new Reader(raw)
      var i = 0L
      while (i < nRecs) {
        val id = br.varLong()
        val tLen = br.varLong()
        if (tLen < 0 || tLen > maxBlockBytes) fail()
        val text = br.bytes(tLen.toInt)
        var c = 0L
        text.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
        entries += AvroEntry(aid, recIdx, id, text.length.toLong, c)
        recIdx += 1L
        i += 1L
      }
      if (br.pos != raw.length) fail() // count must consume the block exactly
    }
    entries.result()
  }

  // ======== schema-driven GENERIC decode ========
  // Real corpus drops carry ARBITRARY schemas, not this fixture's: the
  // generic path parses `avro.schema` from the container metadata and
  // decodes records against it — records, nullable unions, enums,
  // arrays, maps, fixed, and every primitive — flattening each record
  // into one row per leaf value.

  private[ext] sealed trait ASch
  private[ext] case object ANull extends ASch
  private[ext] case object ABool extends ASch
  private[ext] case object AIntS extends ASch
  private[ext] case object ALongS extends ASch
  private[ext] case object AFloatS extends ASch
  private[ext] case object ADoubleS extends ASch
  private[ext] case object ABytesS extends ASch
  private[ext] case object AStringS extends ASch
  private[ext] final case class ARecordS(fields: Vector[(String, ASch)]) extends ASch
  private[ext] final case class AEnumS(symbols: Vector[String]) extends ASch
  private[ext] final case class AArrayS(elem: ASch) extends ASch
  private[ext] final case class AMapS(value: ASch) extends ASch
  private[ext] final case class AUnionS(branches: Vector[ASch]) extends ASch
  private[ext] final case class AFixedS(size: Int) extends ASch

  // ---- minimal JSON for schema documents (objects/arrays/strings/ints)
  private sealed trait SJs
  private final case class SJObj(fields: Vector[(String, SJs)]) extends SJs {
    def get(k: String): Option[SJs] = fields.find(_._1 == k).map(_._2)
  }
  private final case class SJArr(items: Vector[SJs]) extends SJs
  private final case class SJStr(v: String) extends SJs
  private final case class SJNum(v: Long) extends SJs

  private final class SchemaJson(s: String) {
    private var p = 0
    private def ws(): Unit =
      while (p < s.length && (s(p) == ' ' || s(p) == '\t' || s(p) == '\n' || s(p) == '\r')) p += 1
    private def expect(c: Char): Unit = { if (p >= s.length || s(p) != c) fail(); p += 1 }
    def value(): SJs = {
      ws()
      if (p >= s.length) fail()
      s(p) match {
        case '{' =>
          expect('{'); ws()
          val fields = Vector.newBuilder[(String, SJs)]
          if (p < s.length && s(p) == '}') { p += 1; return SJObj(fields.result()) }
          var more = true
          while (more) {
            ws(); val k = str(); ws(); expect(':')
            fields += (k -> value()); ws()
            if (p < s.length && s(p) == ',') p += 1 else { expect('}'); more = false }
          }
          SJObj(fields.result())
        case '[' =>
          expect('['); ws()
          val items = Vector.newBuilder[SJs]
          if (p < s.length && s(p) == ']') { p += 1; return SJArr(items.result()) }
          var more = true
          while (more) {
            items += value(); ws()
            if (p < s.length && s(p) == ',') p += 1 else { expect(']'); more = false }
          }
          SJArr(items.result())
        case '"' => SJStr(str())
        case c if c == '-' || (c >= '0' && c <= '9') =>
          val start = p
          if (s(p) == '-') p += 1
          while (p < s.length && s(p) >= '0' && s(p) <= '9') p += 1
          if (p == start || p - start > 18) fail()
          SJNum(s.substring(start, p).toLong)
        case _ => fail() // schema documents carry no other value kinds we accept
      }
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (p < s.length && s(p) != '"') {
        if (s(p) == '\\') {
          p += 1
          if (p >= s.length) fail()
          s(p) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case 'u' =>
              if (p + 4 >= s.length) fail()
              val h = s.substring(p + 1, p + 5)
              if (!h.forall(c => Character.digit(c, 16) >= 0)) fail()
              sb += Integer.parseInt(h, 16).toChar
              p += 4
            case _ => fail()
          }
          p += 1
        } else { sb += s(p); p += 1 }
      }
      expect('"')
      sb.result()
    }
    def parseRoot(): SJs = { val v = value(); ws(); if (p != s.length) fail(); v }
  }

  /** Schema JSON → decode plan. Named-type REFERENCES (a name reused
    * after definition) and recursive schemas are outside the subset —
    * they quarantine rather than misread.
    */
  private[ext] def parseSchema(json: String): ASch = {
    if (json.isEmpty || json.length > (1 << 20)) fail()
    def walk(js: SJs, depth: Int): ASch = {
      if (depth > 16) fail()
      js match {
        case SJStr(name) => name match {
          case "null" => ANull
          case "boolean" => ABool
          case "int" => AIntS
          case "long" => ALongS
          case "float" => AFloatS
          case "double" => ADoubleS
          case "bytes" => ABytesS
          case "string" => AStringS
          case _ => fail() // named-type references: out of subset
        }
        case SJArr(items) =>
          if (items.isEmpty || items.length > 16) fail()
          AUnionS(items.map(walk(_, depth + 1)))
        case o: SJObj =>
          o.get("type") match {
            case Some(SJStr("record")) =>
              val fs = o.get("fields") match {
                case Some(SJArr(items)) => items.map {
                  case f: SJObj =>
                    val name = f.get("name") match { case Some(SJStr(n)) => n; case _ => fail() }
                    val t = f.get("type").getOrElse(fail())
                    (name, walk(t, depth + 1))
                  case _ => fail()
                }
                case _ => fail()
              }
              if (fs.map(_._1).distinct.length != fs.length) fail() // dup field names
              ARecordS(fs)
            case Some(SJStr("enum")) =>
              o.get("symbols") match {
                case Some(SJArr(items)) if items.nonEmpty && items.length <= 4096 =>
                  AEnumS(items.map { case SJStr(v) => v; case _ => fail() })
                case _ => fail()
              }
            case Some(SJStr("array")) => AArrayS(walk(o.get("items").getOrElse(fail()), depth + 1))
            case Some(SJStr("map")) => AMapS(walk(o.get("values").getOrElse(fail()), depth + 1))
            case Some(SJStr("fixed")) =>
              o.get("size") match {
                case Some(SJNum(n)) if n >= 0 && n <= (1 << 16) => AFixedS(n.toInt)
                case _ => fail()
              }
            case Some(t @ SJStr(_)) => walk(t, depth + 1) // {"type":"long","logicalType":...}
            case _ => fail()
          }
        case _ => fail()
      }
    }
    walk(new SchemaJson(json).parseRoot(), 0)
  }

  final case class AvroField(
    archive_id: Long, rec_idx: Long, path: String, vtype: String,
    i_val: Option[Long], r_val: Option[Double], s_val: Option[String])

  private val MaxLeafRows = 1 << 14
  private val MaxStringLen = 1 << 20

  /** Decode one value of `sch`, appending flattened leaf rows. */
  private def decodeGeneric(br: Reader, sch: ASch, path: String, aid: Long, recIdx: Long,
      out: scala.collection.mutable.ArrayBuffer[AvroField], depth: Int): Unit = {
    if (depth > 24 || out.length > MaxLeafRows) fail()
    def leaf(vtype: String, i: Option[Long] = None, r: Option[Double] = None,
        s: Option[String] = None): Unit =
      out += AvroField(aid, recIdx, path, vtype, i, r, s)
    sch match {
      case ANull => leaf("z")
      case ABool =>
        val b = br.u8()
        if (b != 0 && b != 1) fail() // booleans are strictly 0/1
        leaf("i", i = Some(b.toLong))
      case AIntS | ALongS => leaf("i", i = Some(br.varLong()))
      case AFloatS =>
        val b = br.bytes(4)
        val bits = (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)
        leaf("f", r = Some(java.lang.Float.intBitsToFloat(bits).toDouble))
      case ADoubleS =>
        val b = br.bytes(8)
        var bits = 0L
        var i = 7
        while (i >= 0) { bits = (bits << 8) | (b(i) & 0xffL); i -= 1 }
        leaf("f", r = Some(java.lang.Double.longBitsToDouble(bits)))
      case AStringS => leaf("s", s = Some(br.string(MaxStringLen)))
      case ABytesS =>
        val len = br.varLong()
        if (len < 0 || len > MaxStringLen) fail()
        leaf("s", s = Some(br.bytes(len.toInt).map("%02x".format(_)).mkString))
      case AFixedS(size) =>
        leaf("s", s = Some(br.bytes(size).map("%02x".format(_)).mkString))
      case AEnumS(symbols) =>
        val idx = br.varLong()
        if (idx < 0 || idx >= symbols.length) fail() // index past the symbol table
        leaf("s", s = Some(symbols(idx.toInt)))
      case AUnionS(branches) =>
        val idx = br.varLong()
        if (idx < 0 || idx >= branches.length) fail()
        decodeGeneric(br, branches(idx.toInt), path, aid, recIdx, out, depth + 1)
      case ARecordS(fields) =>
        fields.foreach { case (name, fs) =>
          val sub = if (path.isEmpty) name else s"$path.$name"
          decodeGeneric(br, fs, sub, aid, recIdx, out, depth + 1)
        }
      case AArrayS(elem) =>
        var idx = 0L
        var count = br.varLong()
        while (count != 0L) {
          val n = if (count < 0) { br.varLong(); -count } else count // size arm
          if (n > MaxLeafRows) fail()
          var i = 0L
          while (i < n) {
            decodeGeneric(br, elem, s"$path[$idx]", aid, recIdx, out, depth + 1)
            idx += 1L
            i += 1L
          }
          count = br.varLong()
        }
      case AMapS(value) =>
        var count = br.varLong()
        while (count != 0L) {
          val n = if (count < 0) { br.varLong(); -count } else count
          if (n > MaxLeafRows) fail()
          var i = 0L
          while (i < n) {
            val key = br.string(1 << 16)
            decodeGeneric(br, value, s"$path.$key", aid, recIdx, out, depth + 1)
            i += 1L
          }
          count = br.varLong()
        }
    }
  }

  private[ext] def demuxGeneric(aid: Long, payload: Array[Byte],
      maxBlockBytes: Int): Vector[AvroField] = {
    val (schemaJson, blocks) = parseContainer(payload, maxBlockBytes)
    val sch = parseSchema(schemaJson)
    val out = scala.collection.mutable.ArrayBuffer.empty[AvroField]
    var recIdx = 0L
    blocks.foreach { case (nRecs, raw) =>
      val br = new Reader(raw)
      var i = 0L
      while (i < nRecs) {
        decodeGeneric(br, sch, "", aid, recIdx, out, 0)
        recIdx += 1L
        i += 1L
      }
      if (br.pos != raw.length) fail() // count must consume the block exactly
    }
    out.toVector
  }

  /** `avro_generic`: schema-driven flatten of every record of every
    * container — the path real (arbitrary-schema) corpus drops take.
    * Map-only demux.
    */
  def avroGenericExtract(archives: DataFrame,
      maxBlockBytes: Int = 1 << 26): Dataset[AvroField] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try { if (payload == null) Vector.empty else demuxGeneric(aid, payload, maxBlockBytes) }
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }

  // ---- the generic fixture: a schema exercising every decode arm

  private def md5bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
  private def gnib(id: Long, i: Int): Int = {
    val m = md5bytes(s"av:$id").map("%02x".format(_)).mkString
    Integer.parseInt(m.substring(i - 1, i), 16)
  }
  private val gwords = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private[ext] val GenericSchemaJson: String =
    """{"type":"record","name":"Doc","fields":[""" +
      """{"name":"id","type":"long"},""" +
      """{"name":"note","type":["null","string"]},""" +
      """{"name":"score","type":"double"},""" +
      """{"name":"flag","type":"boolean"},""" +
      """{"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN","BLUE"]}},""" +
      """{"name":"nums","type":{"type":"array","items":"long"}},""" +
      """{"name":"small","type":"int"},""" +
      """{"name":"raw","type":{"type":"fixed","name":"Tag","size":2}}]}"""

  private[ext] def gNoteOf(id: Long): Option[String] =
    if (id % 3 == 0) None else Some(s"n-${gwords(gnib(id, 2) % 8)}")
  private[ext] def gScoreOf(id: Long): Double = (gnib(id, 3) + id % 5) / 4.0
  private[ext] def gFlagOf(id: Long): Boolean = id % 2 == 0
  private[ext] def gColorOf(id: Long): Int = gnib(id, 4) % 3
  private[ext] def gNumsOf(id: Long): Seq[Long] =
    (0 until (1 + gnib(id, 5) % 3)).map(k => id * 10 + k)
  private[ext] def gSmallOf(id: Long): Long = gnib(id, 6).toLong - 7
  private[ext] def gRawOf(id: Long): Array[Byte] = md5bytes(s"av:$id").take(2)

  /** Documents packed into 16 generic-schema containers (id % 16,
    * records in id order), codec cycling null/deflate by archive.
    */
  def encodeAvroGenericArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0)
      .select(col(idCol).cast("long"))
      .as[Long]
      .groupByKey(_ % nArchives)
      .mapGroups { (aid, it) =>
        val ids = it.toArray.sorted
        val deflate = aid % 2 == 1
        val sync = md5(s"avro-gen:$aid")
        val out = new java.io.ByteArrayOutputStream()
        out.write('O'); out.write('b'); out.write('j'); out.write(1)
        writeVarLong(out, 2L)
        writeString(out, "avro.schema"); writeString(out, GenericSchemaJson)
        writeString(out, "avro.codec"); writeString(out, if (deflate) "deflate" else "null")
        writeVarLong(out, 0L)
        out.write(sync, 0, 16)
        ids.grouped(8).foreach { group =>
          val body = new java.io.ByteArrayOutputStream()
          group.foreach { id =>
            writeVarLong(body, id)
            gNoteOf(id) match {
              case None => writeVarLong(body, 0L) // union branch: null
              case Some(s) => writeVarLong(body, 1L); writeString(body, s)
            }
            val bits = java.lang.Double.doubleToLongBits(gScoreOf(id))
            (0 until 8).foreach(i => body.write(((bits >>> (8 * i)) & 0xff).toInt))
            body.write(if (gFlagOf(id)) 1 else 0)
            writeVarLong(body, gColorOf(id).toLong)
            val nums = gNumsOf(id)
            writeVarLong(body, nums.length.toLong)
            nums.foreach(writeVarLong(body, _))
            writeVarLong(body, 0L) // array terminator
            writeVarLong(body, gSmallOf(id))
            body.write(gRawOf(id), 0, 2)
          }
          val raw = body.toByteArray
          val data = if (deflate) Multimodal.deflateDynamic(raw) else raw
          writeVarLong(out, group.length.toLong)
          writeVarLong(out, data.length.toLong)
          out.write(data, 0, data.length)
          out.write(sync, 0, 16)
        }
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  /** The ingest gate: containers → per-record rows with every block's
    * sync verified and counts cross-checked; damage quarantines whole.
    */
  def avroExtract(archives: DataFrame, maxBlockBytes: Int = 1 << 26): Dataset[AvroEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try demux(aid, payload, maxBlockBytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }
}
