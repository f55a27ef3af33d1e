package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Delta Lake transaction-log ingestion, from scratch — the table
  * format 100 TB lakes actually mount. A crawl/curation pipeline that
  * reads "a directory of parquet" on a modern lake is really reading
  * `_delta_log/`: the JSON commit files are the source of truth for
  * WHICH files are table data (compacted-away and deleted files still
  * sit in storage), so an engine that lists the directory instead of
  * replaying the log silently reads ghosts.
  *
  * Implemented per the published Delta Transaction Log Protocol
  * (PROTOCOL.md): each commit `<version>.json` is JSON-lines, one
  * action object per line wrapping exactly one of
  * `protocol` / `metaData` / `add` / `remove` / `commitInfo`;
  * versions are contiguous from 0; the first commit carries protocol
  * and metaData; replaying commits in version order folds the ACTIVE
  * file set — `add` inserts (or replaces, by path), `remove`
  * tombstones. `commitInfo` is provenance and is skipped; reader
  * versions above 3 (column mapping / deletion vectors and beyond)
  * quarantine rather than misread.
  *
  * Strictness inherits the shelf's rules: a strict JSON subset
  * (objects, arrays, strings, integers, booleans, null; duplicate
  * object keys are damage), one action per line, no unknown action
  * kinds, a version gap, a missing metaData, or a malformed line
  * quarantines the whole table's log.
  *
  * Output: one row per ACTIVE file after replay — path, the commit
  * that added it, size, the `lang` partition value — exact and
  * SQL-replayable.
  *
  * Scale shape: ONE shuffle, by table id — a table's log replay is
  * inherently sequential (that is the format's point), so the
  * parallelism unit is the table, exactly how a real lake caches
  * snapshots per table. Commit files arrive as ordinary rows
  * (doc_id, version, content), the shape an object-store listing
  * produces. No reference citation possible — the reference
  * (`src/flinkarima.py:379-416`) has no file surface; north-star
  * scope beside the storage shelf.
  */
object DeltaLog {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  // ------------------------------------------------------------- fixture

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"dlog:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nCommits(id: Long): Int = 2 + nib(id, 1) % 3
  private[ext] def addsAt(id: Long, c: Int): Int = if (c == 0) 3 else 1 + nib(id, 2 + c) % 3
  private[ext] def pathOf(c: Int, j: Int): String = f"part-$c%05d-$j%d.snappy.parquet"
  private[ext] def sizeOf(id: Long, c: Int, j: Int): Long =
    1000L + nib(id, 5 + (c + j) % 8) * 64L + 17L * j + c
  private[ext] def langOf(id: Long, c: Int, j: Int): String =
    words(nib(id, 6 + (2 * c + j) % 9) % 8)
  /** Files added at commit c are compacted away at commit c+1 when their
    * index is even — so the active set is adds-minus-removes, never a
    * directory listing.
    */
  private[ext] def removedAt(id: Long, c: Int, j: Int): Boolean =
    c + 1 < nCommits(id) && j % 2 == 0

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The JSON-lines content of commit `c` for table `id`. */
  private[ext] def renderCommit(id: Long, c: Int): String = {
    val lines = Vector.newBuilder[String]
    lines += s"""{"commitInfo":{"timestamp":${1700000000000L + id * 1000 + c},"operation":${jstr(if (c == 0) "CREATE TABLE" else "WRITE")}}}"""
    if (c == 0) {
      lines += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      lines += s"""{"metaData":{"id":${jstr(s"tbl-$id")},"format":{"provider":"parquet","options":{}},"schemaString":${jstr("""{"type":"struct","fields":[]}""")},"partitionColumns":["lang"],"configuration":{},"createdTime":${1700000000000L + id}}}"""
    }
    if (c > 0) {
      (0 until addsAt(id, c - 1)).filter(j => removedAt(id, c - 1, j)).foreach { j =>
        lines += s"""{"remove":{"path":${jstr(pathOf(c - 1, j))},"deletionTimestamp":${1700000000500L + id * 1000 + c},"dataChange":true}}"""
      }
    }
    (0 until addsAt(id, c)).foreach { j =>
      lines += s"""{"add":{"path":${jstr(pathOf(c, j))},"partitionValues":{"lang":${jstr(langOf(id, c, j))}},"size":${sizeOf(id, c, j)},"modificationTime":${1700000001000L + id * 1000 + c},"dataChange":true}}"""
    }
    lines.result().mkString("\n") + "\n"
  }

  /** Fixture writer: (doc_id, version, content) — one row per commit
    * file, the shape an object-store listing of `_delta_log/` yields.
    */
  def encodeDeltaLog(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs, idCol)
      .flatMap(id => (0 until nCommits(id)).map(c => (id, c.toLong, renderCommit(id, c))))
      .toDF("doc_id", "version", "content")
  }

  // --------------------------------------------------------------- reader

  private final class MalformedDelta
      extends RuntimeException("malformed delta log", null, false, false)
  private def fail(): Nothing = throw new MalformedDelta

  // ---- strict JSON subset (objects / arrays / strings / integers /
  // booleans / null — what the protocol's action lines carry)

  private[ext] sealed trait Js
  private[ext] final case class JObj(fields: Vector[(String, Js)]) extends Js {
    lazy val map: Map[String, Js] = fields.toMap // dup keys rejected at parse
  }
  private[ext] final case class JArr(items: Vector[Js]) extends Js
  private[ext] final case class JStr(v: String) extends Js
  private[ext] final case class JNum(v: Long) extends Js
  private[ext] final case class JBool(v: Boolean) extends Js
  private[ext] case object JNull extends Js

  private[ext] final class JParser(s: String) {
    private var p = 0
    private def ws(): Unit = while (p < s.length && (s(p) == ' ' || s(p) == '\t' ||
      s(p) == '\n' || s(p) == '\r')) p += 1
    private def expect(c: Char): Unit = { if (p >= s.length || s(p) != c) fail(); p += 1 }
    private def lit(word: String): Unit = {
      if (p + word.length > s.length || s.substring(p, p + word.length) != word) fail()
      p += word.length
    }
    def value(): Js = {
      ws()
      if (p >= s.length) fail()
      s(p) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => JStr(str())
        case 't' => lit("true"); JBool(true)
        case 'f' => lit("false"); JBool(false)
        case 'n' => lit("null"); JNull
        case c if c == '-' || (c >= '0' && c <= '9') => num()
        case _ => fail()
      }
    }
    private def obj(): JObj = {
      expect('{'); ws()
      val fields = Vector.newBuilder[(String, Js)]
      val seen = scala.collection.mutable.HashSet.empty[String]
      if (p < s.length && s(p) == '}') { p += 1; return JObj(fields.result()) }
      var more = true
      while (more) {
        ws()
        val k = str()
        if (!seen.add(k)) fail() // duplicate keys are damage, not last-wins
        ws(); expect(':')
        fields += (k -> value())
        ws()
        if (p < s.length && s(p) == ',') p += 1
        else { expect('}'); more = false }
      }
      JObj(fields.result())
    }
    private def arr(): JArr = {
      expect('['); ws()
      val items = Vector.newBuilder[Js]
      if (p < s.length && s(p) == ']') { p += 1; return JArr(items.result()) }
      var more = true
      while (more) {
        items += value()
        ws()
        if (p < s.length && s(p) == ',') p += 1
        else { expect(']'); more = false }
      }
      JArr(items.result())
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (p < s.length && s(p) != '"') {
        if (s(p) == '\\') {
          p += 1
          if (p >= s.length) fail()
          s(p) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case '/' => sb += '/'
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case 'r' => sb += '\r'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
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
    private def num(): JNum = {
      val start = p
      if (s(p) == '-') p += 1
      while (p < s.length && s(p) >= '0' && s(p) <= '9') p += 1
      if (p == start || (p < s.length && (s(p) == '.' || s(p) == 'e' || s(p) == 'E'))) fail()
      val t = s.substring(start, p)
      if (t.length > 18) fail()
      JNum(t.toLong)
    }
    def parseRoot(): Js = {
      val v = value()
      ws()
      if (p != s.length) fail()
      v
    }
  }

  final case class DeltaFile(
    doc_id: Long, path: String, add_version: Long, size_bytes: Long, lang: String)

  /** Fold one commit file's action lines into the active set; returns
    * (sawProtocol, sawMeta) for the caller's snapshot-definedness check.
    */
  private def foldCommit(id: Long, version: Long, content: String,
      active: scala.collection.mutable.LinkedHashMap[String, DeltaFile]): (Boolean, Boolean) = {
    var sawProtocol = false
    var sawMeta = false
    content.linesIterator.filter(_.nonEmpty).foreach { line =>
      val root = new JParser(line).parseRoot() match {
        case o: JObj => o
        case _ => fail()
      }
      if (root.fields.length != 1) fail() // exactly one action per line
      val (kind, body) = root.fields.head
      def asObj(js: Js): JObj = js match { case o: JObj => o; case _ => fail() }
      kind match {
        case "commitInfo" => asObj(body) // provenance: validated as an object, skipped
        case "protocol" =>
          val o = asObj(body)
          o.map.get("minReaderVersion") match {
            case Some(JNum(v)) => if (v < 1 || v > 3) fail() // beyond our read surface
            case _ => fail()
          }
          sawProtocol = true
        case "metaData" =>
          val o = asObj(body)
          o.map.get("id") match { case Some(JStr(_)) => () ; case _ => fail() }
          sawMeta = true
        case "add" =>
          val o = asObj(body)
          val path = o.map.get("path") match { case Some(JStr(v)) => v; case _ => fail() }
          val size = o.map.get("size") match { case Some(JNum(v)) if v >= 0 => v; case _ => fail() }
          val lang = o.map.get("partitionValues") match {
            case Some(pv: JObj) => pv.map.get("lang") match {
              case Some(JStr(v)) => v
              case None => ""
              case _ => fail()
            }
            case _ => fail() // partitionValues is required on add
          }
          active.remove(path) // re-add replaces
          active(path) = DeltaFile(id, path, version, size, lang)
        case "remove" =>
          val o = asObj(body)
          val path = o.map.get("path") match { case Some(JStr(v)) => v; case _ => fail() }
          active.remove(path) // a tombstone for an unknown path is legal
        case _ => fail() // unknown action kinds are damage
      }
    }
    (sawProtocol, sawMeta)
  }

  /** Replay one table's commit files (any input order; versions must be
    * contiguous from 0) into its active file rows.
    */
  private[ext] def replay(id: Long, commits: Seq[(Long, String)]): Seq[DeltaFile] = {
    val byVersion = commits.sortBy(_._1)
    byVersion.map(_._1).zipWithIndex.foreach { case (v, i) =>
      if (v != i.toLong) fail() // gap or duplicate version
    }
    if (byVersion.isEmpty) fail()
    var sawProtocol = false
    var sawMeta = false
    // active set in ADD order (replacement keeps the newest add's slot
    // at its new position — the fold a snapshot reader performs)
    val active = scala.collection.mutable.LinkedHashMap.empty[String, DeltaFile]
    byVersion.foreach { case (version, content) =>
      val (p, m) = foldCommit(id, version, content, active)
      sawProtocol |= p
      sawMeta |= m
    }
    if (!sawProtocol || !sawMeta) fail() // the snapshot is undefined without them
    active.values.toVector
  }

  private[ext] def replaySafe(id: Long, commits: Seq[(Long, String)]): Seq[DeltaFile] =
    try replay(id, commits)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `delta_state`: the active-file snapshot of every table's log. One
    * shuffle, keyed by table.
    */
  def deltaState(logs: DataFrame, idCol: String = "doc_id",
                 versionCol: String = "version", contentCol: String = "content"): Dataset[DeltaFile] = {
    val spark = logs.sparkSession
    import spark.implicits._
    logs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(versionCol).cast("long"), col(contentCol))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        replaySafe(id, it.map(r => (r._2, r._3)).toSeq)
      }
  }

  // =================== checkpoint parquet replay ===================
  // Real `_delta_log/` dirs write a `NNN.checkpoint.parquet` every ~10
  // commits plus a `_last_checkpoint` pointer, and VACUUM deletes the
  // JSON commits the checkpoint subsumes — so a JSON-only replayer
  // cannot reconstruct the snapshot at all (the log no longer starts at
  // version 0). The snapshot fold is: seed the active set from the
  // checkpoint's add rows (the checkpoint parquet decoded by the
  // in-house [[ParquetFile.parseDeltaCheckpoint]] nested reader), then
  // replay ONLY the JSON commits after the checkpoint version. The
  // fixture vacuums every pre-checkpoint JSON commit, so reading the
  // checkpoint is the only path to the oracle's closed-form active set.

  private def nibC(id: Long, i: Int): Int = {
    val m = md5Hex(s"dckp:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nCommitsC(id: Long): Int = 4 + nibC(id, 1) % 3
  private[ext] val CkptVersion = 2
  private[ext] def addsAtC(id: Long, c: Int): Int = if (c == 0) 2 else 1 + nibC(id, 2 + c) % 2
  private[ext] def sizeOfC(id: Long, c: Int, j: Int): Long =
    1000L + nibC(id, 17 + (c + j) % 8) * 64L + 17L * j + c
  private[ext] def langOfC(id: Long, c: Int, j: Int): String =
    words(nibC(id, 8 + (2 * c + j) % 9) % 8)
  /** Same compaction pattern as the JSON-only fixture: files added at
    * commit c are removed at c+1 when their index is even.
    */
  private[ext] def removedAtC(id: Long, c: Int, j: Int): Boolean =
    c + 1 < nCommitsC(id) && j % 2 == 0

  /** A post-checkpoint JSON commit (c > CkptVersion): removes for the
    * previous commit's even-indexed files, then this commit's adds.
    */
  private[ext] def renderCommitC(id: Long, c: Int): String = {
    val lines = Vector.newBuilder[String]
    lines += s"""{"commitInfo":{"timestamp":${1710000000000L + id * 1000 + c},"operation":${jstr("WRITE")}}}"""
    (0 until addsAtC(id, c - 1)).filter(j => removedAtC(id, c - 1, j)).foreach { j =>
      lines += s"""{"remove":{"path":${jstr(pathOf(c - 1, j))},"deletionTimestamp":${1710000000500L + id * 1000 + c},"dataChange":true}}"""
    }
    (0 until addsAtC(id, c)).foreach { j =>
      lines += s"""{"add":{"path":${jstr(pathOf(c, j))},"partitionValues":{"lang":${jstr(langOfC(id, c, j))}},"size":${sizeOfC(id, c, j)},"modificationTime":${1710000001000L + id * 1000 + c},"dataChange":true}}"""
    }
    lines.result().mkString("\n") + "\n"
  }

  /** The checkpoint's action rows: the snapshot state after commits
    * 0..CkptVersion — protocol, metaData, the active adds, and the
    * expired remove tombstones (which a correct reader must NOT count
    * as active).
    */
  private[ext] def checkpointActions(id: Long): Seq[ParquetFile.CkptAction] = {
    val acts = Vector.newBuilder[ParquetFile.CkptAction]
    acts += ParquetFile.CkptProtocol(1L)
    acts += ParquetFile.CkptMeta(s"tbl-$id")
    for (c <- 0 to CkptVersion; j <- 0 until addsAtC(id, c)) {
      if (removedAtC(id, c, j) && c + 1 <= CkptVersion)
        acts += ParquetFile.CkptRemove(pathOf(c, j))
      else
        acts += ParquetFile.CkptAdd(pathOf(c, j), langOfC(id, c, j), sizeOfC(id, c, j))
    }
    acts.result()
  }

  /** Fixture writer: (doc_id, name, content) — the `_delta_log/` object
    * listing with every pre-checkpoint JSON commit vacuumed away.
    */
  def encodeDeltaCheckpointLog(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs, idCol)
      .flatMap { id =>
        val acts = checkpointActions(id)
        val files = Vector.newBuilder[(Long, String, Array[Byte])]
        files += ((id, "_last_checkpoint",
          s"""{"version":$CkptVersion,"size":${acts.length}}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        files += ((id, f"$CkptVersion%020d.checkpoint.parquet",
          ParquetFile.renderDeltaCheckpoint(acts)))
        ((CkptVersion + 1) until nCommitsC(id)).foreach { c =>
          files += ((id, f"$c%020d.json",
            renderCommitC(id, c).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
        files.result()
      }
      .toDF("doc_id", "name", "content")
  }

  final case class DeltaCkptFile(doc_id: Long, path: String, size_bytes: Long, lang: String)

  /** Replay one table's vacuumed log: `_last_checkpoint` → checkpoint
    * parquet → JSON tail (contiguous from checkpoint version + 1).
    */
  private[ext] def replayCheckpoint(id: Long,
      files: Seq[(String, Array[Byte])]): Seq[DeltaCkptFile] = {
    val byName = files.toMap
    if (byName.size != files.length) fail() // duplicate names are damage
    val lcBytes = byName.getOrElse("_last_checkpoint", fail())
    val lc = new JParser(new String(lcBytes, java.nio.charset.StandardCharsets.UTF_8))
      .parseRoot() match {
        case o: JObj => o
        case _ => fail()
      }
    val cpVer = lc.map.get("version") match {
      case Some(JNum(v)) if v >= 0 => v
      case _ => fail()
    }
    val cpSize = lc.map.get("size") match {
      case Some(JNum(v)) if v >= 0 => Some(v)
      case None => None
      case _ => fail()
    }
    val cpBytes = byName.getOrElse(f"$cpVer%020d.checkpoint.parquet", fail())
    val acts = try ParquetFile.parseDeltaCheckpoint(cpBytes)
      catch { case scala.util.control.NonFatal(_) => fail() }
    if (cpSize.exists(_ != acts.length.toLong)) fail() // pointer/content drift
    if (acts.count(_.isInstanceOf[ParquetFile.CkptProtocol]) != 1) fail()
    if (acts.count(_.isInstanceOf[ParquetFile.CkptMeta]) != 1) fail()
    val active = scala.collection.mutable.LinkedHashMap.empty[String, DeltaFile]
    acts.foreach {
      case ParquetFile.CkptProtocol(v) => if (v < 1 || v > 3) fail()
      case ParquetFile.CkptMeta(_) => ()
      case ParquetFile.CkptAdd(p, lang, sz) =>
        if (sz < 0) fail()
        active.remove(p)
        active(p) = DeltaFile(id, p, cpVer, sz, lang)
      case ParquetFile.CkptRemove(p) => active.remove(p) // expired tombstone
    }
    // the JSON tail: contiguous versions after the checkpoint (older
    // retained JSON commits, if any, are subsumed and skipped)
    val tail = files.collect {
      case (name, bytes) if name.endsWith(".json") && name.length == 25 =>
        val v = try name.dropRight(5).toLong catch { case _: NumberFormatException => fail() }
        (v, new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    }.filter(_._1 > cpVer).sortBy(_._1)
    tail.map(_._1).zipWithIndex.foreach { case (v, i) =>
      if (v != cpVer + 1 + i) fail() // gap or duplicate after the checkpoint
    }
    tail.foreach { case (version, content) => foldCommit(id, version, content, active) }
    active.values.toVector.map(f => DeltaCkptFile(id, f.path, f.size_bytes, f.lang))
  }

  private[ext] def replayCheckpointSafe(id: Long,
      files: Seq[(String, Array[Byte])]): Seq[DeltaCkptFile] =
    try replayCheckpoint(id, files)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `delta_checkpoint_state`: the active-file snapshot of every
    * vacuumed table log. One shuffle, keyed by table — the same
    * per-table parallelism unit as [[deltaState]].
    */
  def deltaCheckpointState(logs: DataFrame, idCol: String = "doc_id",
      nameCol: String = "name", contentCol: String = "content"): Dataset[DeltaCkptFile] = {
    val spark = logs.sparkSession
    import spark.implicits._
    logs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(nameCol), col(contentCol))
      .as[(Long, String, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        replayCheckpointSafe(id, it.map(r => (r._2, r._3)).toSeq)
      }
  }
}
