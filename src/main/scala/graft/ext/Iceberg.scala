package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Apache Iceberg table-metadata ingestion, from scratch — the second
  * of the two table formats 100 TB lakes mount (beside [[DeltaLog]]).
  * Iceberg's current state is a POINTER CHAIN, not a log replay:
  * `vN.metadata.json` names the current snapshot, the snapshot names a
  * MANIFEST LIST (an Avro file of manifest descriptors), and each
  * manifest (another Avro file) lists data files with a status column.
  * An engine that lists the data directory instead of walking the
  * chain reads orphaned and deleted files.
  *
  * Implemented per the published Iceberg Table Spec:
  *
  *  - `metadata.json`: strict JSON (the [[DeltaLog]] subset — duplicate
  *    keys are damage), format-version 1/2, `current-snapshot-id`
  *    resolved against the `snapshots` array (it must exist), the
  *    snapshot's `manifest-list` path;
  *  - the manifest list and every manifest are AVRO OBJECT CONTAINERS
  *    decoded by [[Avro.demuxGeneric]] — the schema-driven generic
  *    path, exactly how a foreign manifest should be read — and their
  *    fields are picked out of the flattened rows by path
  *    (`manifest_path`, `status`, `data_file.file_path`, …);
  *  - manifest entries carry status 0 = EXISTING / 1 = ADDED /
  *    2 = DELETED; the active set is statuses 0 and 1. Any other
  *    status, a missing referenced file, or a damaged JSON/Avro layer
  *    quarantines the whole table.
  *
  * Output: one row per ACTIVE data file of the CURRENT snapshot —
  * path, record count, byte size — exact and SQL-replayable.
  *
  * Scale shape: ONE shuffle, by table id — the pointer chain is
  * per-table sequential, so the parallelism unit is the table (real
  * engines cache exactly this walk per snapshot). Files arrive as
  * ordinary rows (doc_id, path, content), the object-store-listing
  * shape. No reference citation possible — the reference
  * (`src/flinkarima.py:379-416`) has no file surface; north-star
  * scope beside the storage shelf.
  */
object Iceberg {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ------------------------------------------------------------- fixture

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"ice:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nManifests(id: Long): Int = 1 + nib(id, 1) % 2
  private[ext] def nEntries(id: Long, m: Int): Int = 2 + nib(id, 2 + m) % 3
  /** Every third entry is DELETED — the active set is never the listing. */
  private[ext] def statusOf(id: Long, m: Int, j: Int): Int = if ((id + m + j) % 3 == 2) 2 else 1
  private[ext] def dataPathOf(m: Int, j: Int): String = s"data/part-$m-$j.parquet"
  private[ext] def recordsOf(id: Long, m: Int, j: Int): Long =
    100L + nib(id, 4 + (m + 2 * j) % 8) * 7L + j
  private[ext] def bytesOf(id: Long, m: Int, j: Int): Long =
    4096L + nib(id, 5 + (3 * m + j) % 8) * 512L + 13L * j + m
  private[ext] def snapshotIdOf(id: Long): Long = 7000000L + id

  private def manifestPathOf(id: Long, m: Int): String =
    s"metadata/manifest-$m.avro"
  private def manifestListPathOf(id: Long): String =
    s"metadata/snap-${snapshotIdOf(id)}.avro"

  private val ManifestSchema: String =
    """{"type":"record","name":"manifest_entry","fields":[""" +
      """{"name":"status","type":"int"},""" +
      """{"name":"data_file","type":{"type":"record","name":"data_file","fields":[""" +
      """{"name":"file_path","type":"string"},""" +
      """{"name":"file_format","type":"string"},""" +
      """{"name":"record_count","type":"long"},""" +
      """{"name":"file_size_in_bytes","type":"long"}]}}]}"""

  private val ManifestListSchema: String =
    """{"type":"record","name":"manifest_file","fields":[""" +
      """{"name":"manifest_path","type":"string"},""" +
      """{"name":"manifest_length","type":"long"},""" +
      """{"name":"added_snapshot_id","type":"long"}]}"""

  /** One single-block Avro container holding `records`, each a writer
    * callback over the record body.
    */
  private def avroContainer(schemaJson: String, sync: Array[Byte],
      records: Seq[java.io.ByteArrayOutputStream => Unit]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write('O'); out.write('b'); out.write('j'); out.write(1)
    Avro.writeVarLong(out, 2L)
    def ws(s: String): Unit = {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      Avro.writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
    }
    ws("avro.schema"); ws(schemaJson)
    ws("avro.codec"); ws("null")
    Avro.writeVarLong(out, 0L)
    out.write(sync, 0, 16)
    val body = new java.io.ByteArrayOutputStream()
    records.foreach(_(body))
    val raw = body.toByteArray
    Avro.writeVarLong(out, records.length.toLong)
    Avro.writeVarLong(out, raw.length.toLong)
    out.write(raw, 0, raw.length)
    out.write(sync, 0, 16)
    out.toByteArray
  }

  private def wstr(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Avro.writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
  }

  private[ext] def renderManifest(id: Long, m: Int): Array[Byte] =
    avroContainer(ManifestSchema,
      java.security.MessageDigest.getInstance("MD5").digest(s"ice-m:$id:$m".getBytes("UTF-8")),
      (0 until nEntries(id, m)).map { j => (out: java.io.ByteArrayOutputStream) =>
        Avro.writeVarLong(out, statusOf(id, m, j).toLong)
        wstr(out, dataPathOf(m, j))
        wstr(out, "PARQUET")
        Avro.writeVarLong(out, recordsOf(id, m, j))
        Avro.writeVarLong(out, bytesOf(id, m, j))
      })

  private[ext] def renderManifestList(id: Long): Array[Byte] =
    avroContainer(ManifestListSchema,
      java.security.MessageDigest.getInstance("MD5").digest(s"ice-l:$id".getBytes("UTF-8")),
      (0 until nManifests(id)).map { m => (out: java.io.ByteArrayOutputStream) =>
        wstr(out, manifestPathOf(id, m))
        Avro.writeVarLong(out, renderManifest(id, m).length.toLong)
        Avro.writeVarLong(out, snapshotIdOf(id))
      })

  /** `vN.metadata.json` with TWO snapshots — current must be resolved,
    * not "the last one" (the stale snapshot's manifest list is absent
    * on purpose: following it quarantines).
    */
  private[ext] def renderMetadataJson(id: Long): String = {
    val cur = snapshotIdOf(id)
    s"""{"format-version":2,"table-uuid":"0000-${md5Hex(s"ice:$id").take(8)}",""" +
      s""""location":"s3://lake/tbl$id","last-updated-ms":${1700000000000L + id},""" +
      s""""current-snapshot-id":$cur,"snapshots":[""" +
      s"""{"snapshot-id":${cur - 1},"manifest-list":"metadata/snap-${cur - 1}.avro","timestamp-ms":1},""" +
      s"""{"snapshot-id":$cur,"manifest-list":"${manifestListPathOf(id)}","timestamp-ms":2}]}"""
  }

  /** Fixture writer: (doc_id, path, content) — the object-store listing
    * of one table per document row.
    */
  def encodeIceberg(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs, idCol)
      .flatMap { id =>
        Seq((id, "metadata/v1.metadata.json",
          renderMetadataJson(id).getBytes(java.nio.charset.StandardCharsets.UTF_8))) ++
          Seq((id, manifestListPathOf(id), renderManifestList(id))) ++
          (0 until nManifests(id)).map(m => (id, manifestPathOf(id, m), renderManifest(id, m)))
      }
      .toDF("doc_id", "path", "content")
  }

  // --------------------------------------------------------------- reader

  private final class MalformedIceberg
      extends RuntimeException("malformed iceberg", null, false, false)
  private def fail(): Nothing = throw new MalformedIceberg

  final case class IcebergFile(
    doc_id: Long, file_path: String, record_count: Long, size_bytes: Long)

  /** Walk one table's pointer chain from its files. */
  private[ext] def walkTable(id: Long, files: Seq[(String, Array[Byte])]): Seq[IcebergFile] = {
    val byPath = files.toMap
    if (byPath.size != files.length) fail() // duplicate paths in the listing
    // real tables keep EVERY metadata version around: the walk starts at
    // the HIGHEST vN.metadata.json, never an arbitrary one
    val metaCandidates = files.collect {
      case (p, b) if p.endsWith(".metadata.json") => (p, b)
    }
    val VN = """.*v(\d+)\.metadata\.json""".r
    val metaBytes = metaCandidates match {
      case Seq() => fail()
      case Seq((_, b)) => b
      case many =>
        val numbered = many.flatMap {
          case (VN(n), b) if n.length <= 18 => Some((n.toLong, b))
          case _ => None
        }
        if (numbered.length != many.length) fail() // unnumbered rivals: ambiguous
        numbered.maxBy(_._1)._2
    }
    val meta = new DeltaLog.JParser(
      new String(metaBytes, java.nio.charset.StandardCharsets.UTF_8)).parseRoot() match {
      case o: DeltaLog.JObj => o
      case _ => fail()
    }
    meta.map.get("format-version") match {
      case Some(DeltaLog.JNum(v)) => if (v < 1 || v > 2) fail() // v3+: out of surface
      case _ => fail()
    }
    val current = meta.map.get("current-snapshot-id") match {
      case Some(DeltaLog.JNum(v)) => v
      case _ => fail()
    }
    val snapshots = meta.map.get("snapshots") match {
      case Some(DeltaLog.JArr(items)) => items.map {
        case o: DeltaLog.JObj =>
          val sid = o.map.get("snapshot-id") match { case Some(DeltaLog.JNum(v)) => v; case _ => fail() }
          val ml = o.map.get("manifest-list") match { case Some(DeltaLog.JStr(v)) => v; case _ => fail() }
          (sid, ml)
        case _ => fail()
      }
      case _ => fail()
    }
    // current must RESOLVE — "take the newest" reads a stale snapshot
    val manifestList = snapshots.collectFirst { case (sid, ml) if sid == current => ml }
      .getOrElse(fail())
    val mlBytes = byPath.getOrElse(manifestList, fail())
    val mlRows = Avro.demuxGeneric(id, mlBytes, 1 << 26)
    val manifests = mlRows.groupBy(_.rec_idx).toSeq.sortBy(_._1).map { case (_, rows) =>
      rows.find(_.path == "manifest_path").flatMap(_.s_val).getOrElse(fail())
    }
    if (manifests.distinct.length != manifests.length) fail() // a manifest listed twice double-counts
    manifests.flatMap { mPath =>
      val mBytes = byPath.getOrElse(mPath, fail())
      val rows = Avro.demuxGeneric(id, mBytes, 1 << 26)
      rows.groupBy(_.rec_idx).toSeq.sortBy(_._1).flatMap { case (_, entry) =>
        val by = entry.map(r => r.path -> r).toMap
        val status = by.get("status").flatMap(_.i_val).getOrElse(fail())
        if (status < 0 || status > 2) fail() // outside the spec's ladder
        if (status == 2) None // DELETED
        else Some(IcebergFile(id,
          by.get("data_file.file_path").flatMap(_.s_val).getOrElse(fail()),
          by.get("data_file.record_count").flatMap(_.i_val).getOrElse(fail()),
          by.get("data_file.file_size_in_bytes").flatMap(_.i_val).getOrElse(fail())))
      }
    }
  }

  private[ext] def walkTableSafe(id: Long, files: Seq[(String, Array[Byte])]): Seq[IcebergFile] =
    try walkTable(id, files)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `iceberg_state`: the active-file snapshot of every table. One
    * shuffle, keyed by table.
    */
  def icebergState(listing: DataFrame, idCol: String = "doc_id",
                   pathCol: String = "path", contentCol: String = "content"): Dataset[IcebergFile] = {
    val spark = listing.sparkSession
    import spark.implicits._
    listing
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(pathCol), col(contentCol))
      .as[(Long, String, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        walkTableSafe(id, it.map(r => (r._2, r._3)).toSeq)
      }
  }

  // =================== v2 row-level (position) deletes ===================
  // The merge-on-read mechanism every Iceberg v2 table uses: the
  // manifest LIST's `content` field splits manifests into DATA (0) and
  // DELETE (1); delete manifests name POSITION DELETE FILES — rows of
  // (file_path, pos) marking individual rows dead in named data files.
  // Active-row accounting without them is wrong on any table that has
  // seen a row-level DELETE/UPDATE. Per the spec: positions are 0-based
  // ordinals into the target data file; a delete row naming a file that
  // is not in the current snapshot is DANGLING and ignored (compaction
  // lag is legal); duplicate positions count once.

  private def nib2(id: Long, i: Int): Int = {
    val m = md5Hex(s"icev2:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // shared closed-form arms of the two merge-on-read fixtures: only the
  // md5 seed (the nib function) differs between the position-only and
  // equality families — one formula set, two seeds (review finding)
  private def armManifests(nib: Int => Int): Int = 1 + nib(1) % 2
  private def armEntries(nib: Int => Int, m: Int): Int = 2 + nib(2 + m) % 3
  private def armStatus(id: Long, m: Int, j: Int): Int = if ((id + m + j) % 3 == 2) 2 else 1
  private def armRecords(nib: Int => Int, m: Int, j: Int): Long =
    100L + nib(4 + (m + 2 * j) % 8) * 7L + j
  private def armBytes(nib: Int => Int, m: Int, j: Int): Long =
    4096L + nib(5 + (3 * m + j) % 8) * 512L + 13L * j + m
  private def armDeletes(nib: Int => Int, m: Int, j: Int): Int = nib(12 + (m + j) % 8) % 4

  private[ext] def nManifests2(id: Long): Int = armManifests(nib2(id, _))
  private[ext] def nEntries2(id: Long, m: Int): Int = armEntries(nib2(id, _), m)
  private[ext] def statusOf2(id: Long, m: Int, j: Int): Int = armStatus(id, m, j)
  private[ext] def dataPathOf2(m: Int, j: Int): String = s"data/part-$m-$j.parquet"
  private[ext] def recordsOf2(id: Long, m: Int, j: Int): Long = armRecords(nib2(id, _), m, j)
  private[ext] def bytesOf2(id: Long, m: Int, j: Int): Long = armBytes(nib2(id, _), m, j)
  /** Distinct 0-based deleted positions in data file (m, j) — always
    * below the file's record count (min 100).
    */
  private[ext] def nDeletes2(id: Long, m: Int, j: Int): Int = armDeletes(nib2(id, _), m, j)
  private[ext] def deletePos2(id: Long, i: Int): Long = 11L * i + id % 7
  private[ext] def snapshotIdOf2(id: Long): Long = 8000000L + id

  private val ManifestListSchemaV2: String =
    """{"type":"record","name":"manifest_file","fields":[""" +
      """{"name":"manifest_path","type":"string"},""" +
      """{"name":"manifest_length","type":"long"},""" +
      """{"name":"content","type":"int"},""" +
      """{"name":"added_snapshot_id","type":"long"}]}"""

  private val ManifestSchemaV2: String =
    """{"type":"record","name":"manifest_entry","fields":[""" +
      """{"name":"status","type":"int"},""" +
      """{"name":"data_file","type":{"type":"record","name":"data_file","fields":[""" +
      """{"name":"content","type":"int"},""" +
      """{"name":"file_path","type":"string"},""" +
      """{"name":"file_format","type":"string"},""" +
      """{"name":"record_count","type":"long"},""" +
      """{"name":"file_size_in_bytes","type":"long"}]}}]}"""

  private val PosDeleteSchema: String =
    """{"type":"record","name":"positional_delete","fields":[""" +
      """{"name":"file_path","type":"string"},""" +
      """{"name":"pos","type":"long"}]}"""

  private def manifestPathOf2(id: Long, m: Int): String = s"metadata/manifest2-$m.avro"
  private def deleteManifestPathOf2(id: Long): String = "metadata/manifest2-del.avro"
  private def deleteFilePathOf2(id: Long): String = "data/deletes-0.avro"
  private def manifestListPathOf2(id: Long): String =
    s"metadata/snap-${snapshotIdOf2(id)}.avro"

  /** Delete rows target EVERY manifest entry (active or DELETED — the
    * latter exercising the dangling arm) plus a ghost path that never
    * existed.
    */
  private[ext] def deleteRows2(id: Long): Seq[(String, Long)] = {
    val rows = Vector.newBuilder[(String, Long)]
    for (m <- 0 until nManifests2(id); j <- 0 until nEntries2(id, m);
         i <- 0 until nDeletes2(id, m, j))
      rows += ((dataPathOf2(m, j), deletePos2(id, i)))
    rows += (("data/ghost.parquet", 0L))
    rows.result()
  }

  private[ext] def renderManifest2(id: Long, m: Int): Array[Byte] =
    avroContainer(ManifestSchemaV2,
      java.security.MessageDigest.getInstance("MD5").digest(s"icev2-m:$id:$m".getBytes("UTF-8")),
      (0 until nEntries2(id, m)).map { j => (out: java.io.ByteArrayOutputStream) =>
        Avro.writeVarLong(out, statusOf2(id, m, j).toLong)
        Avro.writeVarLong(out, 0L) // data_file.content = DATA
        wstr(out, dataPathOf2(m, j))
        wstr(out, "PARQUET")
        Avro.writeVarLong(out, recordsOf2(id, m, j))
        Avro.writeVarLong(out, bytesOf2(id, m, j))
      })

  private[ext] def renderDeleteManifest2(id: Long,
      countOverride: Option[Long] = None): Array[Byte] = {
    val n = countOverride.getOrElse(deleteRows2(id).length.toLong)
    avroContainer(ManifestSchemaV2,
      java.security.MessageDigest.getInstance("MD5").digest(s"icev2-dm:$id".getBytes("UTF-8")),
      Seq { (out: java.io.ByteArrayOutputStream) =>
        Avro.writeVarLong(out, 1L) // status ADDED
        Avro.writeVarLong(out, 1L) // data_file.content = POSITION_DELETES
        wstr(out, deleteFilePathOf2(id))
        wstr(out, "AVRO")
        Avro.writeVarLong(out, n)
        Avro.writeVarLong(out, 2048L + n * 24L)
      })
  }

  private[ext] def renderDeleteFile2(id: Long,
      rowsOverride: Option[Seq[(String, Long)]] = None): Array[Byte] =
    avroContainer(PosDeleteSchema,
      java.security.MessageDigest.getInstance("MD5").digest(s"icev2-df:$id".getBytes("UTF-8")),
      rowsOverride.getOrElse(deleteRows2(id)).map { case (p, pos) => (out: java.io.ByteArrayOutputStream) =>
        wstr(out, p)
        Avro.writeVarLong(out, pos)
      })

  /** The (path, length, content) triples come in precomputed so each
    * manifest renders ONCE per encode (review finding: the length
    * fields re-rendered every container). Shared by the v2-position and
    * equality fixtures.
    */
  private def renderManifestListGen(seed: String, snapshotId: Long,
      entries: Seq[(String, Int, Long)]): Array[Byte] =
    avroContainer(ManifestListSchemaV2,
      java.security.MessageDigest.getInstance("MD5").digest(seed.getBytes("UTF-8")),
      entries.map { case (path, len, content) => (out: java.io.ByteArrayOutputStream) =>
        wstr(out, path)
        Avro.writeVarLong(out, len.toLong)
        Avro.writeVarLong(out, content)
        Avro.writeVarLong(out, snapshotId)
      })

  private[ext] def renderManifestList2(id: Long, dataLens: Seq[Int], delLen: Int): Array[Byte] =
    renderManifestListGen(s"icev2-l:$id", snapshotIdOf2(id),
      dataLens.zipWithIndex.map { case (len, m) => (manifestPathOf2(id, m), len, 0L) } :+
        ((deleteManifestPathOf2(id), delLen, 1L)))

  private[ext] def renderMetadataJson2(id: Long): String = {
    val cur = snapshotIdOf2(id)
    s"""{"format-version":2,"table-uuid":"0002-${md5Hex(s"icev2:$id").take(8)}",""" +
      s""""location":"s3://lake/tblv2-$id","last-updated-ms":${1710000000000L + id},""" +
      s""""current-snapshot-id":$cur,"snapshots":[""" +
      s"""{"snapshot-id":$cur,"manifest-list":"${manifestListPathOf2(id)}","timestamp-ms":2}]}"""
  }

  /** Fixture writer: one merge-on-read v2 table per document row. */
  def encodeIcebergV2(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs, idCol)
      .flatMap { id =>
        val manifests = (0 until nManifests2(id)).map(m => renderManifest2(id, m))
        val delManifest = renderDeleteManifest2(id)
        Seq(
          (id, "metadata/v1.metadata.json",
            renderMetadataJson2(id).getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          (id, manifestListPathOf2(id),
            renderManifestList2(id, manifests.map(_.length), delManifest.length)),
          (id, deleteManifestPathOf2(id), delManifest),
          (id, deleteFilePathOf2(id), renderDeleteFile2(id))) ++
          manifests.zipWithIndex.map { case (b, m) => (id, manifestPathOf2(id, m), b) }
      }
      .toDF("doc_id", "path", "content")
  }

  final case class IcebergV2File(
    doc_id: Long, file_path: String, record_count: Long, live_rows: Long, deleted_rows: Long)

  /** Walk one v2 table: data manifests minus position-delete files. */
  private[ext] def walkTableV2(id: Long, files: Seq[(String, Array[Byte])]): Seq[IcebergV2File] = {
    val byPath = files.toMap
    if (byPath.size != files.length) fail()
    val metaCandidates = files.collect {
      case (p, b) if p.endsWith(".metadata.json") => (p, b)
    }
    if (metaCandidates.length != 1) fail() // the v2 fixture ships exactly one
    val meta = new DeltaLog.JParser(new String(metaCandidates.head._2,
      java.nio.charset.StandardCharsets.UTF_8)).parseRoot() match {
      case o: DeltaLog.JObj => o
      case _ => fail()
    }
    meta.map.get("format-version") match {
      case Some(DeltaLog.JNum(v)) => if (v != 2) fail() // row-level deletes ARE v2
      case _ => fail()
    }
    val current = meta.map.get("current-snapshot-id") match {
      case Some(DeltaLog.JNum(v)) => v
      case _ => fail()
    }
    val manifestList = (meta.map.get("snapshots") match {
      case Some(DeltaLog.JArr(items)) => items.collectFirst {
        case o: DeltaLog.JObj if o.map.get("snapshot-id").contains(DeltaLog.JNum(current)) =>
          o.map.get("manifest-list") match { case Some(DeltaLog.JStr(v)) => v; case _ => fail() }
      }
      case _ => fail()
    }).getOrElse(fail())
    val mlRows = Avro.demuxGeneric(id, byPath.getOrElse(manifestList, fail()), 1 << 26)
    val manifests = mlRows.groupBy(_.rec_idx).toSeq.sortBy(_._1).map { case (_, rows) =>
      val by = rows.map(r => r.path -> r).toMap
      val p = by.get("manifest_path").flatMap(_.s_val).getOrElse(fail())
      val content = by.get("content").flatMap(_.i_val).getOrElse(fail())
      if (content < 0 || content > 1) fail()
      (p, content)
    }
    if (manifests.map(_._1).distinct.length != manifests.length) fail()
    def manifestEntries(mPath: String, wantContent: Long): Seq[(String, Long, Long)] = {
      val rows = Avro.demuxGeneric(id, byPath.getOrElse(mPath, fail()), 1 << 26)
      rows.groupBy(_.rec_idx).toSeq.sortBy(_._1).flatMap { case (_, entry) =>
        val by = entry.map(r => r.path -> r).toMap
        val status = by.get("status").flatMap(_.i_val).getOrElse(fail())
        if (status < 0 || status > 2) fail()
        val fileContent = by.get("data_file.content").flatMap(_.i_val).getOrElse(fail())
        if (fileContent != wantContent) fail() // a delete file in a data manifest is damage
        if (status == 2) None
        else Some((
          by.get("data_file.file_path").flatMap(_.s_val).getOrElse(fail()),
          by.get("data_file.record_count").flatMap(_.i_val).getOrElse(fail()),
          by.get("data_file.file_size_in_bytes").flatMap(_.i_val).getOrElse(fail())))
      }
    }
    val dataFiles = manifests.filter(_._2 == 0L).flatMap(m => manifestEntries(m._1, 0L))
    if (dataFiles.map(_._1).distinct.length != dataFiles.length) fail()
    val deleteFiles = manifests.filter(_._2 == 1L).flatMap(m => manifestEntries(m._1, 1L))
    // positions per data file, DEDUPED — duplicate delete rows count once
    val positions = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashSet[Long]]
    deleteFiles.foreach { case (dfPath, declaredRows, _) =>
      val rows = Avro.demuxGeneric(id, byPath.getOrElse(dfPath, fail()), 1 << 26)
      val recs = rows.groupBy(_.rec_idx).toSeq.sortBy(_._1)
      if (recs.length.toLong != declaredRows) fail() // manifest count must match
      recs.foreach { case (_, r) =>
        val by = r.map(x => x.path -> x).toMap
        val p = by.get("file_path").flatMap(_.s_val).getOrElse(fail())
        val pos = by.get("pos").flatMap(_.i_val).getOrElse(fail())
        if (pos < 0) fail()
        positions.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += pos
      }
    }
    dataFiles.map { case (p, recs, _) =>
      val dels = positions.get(p).map(_.count(_ < recs).toLong).getOrElse(0L)
      // a position AT or past the file's record count is structural damage
      if (positions.get(p).exists(_.exists(_ >= recs))) fail()
      IcebergV2File(id, p, recs, recs - dels, dels)
    }
  }

  private[ext] def walkTableV2Safe(id: Long, files: Seq[(String, Array[Byte])]): Seq[IcebergV2File] =
    try walkTableV2(id, files)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  // =================== v2 EQUALITY deletes + sequence numbers ===================
  // The second v2 delete mechanism: equality delete files carry COLUMN
  // VALUES (here the partition column `lang`), and the spec's sequence-
  // number rules decide applicability — a POSITION delete applies to a
  // data file with data sequence number <= the delete's; an EQUALITY
  // delete applies only STRICTLY BELOW its sequence number (a writer
  // cannot delete rows it has not seen). Data files at or above the
  // delete's sequence number survive — the fixture plants both arms.

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nibE(id: Long, i: Int): Int = {
    val m = md5Hex(s"iceeq:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  private[ext] def nManifestsE(id: Long): Int = armManifests(nibE(id, _))
  private[ext] def nEntriesE(id: Long, m: Int): Int = armEntries(nibE(id, _), m)
  private[ext] def statusOfE(id: Long, m: Int, j: Int): Int = armStatus(id, m, j)
  private[ext] def dataPathOfE(m: Int, j: Int): String = s"data/eq-$m-$j.parquet"
  private[ext] def recordsOfE(id: Long, m: Int, j: Int): Long = armRecords(nibE(id, _), m, j)
  private[ext] def bytesOfE(id: Long, m: Int, j: Int): Long = armBytes(nibE(id, _), m, j)
  private[ext] def langOfE(id: Long, m: Int, j: Int): String =
    words(nibE(id, 6 + (m + j) % 9) % 8)
  /** Data sequence numbers 1..4; the deletes sit at sequence 3. */
  private[ext] def seqOfE(id: Long, m: Int, j: Int): Long =
    1L + nibE(id, 7 + (2 * m + j) % 9) % 4
  private[ext] val DeleteSeqE = 3L
  private[ext] def nPosDeletesE(id: Long, m: Int, j: Int): Int = armDeletes(nibE(id, _), m, j)
  private[ext] def eqLangE(id: Long): String = words(nibE(id, 15) % 8)
  private[ext] def snapshotIdOfE(id: Long): Long = 9000000L + id

  private val ManifestSchemaEq: String =
    """{"type":"record","name":"manifest_entry","fields":[""" +
      """{"name":"status","type":"int"},""" +
      """{"name":"sequence_number","type":"long"},""" +
      """{"name":"data_file","type":{"type":"record","name":"data_file","fields":[""" +
      """{"name":"content","type":"int"},""" +
      """{"name":"file_path","type":"string"},""" +
      """{"name":"file_format","type":"string"},""" +
      """{"name":"partition","type":{"type":"record","name":"r102","fields":[""" +
      """{"name":"lang","type":"string"}]}},""" +
      """{"name":"record_count","type":"long"},""" +
      """{"name":"file_size_in_bytes","type":"long"},""" +
      """{"name":"equality_ids","type":{"type":"array","items":"int"}}]}}]}"""

  private val EqDeleteSchema: String =
    """{"type":"record","name":"equality_delete","fields":[""" +
      """{"name":"lang","type":"string"}]}"""

  private def manifestPathOfE(id: Long, m: Int): String = s"metadata/manifesteq-$m.avro"
  private def deleteManifestPathOfE(id: Long): String = "metadata/manifesteq-del.avro"
  private def posDeleteFilePathOfE(id: Long): String = "data/eq-posdel.avro"
  private def eqDeleteFilePathOfE(id: Long): String = "data/eq-eqdel.avro"
  private def manifestListPathOfE(id: Long): String =
    s"metadata/snap-${snapshotIdOfE(id)}.avro"

  private[ext] def posDeleteRowsE(id: Long): Seq[(String, Long)] = {
    val rows = Vector.newBuilder[(String, Long)]
    for (m <- 0 until nManifestsE(id); j <- 0 until nEntriesE(id, m);
         i <- 0 until nPosDeletesE(id, m, j))
      rows += ((dataPathOfE(m, j), 11L * i + id % 7))
    // a dangling row on every table: exercises the ignore arm AND keeps
    // the container non-empty when every per-file count lands on 0
    rows += (("data/eq-ghost.parquet", 0L))
    rows.result()
  }

  /** The eq-delete values: the live target plus one that matches nothing. */
  private[ext] def eqDeleteRowsE(id: Long): Seq[String] = Seq(eqLangE(id), "qq-none")

  private def writeEqEntry(out: java.io.ByteArrayOutputStream, status: Long, seq: Long,
      content: Long, path: String, lang: String, records: Long, bytes: Long,
      eqIds: Seq[Long]): Unit = {
    Avro.writeVarLong(out, status)
    Avro.writeVarLong(out, seq)
    Avro.writeVarLong(out, content)
    wstr(out, path)
    wstr(out, if (content == 0L) "PARQUET" else "AVRO")
    wstr(out, lang)
    Avro.writeVarLong(out, records)
    Avro.writeVarLong(out, bytes)
    if (eqIds.nonEmpty) {
      Avro.writeVarLong(out, eqIds.length.toLong)
      eqIds.foreach(Avro.writeVarLong(out, _))
    }
    Avro.writeVarLong(out, 0L) // array end
  }

  private[ext] def renderManifestE(id: Long, m: Int): Array[Byte] =
    avroContainer(ManifestSchemaEq,
      java.security.MessageDigest.getInstance("MD5").digest(s"iceeq-m:$id:$m".getBytes("UTF-8")),
      (0 until nEntriesE(id, m)).map { j => (out: java.io.ByteArrayOutputStream) =>
        writeEqEntry(out, statusOfE(id, m, j).toLong, seqOfE(id, m, j), 0L,
          dataPathOfE(m, j), langOfE(id, m, j), recordsOfE(id, m, j), bytesOfE(id, m, j), Nil)
      })

  private[ext] def renderDeleteManifestE(id: Long): Array[Byte] = {
    val nPos = posDeleteRowsE(id).length.toLong
    avroContainer(ManifestSchemaEq,
      java.security.MessageDigest.getInstance("MD5").digest(s"iceeq-dm:$id".getBytes("UTF-8")),
      Seq(
        { (out: java.io.ByteArrayOutputStream) =>
          writeEqEntry(out, 1L, DeleteSeqE, 1L, posDeleteFilePathOfE(id), "",
            nPos, 2048L + nPos * 24L, Nil)
        },
        { (out: java.io.ByteArrayOutputStream) =>
          writeEqEntry(out, 1L, DeleteSeqE, 2L, eqDeleteFilePathOfE(id), "",
            eqDeleteRowsE(id).length.toLong, 512L, Seq(100L)) // field id of `lang`
        }))
  }

  private[ext] def renderPosDeleteFileE(id: Long): Array[Byte] =
    avroContainer(PosDeleteSchema,
      java.security.MessageDigest.getInstance("MD5").digest(s"iceeq-pf:$id".getBytes("UTF-8")),
      posDeleteRowsE(id).map { case (p, pos) => (out: java.io.ByteArrayOutputStream) =>
        wstr(out, p)
        Avro.writeVarLong(out, pos)
      })

  private[ext] def renderEqDeleteFileE(id: Long): Array[Byte] =
    avroContainer(EqDeleteSchema,
      java.security.MessageDigest.getInstance("MD5").digest(s"iceeq-ef:$id".getBytes("UTF-8")),
      eqDeleteRowsE(id).map { lang => (out: java.io.ByteArrayOutputStream) =>
        wstr(out, lang)
      })

  private[ext] def renderMetadataJsonE(id: Long): String = {
    val cur = snapshotIdOfE(id)
    s"""{"format-version":2,"table-uuid":"0003-${md5Hex(s"iceeq:$id").take(8)}",""" +
      s""""location":"s3://lake/tbleq-$id","last-updated-ms":${1720000000000L + id},""" +
      s""""current-snapshot-id":$cur,"snapshots":[""" +
      s"""{"snapshot-id":$cur,"manifest-list":"${manifestListPathOfE(id)}","timestamp-ms":2}]}"""
  }

  /** Fixture writer: one equality+position merge-on-read table per doc. */
  def encodeIcebergEq(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    Stage.docIds(docs, idCol)
      .flatMap { id =>
        val manifests = (0 until nManifestsE(id)).map(m => renderManifestE(id, m))
        val delManifest = renderDeleteManifestE(id)
        Seq(
          (id, "metadata/v1.metadata.json",
            renderMetadataJsonE(id).getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          (id, manifestListPathOfE(id),
            renderManifestListGen(s"iceeq-l:$id", snapshotIdOfE(id),
              manifests.zipWithIndex.map { case (b, m) => (manifestPathOfE(id, m), b.length, 0L) } :+
                ((deleteManifestPathOfE(id), delManifest.length, 1L)))),
          (id, deleteManifestPathOfE(id), delManifest),
          (id, posDeleteFilePathOfE(id), renderPosDeleteFileE(id)),
          (id, eqDeleteFilePathOfE(id), renderEqDeleteFileE(id))) ++
          manifests.zipWithIndex.map { case (b, m) => (id, manifestPathOfE(id, m), b) }
      }
      .toDF("doc_id", "path", "content")
  }

  final case class IcebergEqFile(
    doc_id: Long, file_path: String, lang: String, seq: Long, record_count: Long,
    pos_deleted: Long, eq_deleted: Boolean, live_rows: Long)

  /** Walk one equality+position table with the sequence-number rules. */
  private[ext] def walkTableEq(id: Long, files: Seq[(String, Array[Byte])]): Seq[IcebergEqFile] = {
    val byPath = files.toMap
    if (byPath.size != files.length) fail()
    val metaCandidates = files.collect { case (p, b) if p.endsWith(".metadata.json") => (p, b) }
    if (metaCandidates.length != 1) fail()
    val meta = new DeltaLog.JParser(new String(metaCandidates.head._2,
      java.nio.charset.StandardCharsets.UTF_8)).parseRoot() match {
      case o: DeltaLog.JObj => o
      case _ => fail()
    }
    meta.map.get("format-version") match {
      case Some(DeltaLog.JNum(v)) => if (v != 2) fail()
      case _ => fail()
    }
    val current = meta.map.get("current-snapshot-id") match {
      case Some(DeltaLog.JNum(v)) => v
      case _ => fail()
    }
    val manifestList = (meta.map.get("snapshots") match {
      case Some(DeltaLog.JArr(items)) => items.collectFirst {
        case o: DeltaLog.JObj if o.map.get("snapshot-id").contains(DeltaLog.JNum(current)) =>
          o.map.get("manifest-list") match { case Some(DeltaLog.JStr(v)) => v; case _ => fail() }
      }
      case _ => fail()
    }).getOrElse(fail())
    val mlRows = Avro.demuxGeneric(id, byPath.getOrElse(manifestList, fail()), 1 << 26)
    val manifests = mlRows.groupBy(_.rec_idx).toSeq.sortBy(_._1).map { case (_, rows) =>
      val by = rows.map(r => r.path -> r).toMap
      val p = by.get("manifest_path").flatMap(_.s_val).getOrElse(fail())
      val content = by.get("content").flatMap(_.i_val).getOrElse(fail())
      if (content < 0 || content > 1) fail()
      (p, content)
    }
    if (manifests.map(_._1).distinct.length != manifests.length) fail()
    final case class Entry(status: Long, seq: Long, content: Long, path: String,
      lang: String, records: Long, eqIds: Int)
    def entriesOf(mPath: String): Seq[Entry] = {
      val rows = Avro.demuxGeneric(id, byPath.getOrElse(mPath, fail()), 1 << 26)
      rows.groupBy(_.rec_idx).toSeq.sortBy(_._1).map { case (_, entry) =>
        val by = entry.map(r => r.path -> r).toMap
        val status = by.get("status").flatMap(_.i_val).getOrElse(fail())
        if (status < 0 || status > 2) fail()
        val seq = by.get("sequence_number").flatMap(_.i_val).getOrElse(fail())
        if (seq < 0) fail()
        val eqIds = entry.count(_.path.startsWith("data_file.equality_ids["))
        Entry(status, seq,
          by.get("data_file.content").flatMap(_.i_val).getOrElse(fail()),
          by.get("data_file.file_path").flatMap(_.s_val).getOrElse(fail()),
          by.get("data_file.partition.lang").flatMap(_.s_val).getOrElse(fail()),
          by.get("data_file.record_count").flatMap(_.i_val).getOrElse(fail()),
          eqIds)
      }
    }
    val dataEntries = manifests.filter(_._2 == 0L).flatMap(m => entriesOf(m._1)).map { e =>
      if (e.content != 0L || e.eqIds != 0) fail() // a delete file in a data manifest
      e
    }.filter(_.status != 2L)
    if (dataEntries.map(_.path).distinct.length != dataEntries.length) fail()
    val deleteEntries = manifests.filter(_._2 == 1L).flatMap(m => entriesOf(m._1))
      .filter(_.status != 2L)
    // position deletes, per target path, with the delete's sequence number
    val posBySeq = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashSet[(Long, Long)]] // path -> (pos, delSeq)
    val eqDeletes = Vector.newBuilder[(String, Long)] // (lang value, delSeq)
    deleteEntries.foreach { e =>
      e.content match {
        case 1L =>
          if (e.eqIds != 0) fail() // position deletes carry no equality ids
          val rows = Avro.demuxGeneric(id, byPath.getOrElse(e.path, fail()), 1 << 26)
          val recs = rows.groupBy(_.rec_idx).toSeq.sortBy(_._1)
          if (recs.length.toLong != e.records) fail()
          recs.foreach { case (_, r) =>
            val by = r.map(x => x.path -> x).toMap
            val p = by.get("file_path").flatMap(_.s_val).getOrElse(fail())
            val pos = by.get("pos").flatMap(_.i_val).getOrElse(fail())
            if (pos < 0) fail()
            posBySeq.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty) += ((pos, e.seq))
          }
        case 2L =>
          if (e.eqIds == 0) fail() // equality deletes must name their fields
          val rows = Avro.demuxGeneric(id, byPath.getOrElse(e.path, fail()), 1 << 26)
          val recs = rows.groupBy(_.rec_idx).toSeq.sortBy(_._1)
          if (recs.length.toLong != e.records) fail()
          recs.foreach { case (_, r) =>
            val by = r.map(x => x.path -> x).toMap
            eqDeletes += ((by.get("lang").flatMap(_.s_val).getOrElse(fail()), e.seq))
          }
        case _ => fail() // content 0 in a delete manifest
      }
    }
    val eqs = eqDeletes.result()
    dataEntries.map { e =>
      // position deletes apply at dataSeq <= deleteSeq; dedup by position
      // out-of-range positions are structural damage REGARDLESS of the
      // sequence-number applicability filter (the v2 walker's contract)
      if (posBySeq.get(e.path).exists(_.exists(_._1 >= e.records))) fail()
      val positions = posBySeq.get(e.path).map(_.filter(_._2 >= e.seq).map(_._1))
        .getOrElse(Set.empty[Long])
      val posDel = positions.size.toLong
      // equality deletes apply STRICTLY below their sequence number
      val eqDead = eqs.exists { case (lang, dSeq) => lang == e.lang && e.seq < dSeq }
      IcebergEqFile(id, e.path, e.lang, e.seq, e.records, posDel, eqDead,
        if (eqDead) 0L else e.records - posDel)
    }
  }

  private[ext] def walkTableEqSafe(id: Long, files: Seq[(String, Array[Byte])]): Seq[IcebergEqFile] =
    try walkTableEq(id, files)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `iceberg_eq_state`: equality + position merge-on-read accounting
    * under the sequence-number rules. One shuffle, keyed by table.
    */
  def icebergEqState(listing: DataFrame, idCol: String = "doc_id",
      pathCol: String = "path", contentCol: String = "content"): Dataset[IcebergEqFile] = {
    val spark = listing.sparkSession
    import spark.implicits._
    listing
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(pathCol), col(contentCol))
      .as[(Long, String, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        walkTableEqSafe(id, it.map(r => (r._2, r._3)).toSeq)
      }
  }

  /** `iceberg_v2_state`: merge-on-read active-row accounting of every
    * v2 table. One shuffle, keyed by table.
    */
  def icebergV2State(listing: DataFrame, idCol: String = "doc_id",
      pathCol: String = "path", contentCol: String = "content"): Dataset[IcebergV2File] = {
    val spark = listing.sparkSession
    import spark.implicits._
    listing
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(pathCol), col(contentCol))
      .as[(Long, String, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroups { (id, it) =>
        walkTableV2Safe(id, it.map(r => (r._2, r._3)).toSeq)
      }
  }
}
