package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Jupyter notebook (.ipynb) ingestion — the code-training shelf.
  *
  * Notebooks are the dominant interchange form for data-science code and
  * a first-class source for code training corpora (alongside raw source
  * files): JSON documents (nbformat 4) whose `cells` array interleaves
  * `code` / `markdown` / `raw` cells, each with a `source` given as an
  * array of lines (every element keeps its trailing `\n` except the
  * last — the nbformat wire convention this module round-trips exactly).
  *
  * Deliberately Spark-FIRST where every other ingest family is
  * from-scratch: JSON is the one format the engine already ships a
  * codegen'd parser for, so the operator is `from_json` with an explicit
  * cell schema (schema projection drops `outputs`, per-cell `metadata`,
  * attachment blobs — the bulk of real notebook bytes — at parse time,
  * exactly what you want when the 100 TB corpus is notebooks with MB of
  * embedded images whose text is all you keep), `posexplode` over the
  * cells, `array_join` to reassemble per-cell text, and ONE typed map at
  * the end for the rolling checksum. A document that does not parse as
  * JSON, or parses to something other than nbformat 4 with a cells array,
  * quarantines (null-struct filter) — per-document, never job-wide.
  *
  * Fixture: [[encodeIpynb]] emits closed-form notebooks from
  * `md5("ipynb:" ++ id)` nibbles — 2-5 cells cycling the three types,
  * code cells carrying `execution_count` and an (ignored) `outputs`
  * array, line text with JSON-escape hazards (quote + backslash, a tab,
  * raw é vs `é` escape cycling by id parity — both decode to the
  * same codepoint, so a reader that fails to decode escapes breaks the
  * hash). The oracle replays cells, lines, text, and checksum in SQL.
  *
  * Scale shape: map-only (parse + explode are per-document, no shuffle);
  * `from_json` runs inside whole-stage codegen. No reference citation
  * possible — the reference (`src/flinkarima.py:379-416`) has no file
  * surface; north-star scope beside the Markdown/LaTeX authored-text
  * shelf.
  */
object Ipynb {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")
  private val cellTypes = Array("code", "markdown", "raw")
  private val langs = Array("python", "julia", "r", "scala")

  // ------------------------------------------------------------- fixture

  private[ext] def nCells(id: Long): Int = {
    val m = md5Hex(s"ipynb:$id")
    2 + Integer.parseInt(m.substring(0, 1), 16) % 4
  }

  private[ext] def nLines(id: Long, j: Int): Int = {
    val m = md5Hex(s"ipynb:$id")
    1 + Integer.parseInt(m.substring(1 + j, 2 + j), 16) % 3
  }

  private[ext] def cellType(id: Long, j: Int): String = cellTypes(((id + j) % 3).toInt)

  private[ext] def execCount(id: Long, j: Int): Option[Long] =
    if (cellType(id, j) == "code") Some(1L + (id + j) % 7) else None

  private[ext] def language(id: Long): String = {
    val m = md5Hex(s"ipynb:$id")
    langs(Integer.parseInt(m.substring(29, 30), 16) % 4)
  }

  private[ext] def lineText(id: Long, j: Int, l: Int): String = {
    val m = md5Hex(s"ipynb:$id")
    def nib(i: Int) = Integer.parseInt(m.substring(i - 1, i), 16)
    val w1 = words(nib(8 + 2 * j + l) % 8)
    val w2 = words(nib(20 + (2 * j + l) % 10) % 8)
    val hazard = ((id + j + l) % 4) match {
      case 0 => " \"q\\\"" // quote + backslash + quote: the escape arm
      case 1 => " \u00e9" // non-ASCII: raw UTF-8 or \\u escape by id parity
      case 2 => "\tx" // a control character
      case _ => ""
    }
    s"line $l of cell $j in doc $id: $w1 $w2$hazard"
  }

  private[ext] def cellText(id: Long, j: Int): String =
    (0 until nLines(id, j)).map(l => lineText(id, j, l)).mkString("\n")

  /** JSON string escaper; `escapeNonAscii` switches é between a raw UTF-8
    * byte pair and the `é` escape — both must decode identically.
    */
  private def jsonStr(s: String, escapeNonAscii: Boolean): String = {
    val sb = new StringBuilder(s.length + 8)
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c if c > 0x7e && escapeNonAscii => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
    sb.toString
  }

  private[ext] def renderIpynb(id: Long): String = {
    val esc = id % 2 == 1
    val cells = (0 until nCells(id)).map { j =>
      val n = nLines(id, j)
      // nbformat wire convention: every source element keeps its trailing
      // newline except the last
      val src = (0 until n).map { l =>
        val line = lineText(id, j, l) + (if (l < n - 1) "\n" else "")
        jsonStr(line, esc)
      }.mkString("[", ", ", "]")
      val ct = cellType(id, j)
      val extras = ct match {
        case "code" =>
          s""""execution_count": ${execCount(id, j).get}, "outputs": [], """
        case "markdown" => s""""metadata": {"id": "cell-$j"}, """
        case _ => ""
      }
      s"""{"cell_type": ${jsonStr(ct, esc)}, $extras"source": $src}"""
    }.mkString("[", ", ", "]")
    s"""{"nbformat": 4, "nbformat_minor": 5, "metadata": {"language_info": """ +
      s"""{"name": ${jsonStr(language(id), esc)}}}, "cells": $cells}"""
  }

  /** Fixture writer: one nbformat-4 notebook JSON per document row. */
  def encodeIpynb(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "nb_json")(renderIpynb)

  // ------------------------------------------------------------- operator

  final case class IpynbCell(
      doc_id: Long, language: String, cell_idx: Long, cell_type: String,
      exec_count: Option[Long], n_lines: Long, n_chars: Long, checksum: Long)

  private val NbSchema =
    "struct<nbformat: bigint, metadata: struct<language_info: struct<name: string>>, " +
      "cells: array<struct<cell_type: string, execution_count: bigint, source: array<string>>>>"

  /** `ipynb_cells`: one row per cell. `from_json` with the explicit cell
    * schema (outputs and attachments projected away at parse time),
    * `posexplode` over cells, `array_join` to reassemble the text, one
    * typed map for the checksum. Unparseable or non-v4 documents
    * quarantine via the null filter.
    */
  def ipynbCells(notebooks: DataFrame, idCol: String = "doc_id",
                 jsonCol: String = "nb_json"): Dataset[IpynbCell] = {
    val spark = notebooks.sparkSession
    import spark.implicits._
    notebooks
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        from_json(col(jsonCol),
          org.apache.spark.sql.types.DataType.fromDDL(NbSchema)).as("nb"))
      .filter(col("nb").isNotNull && col("nb.nbformat") === 4 && col("nb.cells").isNotNull)
      .select(col("doc_id"), col("nb.metadata.language_info.name").as("language"),
        posexplode(col("nb.cells")))
      // a cell without source or cell_type is non-conforming: quarantine
      // the row rather than NPE in the checksum map
      .filter(col("col.source").isNotNull && col("col.cell_type").isNotNull)
      .select(col("doc_id"), col("language"), col("pos").cast("long").as("cell_idx"),
        col("col.cell_type").as("cell_type"),
        col("col.execution_count").as("exec_count"),
        size(col("col.source")).cast("long").as("n_lines"),
        array_join(col("col.source"), "").as("text"))
      .as[(Long, String, Long, String, Option[Long], Long, String)]
      .map { case (id, lang, idx, ctype, ec, nl, text) =>
        val b = text.getBytes("UTF-8")
        var cs = 0L
        b.foreach(x => cs = (cs * 31 + (x & 0xff)) % 1000000007L)
        IpynbCell(id, lang, idx, ctype, ec, nl, b.length.toLong, cs)
      }
  }
}
