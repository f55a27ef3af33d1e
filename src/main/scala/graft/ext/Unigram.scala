package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** ======== Unigram-LM (SentencePiece-style) tokenizer training ========
  *
  * The EM-pruning counterpart to [[Bpe.trainMerges]]: instead of growing
  * a vocabulary by merges, unigram training SEEDS a large candidate
  * vocabulary from corpus substrings and then alternates segmentation
  * (E-step) with count re-estimation and pruning (M-step). This
  * implementation is the Viterbi-EM (hard-EM) variant in EXACT INTEGER
  * space, chosen so a relational oracle can replay every round bitwise:
  *
  *  - '''Normalization''': text splits on spaces into words; words chunk
  *    into runs of ≤ 8 codepoints (real corpora pre-tokenize similarly;
  *    the cap bounds the DP depth so the oracle can unroll it). All
  *    string positions are CODEPOINTS — Spark walks `codePoints()`,
  *    DuckDB's substr/length already count codepoints — so an astral
  *    emoji is one symbol on both engines.
  *  - '''Seed''' (round 0): every substring of length 1–4 of every
  *    distinct chunk, weighted by corpus chunk counts; vocabulary =
  *    ALL single codepoints (coverage guarantee: segmentation can never
  *    fail) plus the top-`seedK` multi-codepoint pieces by
  *    (score DESC, md5 ASC) — the repo's engine-neutral tie-break.
  *  - '''E-step''': per distinct chunk, a Viterbi DP over prefix
  *    lengths 0..8 maximizing Σ (score(piece) − B) with B = 10^12 —
  *    one integer objective that orders primarily by FEWEST TOKENS and
  *    secondarily by highest total score (valid while every score sum
  *    stays below B, asserted at train time). Backtracking picks, at
  *    each boundary, the SMALLEST piece length that achieves the DP
  *    value — a deterministic choice both engines express identically.
  *  - '''M-step''': piece counts from the chosen segmentations
  *    (weighted by chunk multiplicity) become next round's scores;
  *    singles always survive (with their new counts, possibly 0), the
  *    multi-piece set is pruned to a shrinking top-K. No floating
  *    renormalization: the argmax is invariant to the normalizing
  *    constant, so raw integer counts ARE the model.
  *
  * The real SentencePiece uses soft EM over all segmentations with
  * log-probabilities; the hard-EM/integer formulation here converges to
  * the same vocabulary shape on natural text (the standard Viterbi-EM
  * approximation) while staying bit-replayable — the same trade the
  * SARIMAX baseline documented for forecast numerics, made in the
  * OPPOSITE direction: here exactness wins because the oracle CAN
  * replay the whole loop relationally (SURVEY §8 precedent:
  * `suffix_array`, `bpe_train`, `host_pagerank`).
  *
  * No reference citation — `/root/reference/src/flinkarima.py` has no
  * tokenizer; north-star LLM-pipeline scope.
  *
  * 100 TB shape: the corpus collapses to DISTINCT chunks in one
  * shuffle; every round is one more hash aggregation over segment
  * emissions; the model (≤ a few hundred pieces) broadcasts as a
  * closure constant; the Viterbi DP is map-side O(8·4) per distinct
  * chunk. At trillion-token scale the chunk table itself gets the
  * Misra–Gries cap (`vocab_heavy_hitters` precedent) before training —
  * documented, not silently assumed.
  */
object Unigram {

  /** Viterbi bias: one integer objective `Σ (score − B)` orders by
    * fewest-tokens-first while scores stay below B. Train asserts the
    * corpus mass honors this.
    */
  val B: Long = 1000000000000L

  val MaxPiece = 4
  val MaxChunk = 8

  final case class VocabPiece(rank: Long, piece: String, score: Long)

  // ------------------------------------------------------- string utils

  private def cps(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0; var k = 0
    while (i < s.length) {
      val c = s.codePointAt(i)
      out(k) = c; k += 1
      i += Character.charCount(c)
    }
    out
  }

  private def cpStr(a: Array[Int], from: Int, len: Int): String = new String(a, from, len)

  private[ext] def chunksOf(word: String): Seq[String] = {
    val a = cps(word)
    if (a.isEmpty) Seq.empty
    else a.grouped(MaxChunk).map(g => new String(g, 0, g.length)).toSeq
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  // ---------------------------------------------------------- Viterbi

  /** Optimal segmentation of one chunk under the integer objective:
    * maximize Σ (score − B) ⇒ fewest pieces, then highest score sum.
    * Backtrack picks the smallest piece length achieving the DP value
    * at each boundary. Singles coverage makes failure impossible for
    * chunks whose codepoints appeared in training.
    */
  private[ext] def viterbi(chunk: String, vocab: scala.collection.Map[String, Long]): Seq[String] = {
    val a = cps(chunk)
    val n = a.length
    if (n == 0) return Seq.empty
    val dp = Array.fill(n + 1)(Long.MinValue)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= math.min(MaxPiece, i)) {
        if (dp(i - j) != Long.MinValue) {
          vocab.get(cpStr(a, i - j, j)) match {
            case Some(s) =>
              val cand = dp(i - j) + s - B
              if (cand > dp(i)) dp(i) = cand
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    if (dp(n) == Long.MinValue) return Seq(chunk) // uncovered codepoint: opaque fallback
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      var j = 1
      var chosen = -1
      while (chosen < 0 && j <= math.min(MaxPiece, pos)) {
        if (dp(pos - j) != Long.MinValue) {
          vocab.get(cpStr(a, pos - j, j)) match {
            case Some(s) if dp(pos - j) + s - B == dp(pos) => chosen = j
            case _ =>
          }
        }
        j += 1
      }
      // chosen is always found: dp(pos) was produced by some (j, piece)
      rev += cpStr(a, pos - chosen, chosen)
      pos -= chosen
    }
    out ++= rev.reverse
    out.result()
  }

  // ------------------------------------------------------------- train

  /** Distinct-chunk corpus view: one shuffle. */
  private def chunkCounts(docs: DataFrame, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("doc_id").isNotNull && col("doc_id") >= 0 && col(textCol).isNotNull)
      .select(col(textCol)).as[String]
      .flatMap(t => t.split(' ').iterator.filter(_.nonEmpty).flatMap(chunksOf))
      .toDF("w")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
  }

  /** Train the unigram vocabulary: seed → `rounds` Viterbi-EM rounds →
    * final top-`outK` table (rank, piece, score). `pruneKs` gives the
    * multi-piece cap per round (shrinking, SentencePiece-style).
    */
  def train(docs: DataFrame, rounds: Int = 2, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 40), outK: Int = 32,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(pruneKs.length >= rounds, "one prune cap per round")
    val chunks = chunkCounts(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the fewest-tokens-first ordering needs every score sum < B
    val mass = chunks.select(coalesce(sum(length(col("w")) * col("cnt")), lit(0L))).as[Long].first()
    require(mass * MaxPiece < B, s"corpus mass $mass breaks the Viterbi bias — pre-cap chunks")
    // ---- seed: all substrings of length 1..4, weighted
    val seed = chunks.as[(String, Long)]
      .flatMap { case (w, cnt) =>
        val a = cps(w)
        for {
          l <- 1 to math.min(MaxPiece, a.length)
          i <- 0 to a.length - l
        } yield (cpStr(a, i, l), cnt)
      }
      .toDF("p", "c")
      .groupBy("p").agg(sum(col("c")).as("s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val singles: Array[(String, Long)] = seed
      .filter(length(col("p")) === 1)
      .as[(String, Long)].collect()
    var multi: Array[(String, Long)] = seed
      .filter(length(col("p")) >= 2)
      .orderBy(col("s").desc, md5(col("p").cast("binary")).asc)
      .limit(seedK)
      .as[(String, Long)].collect()
    seed.unpersist()
    var singleScores: Map[String, Long] = singles.map { case (p, s) => p -> s }.toMap
    // ---- EM rounds
    var r = 0
    while (r < rounds) {
      val vocab: Map[String, Long] = singleScores ++ multi
      val counts: Map[String, Long] = chunks.as[(String, Long)]
        .flatMap { case (w, cnt) => viterbi(w, vocab).map(p => (p, cnt)) }
        .toDF("p", "c")
        .groupBy("p").agg(sum(col("c")).as("s"))
        .as[(String, Long)].collect().toMap
      singleScores = singleScores.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
      multi = multi
        .map { case (p, _) => (p, counts.getOrElse(p, 0L)) }
        .sortBy { case (p, s) => (-s, md5hex(p)) }
        .take(pruneKs(r))
      r += 1
    }
    chunks.unpersist()
    val fin = (singleScores.toArray ++ multi)
      .sortBy { case (p, s) => (-s, md5hex(p)) }
      .take(outK)
      .zipWithIndex
      .map { case ((p, s), i) => VocabPiece((i + 1).toLong, p, s) }
    spark.createDataset(fin.toSeq).toDF()
  }

  /** The final trained vocabulary as a plain map (for the apply op). */
  def trainVocab(docs: DataFrame, rounds: Int = 2, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 40), textCol: String = "text"): Map[String, Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // full (un-truncated) vocabulary: rerun train's loop with outK = all
    val all = train(docs, rounds, seedK, pruneKs, outK = Int.MaxValue, textCol)
      .select(col("piece"), col("score")).as[(String, Long)].collect()
    all.toMap
  }

  // ------------------------------------------------------------- apply

  final case class UnigramStats(doc_id: Long, n_chunks: Long, n_tokens: Long)

  /** Apply the trained vocabulary: per document, chunk count and total
    * Viterbi token count. Train-then-apply end-to-end, so the gate
    * covers both halves; the model broadcasts as a closure constant.
    */
  def tokenStats(docs: DataFrame, rounds: Int = 2, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 40), textCol: String = "text"): Dataset[UnigramStats] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = trainVocab(docs, rounds, seedK, pruneKs, textCol)
    Stage.docTexts(docs, "doc_id", textCol).filter(col(textCol).isNotNull)
      .map { case (id, t) =>
        val cs = t.split(' ').iterator.filter(_.nonEmpty).flatMap(chunksOf).toSeq
        val nTok = cs.iterator.map(c => viterbi(c, vocab).length.toLong).sum
        UnigramStats(id, cs.length.toLong, nTok)
      }
  }

  /** Segment a text with a trained vocabulary (pipeline composition). */
  def segment(text: String, vocab: scala.collection.Map[String, Long]): Seq[String] =
    text.split(' ').iterator.filter(_.nonEmpty).flatMap(chunksOf)
      .flatMap(c => viterbi(c, vocab)).toSeq

  // ------------------------------------------------------------ oracle

  /** Shared SQL fragments: the chunk table and the seed vocabulary. */
  private def baseSql(textCol: String, seedK: Int): String = {
    val subUnions = (1 to MaxPiece).map { l =>
      s"""SELECT cnt, unnest(list_transform(range(length(w) - $l + 1),
         |    i -> substr(w, CAST(i + 1 AS INT), $l))) AS p
         |  FROM chunks WHERE length(w) >= $l""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""d AS (SELECT $textCol AS t FROM documents
       |      WHERE doc_id IS NOT NULL AND doc_id >= 0 AND $textCol IS NOT NULL),
       |words AS (SELECT w0 FROM (SELECT unnest(string_split(t, ' ')) AS w0 FROM d)
       |          WHERE length(w0) > 0),
       |chunks0 AS (SELECT unnest(list_transform(range((length(w0) + ${MaxChunk - 1}) // $MaxChunk),
       |    k -> substr(w0, CAST($MaxChunk * k + 1 AS INT), $MaxChunk))) AS w FROM words),
       |chunks AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM chunks0 GROUP BY w),
       |seed AS MATERIALIZED (SELECT p, sum(cnt)::BIGINT AS s FROM (
       |  $subUnions
       |) GROUP BY p),
       |v0 AS MATERIALIZED (
       |  SELECT p, s FROM seed WHERE length(p) = 1
       |  UNION ALL
       |  SELECT p, s FROM (SELECT p, s FROM seed WHERE length(p) >= 2
       |                    ORDER BY s DESC, md5(p) ASC LIMIT $seedK))""".stripMargin
  }

  /** One EM round as chained CTEs: 8 forward DP stages, the pooled DP
    * table, 8 backtrack stages (min-j tie-break), counts, and the
    * pruned next vocabulary.
    */
  private def roundSql(r: Int, pruneK: Int): String = {
    val prev = s"v${r - 1}"
    val dpStages = (1 to MaxChunk).map { i =>
      val arms = (1 to math.min(MaxPiece, i)).map { j =>
        s"""SELECT c.w, d.v + vo.s - $B AS val
           |      FROM chunks c
           |      JOIN dp${i - j}_$r d ON d.w = c.w
           |      JOIN $prev vo ON vo.p = substr(c.w, ${i - j + 1}, $j)
           |      WHERE length(c.w) >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""dp${i}_$r AS MATERIALIZED (SELECT w, max(val)::BIGINT AS v FROM (
         |      $arms
         |    ) GROUP BY w)""".stripMargin
    }.mkString(",\n")
    val dpAllArms = (1 to MaxChunk)
      .map(i => s"SELECT w, $i AS i, v FROM dp${i}_$r").mkString("\n  UNION ALL\n")
    val btStages = (1 to MaxChunk).map { k =>
      val jArms = (1 to MaxPiece).map { j =>
        s"""SELECT b.w, b.cnt, b.pos, $j AS j
           |      FROM bt${k - 1}_$r b
           |      JOIN dpall_$r dprev ON dprev.w = b.w AND dprev.i = b.pos - $j
           |      JOIN dpall_$r dcur ON dcur.w = b.w AND dcur.i = b.pos
           |      JOIN $prev vo ON vo.p = substr(b.w, b.pos - $j + 1, $j)
           |      WHERE b.pos >= $j AND dprev.v + vo.s - $B = dcur.v""".stripMargin
      }.mkString("\n      UNION ALL\n")
      s"""bt${k}_$r AS MATERIALIZED (
         |    SELECT w, cnt, pos - j AS pos, substr(w, pos - j + 1, CAST(j AS INT)) AS piece
         |    FROM (SELECT w, cnt, pos, min(j) AS j FROM (
         |      $jArms
         |    ) GROUP BY w, cnt, pos))""".stripMargin
    }.mkString(",\n")
    val usedArms = (1 to MaxChunk)
      .map(k => s"SELECT piece AS p, cnt FROM bt${k}_$r").mkString("\n  UNION ALL\n")
    s"""dp0_$r AS (SELECT w, 0::BIGINT AS v FROM chunks),
       |$dpStages,
       |dpall_$r AS MATERIALIZED (
       |  SELECT w, 0 AS i, 0::BIGINT AS v FROM chunks
       |  UNION ALL
       |  $dpAllArms),
       |bt0_$r AS (SELECT w, cnt, length(w) AS pos FROM chunks),
       |$btStages,
       |counts_$r AS MATERIALIZED (SELECT p, sum(cnt)::BIGINT AS s FROM (
       |  $usedArms
       |) GROUP BY p),
       |v$r AS MATERIALIZED (
       |  SELECT vo.p, coalesce(c.s, 0)::BIGINT AS s
       |  FROM $prev vo LEFT JOIN counts_$r c ON c.p = vo.p WHERE length(vo.p) = 1
       |  UNION ALL
       |  SELECT p, s FROM (
       |    SELECT vo.p, coalesce(c.s, 0)::BIGINT AS s
       |    FROM $prev vo LEFT JOIN counts_$r c ON c.p = vo.p WHERE length(vo.p) >= 2
       |    ORDER BY s DESC, md5(vo.p) ASC LIMIT $pruneK))""".stripMargin
  }

  /** Full relational replay of [[train]]. */
  private[graft] def oracleTrainSql(textCol: String, rounds: Int = 2, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 40), outK: Int = 32): String = {
    val roundsSql = (1 to rounds).map(r => roundSql(r, pruneKs(r - 1))).mkString(",\n")
    s"""WITH ${baseSql(textCol, seedK)},
       |$roundsSql
       |SELECT row_number() OVER (ORDER BY s DESC, md5(p) ASC) AS rank, p AS piece, s AS score
       |FROM v$rounds ORDER BY s DESC, md5(p) ASC LIMIT $outK""".stripMargin
  }

  /** Relational replay of [[tokenStats]]: rerun the training chain,
    * then per document recover each chunk's token count from the final
    * DP value — `ntok = (B − 1 − v_final) // B + 1` is exact integer
    * arithmetic because `v = Σscore − ntok·B` with `0 ≤ Σscore < B`.
    */
  private[graft] def oracleTokensSql(textCol: String, rounds: Int = 2, seedK: Int = 64,
      pruneKs: Seq[Int] = Seq(48, 40)): String = {
    val roundsSql = (1 to rounds).map(r => roundSql(r, pruneKs(r - 1))).mkString(",\n")
    // one more DP under the FINAL vocabulary (round index rounds+1)
    val applyDp = roundSql(rounds + 1, 1) // only its dp CTEs are used below
    s"""WITH ${baseSql(textCol, seedK)},
       |$roundsSql,
       |$applyDp,
       |docchunks AS (SELECT doc_id, unnest(list_transform(range((length(w0) + ${MaxChunk - 1}) // $MaxChunk),
       |    k -> substr(w0, CAST($MaxChunk * k + 1 AS INT), $MaxChunk))) AS w
       |  FROM (SELECT doc_id, unnest(string_split($textCol, ' ')) AS w0 FROM documents
       |        WHERE doc_id IS NOT NULL AND doc_id >= 0 AND $textCol IS NOT NULL)
       |  WHERE length(w0) > 0),
       |perchunk AS (SELECT dc.doc_id, dc.w,
       |    ((${B}::BIGINT - 1 - da.v) // ${B}::BIGINT) + 0 AS ntok
       |  FROM docchunks dc JOIN dpall_${rounds + 1} da ON da.w = dc.w AND da.i = length(dc.w)),
       |base AS (SELECT doc_id FROM documents
       |         WHERE doc_id IS NOT NULL AND doc_id >= 0 AND $textCol IS NOT NULL)
       |SELECT b.doc_id, coalesce(count(p.w), 0)::BIGINT AS n_chunks,
       |       coalesce(sum(p.ntok), 0)::BIGINT AS n_tokens
       |FROM base b LEFT JOIN perchunk p ON p.doc_id = b.doc_id
       |GROUP BY b.doc_id""".stripMargin
  }
}
