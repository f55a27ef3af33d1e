package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for large-scale training-data pipelines (north
  * star, SURVEY §7.6). Four families, in increasing scalability:
  *
  *  - [[exact]]: hash-groupBy on a content fingerprint — one shuffle on the
  *    16-byte digest, the 100 TB workhorse.
  *  - [[ngramJaccardPairs]]: exact n-gram Jaccard via inverted-index
  *    grouping — exact but quadratic in colliding docs; the correctness
  *    oracle for the sketch-based variants.
  *  - [[minhashLshPairs]]: MinHash signatures + banded LSH — candidate
  *    generation is linear in input + band collisions; the scale path.
  *  - [[simhashPairs]]: 64-bit SimHash + 16-bit-block LSH for near-identical
  *    text (small Hamming radius).
  *  - [[embeddingCosinePairs]]: embedding-cosine near-dup pairs (brute-force;
  *    see [[Similarity]] for the bucketed scale path).
  *
  * All are pure column-expression plans (no UDFs): whole-stage codegen end to
  * end, deterministic under any partitioning.
  */
object Dedup {

  /** Ordered within-group pairs from a keyed relation: group `payload` per
    * `key` and emit each pair (a < b, payload sort order) once per group —
    * output columns `__a`, `__b`.
    *
    * This replaces the row-level blocked self-join (`a JOIN b ON a.k = b.k
    * AND a.id < b.id`) everywhere a candidate-pair path blocks on a key
    * (grams, LSH bands, IVF cells, SimHash blocks). Measured win at sf0.1:
    * the join form shuffles the keyed relation once but READS the exchange
    * twice and pays per-key join machinery for m^2/2 output rows; the group
    * form reads the one exchange once and emits pairs with two generators —
    * no join. Semantics are identical: a group of m rows yields the same
    * m(m-1)/2 ordered pairs (null payloads cannot pair in either form —
    * `collect_list` skips them exactly where `a.id < b.id` rejects them;
    * null KEYS are excluded to match equi-join semantics), and per-key skew
    * lands on one task in both forms.
    *
    * One difference from the join IS load-bearing at scale: the join form
    * buffered a hot key's match group in a SPILLABLE row array, while
    * `collect_list` materializes the group as one in-memory aggregation
    * value. `maxGroup` is the guard: when set, groups larger than it are
    * DROPPED via a count + semi-join admission pass — result-affecting,
    * but only for degenerate blocks whose pair volume (m^2/2) could never
    * complete anyway. The admission pass costs a second aggregation over
    * the keyed relation (measured 15-60% on the pair queries), so the
    * default leaves it OFF and each call site chooses: paths with a
    * semantic hot-key guard upstream (`maxDf` gram capping) or naturally
    * bounded groups (sources per gram) skip it; the banded LSH / IVF-cell
    * paths, whose group sizes are otherwise unbounded, pass an explicit
    * cap sized so the worst-case group buffer stays in executor memory.
    * Fixture-scale groups never come near any cap, so the oracle gates
    * are unaffected.
    *
    * Capped call sites pass `observeTag`, which attaches a PUSH-based drop
    * counter to the admission filter: a `Dataset.observe` (CollectMetrics)
    * node named `graft.oversize.<tag>` reporting `dropped_rows` (rows in
    * over-cap groups) and `largest_dropped_group` — evaluated on the
    * window count the filter already computed, so it costs nothing extra
    * and stays inside codegen. The pull-based [[oversizeGroups]] queries
    * remain for key-level detail, but a production job that never runs
    * them still SEES a silent near-dup-family skip: observed metrics
    * surface in every QueryExecutionListener and the SQL UI of the job
    * that did the dropping. Names must be unique within one executed
    * plan (Spark rejects duplicate metric names at analysis), so each
    * operator's tag names its path; composing the SAME capped operator
    * twice in one query would need distinct tags.
    */
  private[ext] def orderedPairsWithinGroups(
      df: DataFrame, key: Column, payload: Column, maxGroup: Long = Long.MaxValue,
      distinctPayloads: Boolean = false, observeTag: String = null): DataFrame = {
    val keyed = df.filter(key.isNotNull).select(key.as("__k"), payload.as("__p"))
    val admitted =
      if (maxGroup == Long.MaxValue) keyed
      else {
        // window count, not a count + semi-join: the join form evaluates the
        // (often expensive) keyed lineage twice — once as the count build
        // side, once as the probe — while the window evaluates it once, and
        // its hashpartitioning(__k) exchange is reused by the groupBy below
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
        val counted = keyed.withColumn("__n", count(lit(1)).over(w))
        val watched =
          if (observeTag == null) counted
          else counted.observe(s"graft.oversize.$observeTag",
            sum(when(col("__n") > maxGroup, lit(1L)).otherwise(lit(0L))).as("dropped_rows"),
            max(when(col("__n") > maxGroup, col("__n"))).as("largest_dropped_group"))
        watched.filter(col("__n") <= maxGroup).drop("__n")
      }
    // distinctPayloads dedupes the collected group BEFORE pair emission —
    // for callers whose keyed relation can carry duplicate payload rows
    // per key (ngram grams from duplicate-id input rows), where a repeated
    // payload would otherwise emit the same pair twice and double-count
    // downstream aggregation evidence
    val grouped = admitted
      .groupBy(col("__k")).agg(sort_array(collect_list(col("__p"))).as("__xs0"))
      .select((if (distinctPayloads) array_distinct(col("__xs0")) else col("__xs0")).as("__xs"))
    grouped
      .select(posexplode(col("__xs")).as(Seq("__i", "__a")), col("__xs"))
      .select(col("__a"),
        explode(slice(col("__xs"), col("__i") + lit(2), size(col("__xs")) - col("__i") - lit(1))).as("__b"))
  }

  /** Diagnostic companion to [[orderedPairsWithinGroups]]' `maxGroup` cap:
    * the keys whose groups WOULD be dropped at `maxGroup`, with their
    * sizes. The cap itself pushes aggregate drop counts to every
    * QueryExecutionListener via its `graft.oversize.<tag>` observed
    * metrics; this pull-based query adds the KEY-level detail those
    * totals can't carry — which blocks, how big — for the monitoring job
    * that alerts when near-dup detection was skipped for a degenerate
    * family of documents.
    */
  def oversizeGroups(df: DataFrame, key: Column, maxGroup: Long): DataFrame =
    df.filter(key.isNotNull)
      .groupBy(key.as("group_key"))
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") > maxGroup)

  /** Exact dedup groups: fingerprint -> keeper id + duplicate count. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word-n-gram hashes per doc: (id, g: long).
    *
    * Design notes, each measured on sf0.1:
    *  - grams travel as 64-bit hashes, not ~20-byte strings — half the
    *    shuffle bytes, constant-time key compares (set semantics preserved
    *    up to xxhash64 collisions, ~|grams|^2 / 2^64 per doc pair);
    *  - hashing runs in the native [[graft.functions.NgramExpressions
    *    .NgramHashes]] kernel — one reused byte buffer per row, bitwise the
    *    longs of the previous `explode(transform(...)) |> xxhash64` chain
    *    but without the per-gram interpreted lambda dispatch and string
    *    allocation (HOFs don't participate in whole-stage codegen);
    *  - the distinct exchange also materializes the gram relation once,
    *    hash-partitioned with real stats, shared by every consumer (sizes,
    *    df counts, the pair grouping) — without it Catalyst size-estimates
    *    from the parquet scan and broadcasts a derived relation of
    *    unbounded true size (driver OOM at real scale).
    */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Stage.spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), tokens(col("__text")).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("id"), explode(ngramHashes(col("w"), n)).as("g"))
      .distinct()

  /** Exact n-gram Jaccard similarity for all pairs sharing at least one gram.
    * Output: id_a < id_b, jaccard >= threshold.
    *
    * `maxDf` caps the document frequency of grams admitted to the self-join:
    * one stop-gram shared by m docs yields m^2/2 join rows, so an uncapped
    * hot gram turns the join quadratic. Dropping grams with df > maxDf is the
    * standard guard (it only REMOVES intersection evidence, biasing jaccard
    * down for pairs that share only stop-grams — acceptable for near-dup
    * detection and mirrored by the oracle).
    *
    * DEGENERATE-INPUT CONTRACT: `idCol` is treated as a key. Duplicate-id
    * rows with IDENTICAL text collapse cleanly (the payload dedup below).
    * Duplicate-id rows with DIFFERENT text are ill-formed input — "the
    * grams of doc 7" is then not well defined — and the operator emits one
    * row per (id_a, id_b, sa, sb) STRATUM, i.e. a pair of ids can appear
    * once per distinct size combination of their conflicting variants,
    * each scored against its own variant's gram count. Callers with
    * genuinely multi-variant ids should dedup or re-key upstream
    * ([[exact]] is the tool); collapsing here (e.g. max-jaccard per id
    * pair) would cost a third shuffle on the hot path to paper over
    * broken input.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Long = 100000L): DataFrame = {
    // ONE scan, TWO shuffles, ZERO joins (round-7 shape; the previous form
    // scanned the gram relation per consumer and — the real 100 TB hazard —
    // broadcast the admitted-grams set, which is nearly ALL distinct grams
    // of the corpus, as a semi-join build side):
    //  - within-doc gram dedup is map-side (array_distinct on the hash
    //    array), so no (id, g) distinct exchange exists at all;
    //  - each doc's distinct-gram count rides along every exploded row
    //    (struct payload), so jaccard needs no size join back;
    //  - df capping is a window count on the single g-exchange, which the
    //    pair-group aggregate then reuses (the maxGroup admission pattern).
    // The df count runs BEFORE null ids drop out (they never pair but do
    // count toward df), mirroring the oracle's order of operations.
    // SPILL BOUND of the window form: counting a gram's df routes all its
    // rows to one window partition, so a hot stop-gram's rows are buffered
    // by a single task before the > maxDf filter discards them. The buffer
    // is WindowExec's spillable row array (disk past the 4096-row spill
    // threshold), so the failure mode is one straggler task, not an OOM —
    // accepted deliberately: the alternative (a partial-aggregated df
    // relation joined back) bounds the buffering at maxDf but cannot reuse
    // this exchange (the aggregate's exchange carries partial rows, not
    // the exploded relation), so it re-evaluates the gram lineage twice —
    // the exact double-scan the round-7 rewrite removed.
    //
    // Round 18: when the id is already a LONG (the declared-query shape),
    // the (id, sz, g) relation comes from the compiled per-doc
    // [[distinctGramHashes]] kernel — one typed flatMap with zero string
    // allocation, bitwise the `tokens -> ngramHashes -> array_distinct`
    // expression chain (DedupSpec pins kernel == expression on a hostile
    // fixture) but without the token-array materialization and
    // array_distinct passes per row. Non-long ids keep the expression
    // form: the kernel would have to cast (changing the output id type
    // and silently nulling non-numeric ids — the r17-advice hazard).
    val spark = docs.sparkSession
    import spark.implicits._
    val idIsLong = docs.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    val exploded =
      if (idIsLong)
        docs.select(col(idCol).as("id"), normText(col(textCol)).as("__t"))
          .as[(java.lang.Long, String)]
          .flatMap { case (id, t) =>
            val gs = distinctGramHashes(t, n)
            gs.iterator.map(g => (id, gs.length.toLong, java.lang.Long.valueOf(g)))
          }
          .toDF("id", "sz", "g")
      else docs
        .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
        .filter(size(col("w")) >= n)
        .select(col("id"), array_distinct(ngramHashes(col("w"), n)).as("gs"))
        .select(col("id"), size(col("gs")).as("sz"), explode(col("gs")).as("g"))
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val admitted = exploded
      .withColumn("__df", count(lit(1)).over(byGram))
      .filter(col("__df") <= maxDf && col("id").isNotNull)
      .select(col("g"), struct(col("id"), col("sz")).as("p"))
    val jac = col("i").cast("double") / (col("sa") + col("sb") - col("i"))
    // distinctPayloads: duplicate doc_id input rows explode to duplicate
    // (id, sz) payloads per gram group; without the dedup each such pair
    // would be emitted once per duplicate, inflating the intersection
    // count i past the true gram overlap (up to jaccard = i/0 = Infinity)
    orderedPairsWithinGroups(admitted, col("g"), col("p"), distinctPayloads = true)
      .select(col("__a.id").as("id_a"), col("__a.sz").as("sa"),
        col("__b.id").as("id_b"), col("__b.sz").as("sb"))
      // degenerate duplicate-id corpora: the struct sort guarantees
      // id_a <= id_b; the strict filter drops self-pairs exactly where the
      // oracle's a.doc_id < b.doc_id does
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "sa", "id_b", "sb")
      .agg(count(lit(1)).as("i"))
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Directed containment pairs from winnowed fingerprints — the
    * quote/superset detector exact-duplicate and Jaccard dedup both miss:
    * a document wholly CONTAINED in a larger one has low symmetric
    * Jaccard but containment(a ⊂ b) = |fp(a) ∩ fp(b)| / |fp(a)| ≈ 1.
    * Built on [[TextAnalysis.winnow]]'s (doc, fingerprint) relation —
    * the standard winnowing-containment construction (Schleimer et al.,
    * SIGMOD'03 §5, public algorithm), so the fingerprint subset already
    * has the winnow guarantee (every shared run ≥ w+k−1 chars leaves a
    * shared fingerprint).
    *
    * Output: unordered pairs `(id_a < id_b)` with the shared-fingerprint
    * count, both distinct-fingerprint set sizes, and BOTH directed
    * containments; pairs kept when either direction ≥ `threshold`.
    *
    * 100 TB shape (the [[ngramJaccardPairs]] round-7 topology): per-doc
    * fingerprint-set dedup is one doc-keyed aggregate over winnow's
    * already-doc-partitioned output (exchange reuse); each doc's set size
    * rides the exploded rows as struct payload, so containment needs NO
    * size join back; the df cap is a window count on the single
    * fingerprint exchange, which the pair aggregate reuses. Ultra-common
    * fingerprints past `maxDf` are excluded from the intersection only
    * (sizes keep them) — the documented df-capped-containment contract,
    * mirrored exactly by the oracle. The quadratic hazard (a boilerplate
    * fingerprint shared by millions of docs) is bounded by that cap —
    * and the cap must be a CONSTANT, not a corpus fraction: candidate
    * pairs are Σ df², so on a corpus whose fingerprint diversity grows
    * slower than its size (boilerplate-heavy crawls) any df cap that
    * scales with N reintroduces the N² cliff. 256 is the production
    * default (a fingerprint on >256 documents is boilerplate by any
    * measure, and counting it toward containment only manufactures
    * false quote pairs — measured on the fixture corpus: cap 10⁵ yields
    * 5 965 "containment" pairs at sf0.01, all boilerplate artifacts;
    * cap 256 keeps the 25 genuinely-shared-content pairs).
    */
  def containmentPairs(
      docs: DataFrame,
      threshold: Double = 0.5,
      k: Int = 5,
      w: Int = 4,
      maxDf: Long = 256L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // round 18: the exploded per-doc fp-set relation IS the kernel's
    // first-occurrence rows with their per-doc distinct count (sz) — the
    // former groupBy(doc_id).collect_set + explode round trip paid a full
    // exchange to regroup rows that were never split across docs
    val fpSets = TextAnalysis.winnowFlagged(docs, k, w, idCol, textCol)
      .filter(col("first"))
      .select(col("doc_id").as("id"), col("sz"), col("fp").as("f"))
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("f"))
    val admitted = fpSets
      .withColumn("__df", count(lit(1)).over(byFp))
      .filter(col("__df") <= maxDf)
      .select(col("f"), struct(col("id"), col("sz")).as("p"))
    orderedPairsWithinGroups(admitted, col("f"), col("p"))
      .select(col("__a.id").as("id_a"), col("__a.sz").as("sa"),
        col("__b.id").as("id_b"), col("__b.sz").as("sb"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "sa", "id_b", "sb")
      .agg(count(lit(1)).as("shared"))
      .select(col("id_a"), col("id_b"), col("shared"), col("sa"), col("sb"),
        (col("shared").cast("double") / col("sa").cast("double")).as("cont_a"),
        (col("shared").cast("double") / col("sb").cast("double")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
  }

  /** Duplicated-substring SPANS per document — localizes WHERE cross-doc
    * duplication sits inside each document, the span-level signal that
    * document-level dedup (exact / Jaccard / containment) cannot give: a
    * long original document that embeds one boilerplate paragraph keeps
    * its doc-level identity but should have that paragraph flagged (the
    * remove-duplicated-substrings construction of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL'22 —
    * public method; reimplemented here on winnowed fingerprints instead
    * of a monolithic suffix array so it distributes).
    *
    * Construction: [[TextAnalysis.winnow]]'s (doc, pos, fp) relation;
    * fingerprints seen in ≥ `minDocs` DISTINCT documents mark their
    * anchor positions as duplicated; per document, anchors within `gap`
    * positions of each other merge into maximal spans (gaps-and-islands:
    * a lag-compare breakpoint flag, a running sum for the island id, one
    * aggregate per island). Inside a true shared run winnow selects a
    * fingerprint at least every `w` positions, so `gap` defaults to
    * `w + k − 1` — consecutive anchors of one run can never split, while
    * runs separated by more than a gram of unique text stay distinct
    * spans. Span chars cover `[span_start, span_end]` (1-based, k-gram
    * end inclusive).
    *
    * 100 TB shape: winnow is one doc-partitioned window pass; the
    * distinct-doc count per fingerprint is one fp-keyed aggregate whose
    * output is ONE ROW PER FINGERPRINT (joining the ≥2-docs flag back is
    * a fp-partitioned sort-merge with no row explosion — unlike pair
    * enumeration, span marking never goes quadratic in df, so no
    * admission cap is needed); the islands window and the final island
    * aggregate both ride one doc_id exchange (hash-partitioning on
    * doc_id satisfies the (doc_id, island) clustering). Three linear
    * shuffles total, join-free except the flag equi-join.
    */
  def dupSpans(
      docs: DataFrame,
      k: Int = 5,
      w: Int = 4,
      minDocs: Long = 2L,
      gap: Int = 0, // <= 0 means auto: w + k - 1
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = if (gap > 0) gap else w + k - 1
    // round 18: the distinct-docs-per-fp count rides the kernel's per-doc
    // `first` flag (winnowFlagged) — one row per (doc, fp) with NO
    // (doc_id, fp) distinct exchange; the count aggregate is the only
    // exchange on the dupFp side
    val flagged = TextAnalysis.winnowFlagged(docs, k, w, idCol, textCol)
    val fps = flagged.select(col("doc_id"), col("pos"), col("fp"))
    val dupFp = flagged.filter(col("first"))
      .groupBy("fp").agg(count(lit(1)).as("dcnt"))
      .filter(col("dcnt") >= minDocs)
      .select("fp")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    fps.join(dupFp, Seq("fp"))
      .select(col("doc_id"), col("pos"))
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= g, lit(0L)).otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        count(lit(1)).as("anchors"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("anchors"))
  }

  /** The REMOVAL consumer [[dupSpans]] localizes for — the actual Lee et
    * al. deliverable: each document's duplicated spans are EXCISED and the
    * kept segments reassembled in order, yielding the cleaned corpus a
    * training pipeline feeds from (plus per-doc accounting: span count and
    * characters removed). Positions live in [[TextFunctions.normText]]
    * space, the same text the spans reference; islands are maximal and
    * disjoint by construction (consecutive spans sit > gap apart), so
    * reassembly is a single ordered fold — no overlap merging needed.
    *
    * 100 TB shape: [[dupSpans]]'s three linear shuffles, plus one doc_id
    * aggregate packing each doc's spans into a sorted array and one doc_id
    * equi-join back to the text — both ride the same hash partitioning;
    * the fold over each doc's span array is a scalar expression, no
    * per-span row explosion of the text.
    */
  def dupSpansRemove(
      docs: DataFrame,
      k: Int = 5,
      w: Int = 4,
      minDocs: Long = 2L,
      gap: Int = 0,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spans = dupSpans(docs, k, w, minDocs, gap, idCol, textCol)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("span_start"), col("span_end")))).as("spans"))
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), normText(col(textCol)).as("t"))
    base.join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        expr("CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)")))
      .select(col("doc_id"),
        size(col("spans")).cast("long").as("n_spans"),
        expr("aggregate(spans, 0L, (a, sp) -> a + sp.span_end - sp.span_start + 1)")
          .as("n_removed"),
        expr("""aggregate(spans,
          named_struct('acc', '', 'nxt', 1L),
          (s, sp) -> named_struct(
            'acc', concat(s.acc, substring(t, CAST(s.nxt AS INT), CAST(sp.span_start - s.nxt AS INT))),
            'nxt', sp.span_end + 1L),
          s -> concat(s.acc, substring(t, CAST(s.nxt AS INT), length(t) - CAST(s.nxt AS INT) + 1)))""")
          .as("clean_text"))
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo, "The
    * Merge/Purge Problem", SIGMOD 1995): rank records per language by
    * `(length, text, id)` and pair each record with its next `window`
    * neighbors in rank order. Candidate volume is window·N — LINEAR in
    * the corpus at ANY scale, unlike length-band blocking whose block
    * sizes (and therefore pair counts) grow with the corpus: measured
    * on the fixture, banded blocking ran 26.9× slower on 10× data (the
    * N² cliff the bench's scale_ratio gate exists to catch) while the
    * windowed form is 10× by construction. Near-identical records sort
    * adjacently (equal-prefix texts of equal length are rank
    * neighbors), which is the recall argument; records further than
    * `window` apart in sort order are missed — the documented SNM
    * recall trade, closed by the multi-pass variants
    * ([[editDistancePairsMultiPass]] adds the reversed-text pass,
    * [[editDistancePairsPhonetic]] the Soundex pass). The ASCII gate
    * rides on `t` (byte==
    * codepoint semantics, and byte-wise string ranking identical in
    * both engines). Payload columns ride the rank structs.
    *
    * The per-language rank is computed DISTRIBUTIVELY, not with a
    * `row_number() OVER (PARTITION BY lang ...)` window: a window
    * partitioned by language funnels each language through ONE task,
    * and a natural-language corpus is always language-skewed (the
    * fixture's `en` holds 41% of documents — at 100 TB that window is
    * a single task sorting ~40 TB). Instead [[snmRanked]] range-
    * partitions on the full sort key `(lang, length, text, id)` —
    * every partition holds a bounded contiguous slice of the global
    * order regardless of language skew — sorts within partitions, and
    * turns local ranks into exact global per-language ranks with a
    * partition-offset prefix sum (one tiny count-per-(partition,lang)
    * job whose driver state is #partitions × #languages rows). The
    * sort key is total (`id` is unique), so the ranks — and therefore
    * the emitted pairs — are bitwise identical to the window form at
    * any partition count.
    */
  private[ext] def snmCandidates(
      base: DataFrame, // columns: lang, id, t (+ payload columns)
      window: Int,
      payload: Seq[String]): DataFrame = {
    val cols = Seq("id", "t") ++ payload
    val ranked = snmRanked(base)
      .select(col("lang"), col("__rn"), struct(cols.map(col): _*).as("__a"))
    val probe = ranked.select(col("lang"),
      explode(sequence(col("__rn") + 1, col("__rn") + window)).as("__rn"),
      col("__a"))
    probe.join(ranked.withColumnRenamed("__a", "__b"), Seq("lang", "__rn"))
      .select(col("__a"), col("__b"))
  }

  /** [[snmCandidates]] emitting ORDERED ID PAIRS ONLY — `(id_a, id_b)`
    * with `id_a = least, id_b = greatest` — so the rank probe's ×window
    * row duplication and the (lang, rank) join shuffle carry a few bytes
    * of id per candidate instead of full texts (optimization guide §2.3:
    * shuffle keys, not payloads; the texts still ride the ONE range
    * exchange of the rank itself, where they are the sort key). The
    * edit-distance callers dedup these light pairs across passes and
    * join the texts back BY ID once per unique pair — at fixture scale
    * the text relation broadcasts, at cluster scale the planner picks a
    * shuffled join of two id-keyed linear relations; either way the
    * banded kernel runs exactly once per unique pair.
    */
  private[ext] def snmCandidateIdPairs(base: DataFrame, window: Int): DataFrame = {
    val ranked = snmRanked(base).select(col("lang"), col("__rn"), col("id"))
    val probe = ranked.select(col("lang"),
      explode(sequence(col("__rn") + 1, col("__rn") + window)).as("__rn"),
      col("id").as("__ida"))
    probe.join(ranked.withColumnRenamed("id", "__idb"), Seq("lang", "__rn"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"))
  }

  /** Exact per-language dense rank over `(length(t), t, id)` without a
    * single-task-per-language window — the two-pass partition-offset
    * scheme (the `zipWithIndex` construction, generalized to a grouped
    * rank):
    *
    *   1. `repartitionByRange` on `(lang, length, t, id)` +
    *      `sortWithinPartitions`: one range exchange; each partition is
    *      a bounded contiguous slice of the global sort order, so a
    *      language occupying 40% of the corpus spans ~40% of the
    *      PARTITIONS instead of landing in one task.
    *   2. A count job: per (partition, language) row counts — at most
    *      #partitions × #languages rows collected to the driver, from
    *      which exclusive per-language prefix offsets are computed.
    *   3. A map pass over the same sorted partitions: languages are
    *      contiguous within a sorted partition, so a running counter
    *      that resets at each language boundary gives the local rank;
    *      `offset(partition, lang) + local` is the exact global rank.
    *
    * Passes 2 and 3 re-read the SAME shuffle output (the range exchange
    * is materialized once; only the partition-local sort re-runs), and
    * the sort key is total, so both passes see one deterministic order.
    * Output: `base`'s columns plus `__rn` (long, 1-based per language)
    * — bitwise the window `row_number` ranking.
    */
  private[ext] def snmRanked(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = base.sparkSession
    val sorted = base.withColumn("__len", length(col("t")))
      .repartitionByRange(col("lang"), col("__len"), col("t"), col("id"))
      .sortWithinPartitions(col("lang"), col("__len"), col("t"), col("id"))
      .drop("__len")
    val schema = sorted.schema
    val langIdx = schema.fieldIndex("lang")
    val rdd = sorted.rdd
    val counts: Array[(Int, Seq[(String, Long)])] =
      rdd.mapPartitionsWithIndex { (pid, it) =>
        // languages are contiguous in the sorted partition: accumulate
        // run lengths in encounter (= sort) order
        val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        it.foreach { r =>
          val l = r.getString(langIdx)
          if (runs.nonEmpty && runs.last._1 == l)
            runs(runs.length - 1) = (l, runs.last._2 + 1L)
          else runs += ((l, 1L))
        }
        Iterator.single((pid, runs.toSeq))
      }.collect()
    val offsets: Map[(Int, String), Long] = {
      val running = scala.collection.mutable.HashMap.empty[String, Long]
      val b = Map.newBuilder[(Int, String), Long]
      counts.sortBy(_._1).foreach { case (pid, runs) =>
        runs.foreach { case (l, c) =>
          b += ((pid, l) -> running.getOrElse(l, 0L))
          running.update(l, running.getOrElse(l, 0L) + c)
        }
      }
      b.result()
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = schema.add("__rn", LongType, nullable = false)
    val rankedRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
      var curLang: String = null
      var local = 0L
      it.map { r =>
        val l = r.getString(langIdx)
        if (l != curLang) { curLang = l; local = 0L }
        local += 1L
        Row.fromSeq(r.toSeq :+ (bc.value.getOrElse((pid, l), 0L) + local))
      }
    }
    spark.createDataFrame(rankedRdd, outSchema)
  }

  /** Multi-pass sorted-neighborhood edit-distance pairs — the standard
    * answer to single-pass SNM's recall trade (Hernández & Stolfo run
    * several passes with independent sort keys and union the matches):
    * pass 1 ranks by `(length, text, id)`, pass 2 by `(length,
    * reverse(text), id)` — a typo in the PREFIX destroys pass-1
    * adjacency but leaves the suffix ordering intact, and vice versa,
    * so the union covers both error positions. Candidates from both
    * passes dedup on the ordered id pair BEFORE the kernel runs, so a
    * pair found twice is measured once. Cost: exactly 2× the linear
    * single-pass candidate volume — still window·N, never N².
    *
    * Output contract identical to [[editDistancePairs]], whose result
    * it SUPERSETS by construction (pass 1 alone is that operator —
    * pinned in spec).
    *
    * Round 18 (optimization guide §2.3 — shuffle metadata, not
    * payloads): each pass emits ID-ONLY candidate pairs
    * ([[snmCandidateIdPairs]] — the rank probe's ×window duplication and
    * the (lang, rank) join no longer carry texts), cross-pass dedup is a
    * `distinct` over two ids instead of a groupBy exchange carrying two
    * full texts per candidate, and the texts are joined back BY ID once
    * per UNIQUE pair — so the banded kernel also runs exactly once per
    * unique pair, as the dedup-first r17 shape did (passes share most of
    * their candidates: all of them sort by length first).
    */
  def editDistancePairsMultiPass(
      docs: DataFrame,
      maxDist: Int = 64,
      window: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull && col(langCol).isNotNull)
      .filter(length(col(textCol)) === expr(s"octet_length($textCol)"))
      .select(col(idCol).as("id"), col(textCol).as("t"), col(langCol).as("lang"))
    // the two passes' rank builds each run eager driver jobs (range
    // sampling + the offset counts collect) that are independent of each
    // other — overlap them from a small pool (guide §2.6) instead of
    // paying both sequentially
    val passes = buildConcurrently(
      () => snmCandidateIdPairs(base, window),
      () => snmCandidateIdPairs(
        base.withColumn("t", reverse(col("t"))).select(col("id"), col("t"), col("lang")),
        window))
    val cand = passes.reduce(_ unionByName _).distinct()
    joinTextsAndScore(cand, base, maxDist)
  }

  /** Construct several pass relations concurrently: each thunk runs its
    * own eager rank jobs (Spark's scheduler interleaves independent
    * actions; job-description properties are thread-local). A finite
    * Await keeps one hung stats job from blocking forever (the
    * JoinOrder convention).
    */
  private def buildConcurrently(thunks: (() => DataFrame)*): Seq[DataFrame] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = thunks.map(t => scala.concurrent.Future(t())(ec))
      fs.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(10, "min")))
    } finally pool.shutdown()
  }

  /** Shared tail of the round-18 edit-distance shape: attach both texts
    * to the deduped id pairs by id and run the banded kernel once per
    * unique pair, fenced (guide §4.4) so the dist >= 0 filter cannot be
    * pushed into the text join as a DUPLICATE kernel evaluation.
    */
  private def joinTextsAndScore(cand: DataFrame, base: DataFrame, maxDist: Int): DataFrame = {
    val texts = base.select(col("id"), col("t"))
    cand
      .join(texts.select(col("id").as("id_a"), col("t").as("__ta")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("t").as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.Fence.evalOnce(
          levenshtein(col("__ta"), col("__tb"), maxDist)).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Three-pass sorted-neighborhood edit-distance pairs — the full
    * Hernández–Stolfo multi-pass scheme with an independent PHONETIC
    * sort key as the third pass: pass 1 ranks by `(length, text, id)`,
    * pass 2 by `(length, reverse(text), id)`, pass 3 by the per-token
    * NARA Soundex encoding of the text (`soundex(w1) soundex(w2) …`,
    * [[TextAnalysis.soundexWord]]) — "smith's report" and "smyth's
    * repport" disagree in BOTH spelling directions yet share the
    * phonetic key exactly, so sound-alike typos that neither
    * lexicographic pass sorts adjacently become rank neighbors.
    * Candidates from all passes dedup on the ordered id pair before
    * the kernel; at equal `window` the result SUPERSETS
    * [[editDistancePairsMultiPass]] by construction (passes 1–2 are
    * identical — pinned in spec). Cost: 3× window·N, still linear.
    *
    * The phonetic key itself is tokenized by the shared [[tokens]]
    * expression and encoded per token by a typed map (the
    * `soundexKeys` precedent — encode is map-only); the oracle replays
    * the same encoding as a SQL fold, proven equal to the Scala coder
    * by the `soundex_keys` bitwise gate.
    */
  def editDistancePairsPhonetic(
      docs: DataFrame,
      maxDist: Int = 64,
      window: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull && col(langCol).isNotNull)
      .filter(length(col(textCol)) === expr(s"octet_length($textCol)"))
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"),
        col(langCol).as("lang"))
    // id-only candidate pairs per pass, deduped light, texts joined back
    // once per unique pair — [[editDistancePairsMultiPass]]'s round-18
    // shape; the phonetic pass ranks on the soundex key and no longer
    // carries the original text as a struct payload at all
    val ph = base
      .select(col("id"), col("t"), col("lang"), tokens(col("t")).as("__toks"))
      .as[(Long, String, String, Seq[String])]
      .map { case (id, _, lang, toks) =>
        val key = toks.filter(_.nonEmpty).map(TextAnalysis.soundexWord).mkString(" ")
        (id, key, lang)
      }
      .toDF("id", "t", "lang")
    // all three passes' rank builds overlap (guide §2.6) — see
    // [[buildConcurrently]]; the phonetic pass's typed soundex map rides
    // inside its own pass's jobs
    val passes = buildConcurrently(
      () => snmCandidateIdPairs(base, window),
      () => snmCandidateIdPairs(
        base.withColumn("t", reverse(col("t"))).select(col("id"), col("t"), col("lang")),
        window),
      () => snmCandidateIdPairs(ph, window))
    val cand = passes.reduce(_ unionByName _).distinct()
    joinTextsAndScore(cand, base, maxDist)
  }

  /** Exact edit-distance pairs — the entity-resolution primitive for
    * SHORT near-identical records (titles, names, OCR'd lines) where
    * set-based similarity ([[ngramJaccardPairs]]) is too coarse: two
    * strings one typo apart and two sharing the same word multiset score
    * identically under Jaccard but differ by edit distance.
    *
    * Candidate generation is the sorted-neighborhood method
    * ([[snmCandidates]]) — window·N candidates, linear at any corpus
    * size. The kernel is Spark's built-in banded `levenshtein(l, r,
    * threshold)` (O(maxDist·n) per pair, returns −1 past the threshold —
    * no full DP matrix at scale). Comparisons restrict to single-byte
    * (ASCII) text on BOTH sides: Spark counts codepoints while DuckDB's
    * oracle levenshtein counts bytes, and on ASCII the two meanings
    * coincide — the documented gate contract (non-ASCII docs are
    * excluded, not mis-measured).
    *
    * Output: `(id_a < id_b, dist)` for pairs at `dist <= maxDist`.
    */
  def editDistancePairs(
      docs: DataFrame,
      maxDist: Int = 64,
      window: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull && col(langCol).isNotNull)
      .filter(length(col(textCol)) === expr(s"octet_length($textCol)"))
      .select(col(idCol).as("id"), col(textCol).as("t"), col(langCol).as("lang"))
    snmCandidates(base, window, Seq.empty)
      .select(least(col("__a.id"), col("__b.id")).as("id_a"),
        greatest(col("__a.id"), col("__b.id")).as("id_b"),
        levenshtein(col("__a.t"), col("__b.t"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Fellegi–Sunter record-linkage scoring (Fellegi & Sunter 1969) over
    * the same sorted-neighborhood candidates as [[editDistancePairs]] —
    * the probabilistic-ER layer above the raw distance kernel: each
    * candidate pair gets an AGREEMENT VECTOR over four comparison
    * fields and a total match weight, the sum of fixed per-field
    * log-odds:
    *
    *   - `g_exact`:  texts identical;
    *   - `g_near`:   banded edit distance <= `nearDist` (typo-level);
    *   - `g_source`: same source system;
    *   - `g_len`:    lengths within `lenTol` chars.
    *
    * Weights are FIXED engineered centi-log-odds constants (agree/
    * disagree per field), not EM-estimated: the classic FS estimator is
    * an iterative float EM whose result depends on sweep order — not
    * replayable bitwise by a SQL oracle and not stable across engines;
    * fixed weights keep the whole operator integer-exact while
    * preserving the FS decision structure (field agreement -> additive
    * evidence -> three-way match/possible/non-match rule). Pairs below
    * the `possible` threshold are dropped (the clerical-review cut —
    * emitting every blocked non-match would be output quadratic in
    * block size for no downstream consumer).
    *
    * Correlated fields (exact ⊆ near ⊆ usually len) are the documented
    * conditional-independence violation every practical FS deployment
    * carries; the weights below are chosen so the three decision bands
    * remain meaningful under that correlation.
    *
    * 100 TB shape: identical to [[editDistancePairs]] — linear
    * window·N sorted-neighborhood candidates, banded kernel, no
    * full-corpus quadratic path. ASCII gate as there (byte-vs-codepoint
    * levenshtein coincidence — the oracle contract).
    *
    * Output: `(id_a < id_b, g_exact, g_near, g_source, g_len, score,
    * decision)` for pairs scoring at least the `possible` threshold.
    */
  def erMatchScores(
      docs: DataFrame,
      nearDist: Int = 4,
      lenTol: Int = 2,
      window: Int = 16,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      srcCol: String = "source"): DataFrame = {
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        col(langCol).isNotNull && col(srcCol).isNotNull)
      .filter(length(col(textCol)) === expr(s"octet_length($textCol)"))
      .select(col(idCol).as("id"), col(textCol).as("t"), col(srcCol).as("s"),
        col(langCol).as("lang"))
    val pairs = snmCandidates(base, window, Seq("s"))
    val gExact = (col("__a.t") === col("__b.t")).as("g_exact")
    val gNear = (levenshtein(col("__a.t"), col("__b.t"), nearDist) >= 0).as("g_near")
    val gSource = (col("__a.s") === col("__b.s")).as("g_source")
    val gLen = (abs(length(col("__a.t")) - length(col("__b.t"))) <= lenTol).as("g_len")
    pairs
      .select(least(col("__a.id"), col("__b.id")).as("id_a"),
        greatest(col("__a.id"), col("__b.id")).as("id_b"),
        gExact, gNear, gSource, gLen)
      .withColumn("score",
        (when(col("g_exact"), lit(ErWeights.exactAgree)).otherwise(lit(ErWeights.exactDis)) +
         when(col("g_near"), lit(ErWeights.nearAgree)).otherwise(lit(ErWeights.nearDis)) +
         when(col("g_source"), lit(ErWeights.sourceAgree)).otherwise(lit(ErWeights.sourceDis)) +
         when(col("g_len"), lit(ErWeights.lenAgree)).otherwise(lit(ErWeights.lenDis)))
          .cast("long"))
      .filter(col("score") >= ErWeights.possibleAt)
      .withColumn("decision",
        when(col("score") >= ErWeights.matchAt, lit("match")).otherwise(lit("possible")))
  }

  /** The fixed FS centi-log-odds table — one definition shared by the
    * operator, the spec's truth table, and (numerically, re-spelled as
    * SQL CASE arms) the DuckDB oracle.
    */
  object ErWeights {
    val exactAgree = 480L; val exactDis = -20L
    val nearAgree = 300L; val nearDis = -80L
    val sourceAgree = 120L; val sourceDis = -100L
    val lenAgree = 60L; val lenDis = -60L
    val matchAt = 500L // decision thresholds on the summed evidence
    // 100 admits every near-agreeing pair (worst case 300−20−100−60 = 120)
    // while coincidental source+len-only co-block pairs (−20−80+120+60 = 80)
    // stay dropped
    val possibleAt = 100L
  }

  /** MinHash signature columns: min over salted xxhash64 of each doc's grams.
    * Salting with the hash index (instead of affine permutations) keeps the
    * whole signature a single groupBy of `numHashes` min-aggregates, and each
    * gram STRING is hashed exactly once — the per-lane salt is applied by
    * re-hashing the resulting 8-byte long, which costs a fraction of
    * `numHashes` string hashes per gram.
    */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int = 64,
      shingleSize: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // the internal form appends sz for the verified path; the PUBLIC
    // contract stays exactly (id, h0..h(n-1)) — external callers that
    // enumerate lanes structurally must not pick up a 65th column
    minhashSignaturesFromGrams(docGrams(docs, idCol, textCol, shingleSize), numHashes)
      .drop("sz")

  /** Signatures over a PRECOMPUTED (id, g) gram relation — callers that also
    * consume the gram relation elsewhere (verify joins, df counts, sizes)
    * pass the same DataFrame object so every branch shares ONE gram subtree:
    * the distinct exchange is object-identical across branches, which is
    * what lets exchange/stage reuse fire instead of re-tokenizing the corpus
    * once per branch.
    */
  private def minhashSignaturesFromGrams(grams: DataFrame, numHashes: Int): DataFrame = {
    // sz (the doc's distinct-gram count — jaccard's per-doc denominator)
    // rides the SAME groupBy(id) exchange the signature needs anyway, so
    // downstream consumers never join a size relation back; appended LAST
    // so the public (id, h0..h(n-1)) column layout is unchanged
    val mins = (0 until numHashes).map(i => min(xxhash64(col("g"), lit(i))).as(s"h$i"))
    grams.groupBy("id").agg(mins.head, (mins.tail :+ count(lit(1)).as("sz")): _*)
  }

  /** LSH band keys over MinHash signature columns h0..h(numHashes-1): one
    * struct(band, xxhash64(band's rows)) per band. Single definition so the
    * candidate semantics of the est-jaccard and exact-verify paths cannot
    * silently diverge.
    */
  private def minhashBandKeys(numHashes: Int, bands: Int): Seq[Column] = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("key"))
    }
  }

  /** The (id, band-key) relation both MinHash-LSH paths group on — shared
    * by the pair operators and [[minhashOversizeBands]] so the diagnostic
    * inspects the EXACT relation the admission cap filters.
    */
  private def minhashBanded(grams: DataFrame, numHashes: Int, bands: Int): DataFrame =
    minhashSignaturesFromGrams(grams, numHashes)
      // null ids can never pair (and gram df counting happens on the gram
      // relation, not here) — filtering them INSIDE the shared builder
      // keeps the diagnostic inspecting the exact relation the operator's
      // admission cap filters, with no off-by-one at the cap boundary
      .filter(col("id").isNotNull)
      .select(col("id"), col("sz"), explode(array(minhashBandKeys(numHashes, bands): _*)).as("bk"))

  /** Diagnostic companion to [[minhashLshPairs]]/[[minhashLshVerifiedPairs]]'
    * `maxGroup` admission (2^17 and 2^20 respectively — pass the cap of the
    * path being monitored): the band keys whose collision groups the cap
    * WOULD drop, built from the same signature + banding helpers, so a
    * production job can detect skipped near-dup families without
    * reconstructing internal keying. Non-empty output means candidate
    * generation silently skipped those bands' pairs.
    */
  def minhashOversizeBands(
      docs: DataFrame,
      maxGroup: Long,
      numHashes: Int = 64,
      bands: Int = 32,
      shingleSize: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    oversizeGroups(
      minhashBanded(docGrams(docs, idCol, textCol, shingleSize), numHashes, bands),
      col("bk"), maxGroup)

  /** MinHash + banded LSH near-dup candidate pairs with estimated Jaccard
    * (fraction of matching signature components). `numHashes` must be
    * divisible by `bands`; rows-per-band = numHashes / bands.
    */
  def minhashLshPairs(
      docs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val banded = minhashSignatures(docs, numHashes, shingleSize, idCol, textCol)
      .filter(col("id").isNotNull) // a struct payload would let null ids pair
      .select(
        col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"),
        explode(array(minhashBandKeys(numHashes, bands): _*)).as("bk"))

    // id leads the payload struct, so pair order is id order (ids are
    // unique per doc — the sig tiebreak never fires)
    val est = aggregate(
      zip_with(col("__a.sig"), col("__b.sig"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0),
      (acc, x) => acc + x).cast("double") / numHashes

    orderedPairsWithinGroups(banded, col("bk"), struct(col("id"), col("sig")), maxGroup = 1L << 17,
        observeTag = "minhash_bands")
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"), est.as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash-LSH candidates + EXACT n-gram Jaccard verification — the
    * production near-dup shape at 100 TB: candidate generation is linear in
    * input + band collisions, and the exact jaccard join runs only over the
    * candidate pairs (not all pairs sharing a gram). With rows-per-band = 2
    * and 32 bands, a pair at true jaccard j is surfaced with probability
    * 1 - (1 - j^2)^32 (> 1 - 1e-22 at j = 0.9), so for corpora whose near-dup
    * pairs sit well above `threshold` the output equals the exact
    * [[ngramJaccardPairs]] result.
    *
    * The verify join applies the SAME `maxDf` hot-gram cap as
    * [[ngramJaccardPairs]] (sizes still use ALL grams), so the two paths
    * compute the identical jaccard for every surfaced pair — the only
    * difference between them is LSH candidate recall.
    *
    * Output: id_a < id_b, jaccard (exact) >= threshold.
    */
  /** Locally-deduped word-n-gram xxhash64(seed 42) hashes of one NORMALIZED
    * text — the compiled per-doc form of `distinct-per-doc docGrams rows`
    * (round 17, optimization guide §2.4/§4): [[graft.functions
    * .NgramHashKernel]] hashes each window's tokens single-space-joined,
    * and normalization has already collapsed whitespace to single spaces,
    * so every gram's bytes are exactly a byte RANGE of the normalized text
    * (a space is ASCII and cannot occur inside a UTF-8 multibyte
    * sequence) — zero string allocation, bitwise the expression chain's
    * longs (pinned in DedupSpec). Empty when the text has fewer than `n`
    * tokens, mirroring the `size(w) >= n` pre-filter.
    */
  private[ext] def distinctGramHashes(t: String, n: Int): Array[Long] = {
    if (t == null) return Array.emptyLongArray
    val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    if (nTok < n) return Array.emptyLongArray
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var tok = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { ends(tok) = i; tok += 1; starts(tok) = i + 1 }
      i += 1
    }
    ends(tok) = bytes.length
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var g = 0
    while (g <= nTok - n) {
      val off = starts(g)
      seen.add(org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, ends(g + n - 1) - off, 42L))
      g += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** The (id, sz, bk) banded relation of [[minhashBanded]] from the same
    * per-doc gram hashes: MinHash lane `i` is `min over grams g of
    * xxhash64(g, i)` — Spark's multi-arg xxhash64 chains
    * `hashInt(i, hashLong(g, 42))`, so the inner `hashLong(g, 42)` is
    * computed once per gram and salted per lane — and band `b`'s key is
    * `xxhash64(h_{b·r}, …, h_{b·r+r−1})`, the same left-fold with seed 42.
    * Bitwise equality with the expression builders is pinned in DedupSpec.
    */
  private[ext] def minhashBandRows(
      gs: Array[Long], numHashes: Int, bands: Int): Iterator[(Int, Long)] = {
    if (gs.isEmpty) return Iterator.empty
    val rows = numHashes / bands
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var gi = 0
    while (gi < gs.length) {
      val base = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(gs(gi), 42L)
      var i = 0
      while (i < numHashes) {
        val v = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(i, base)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      gi += 1
    }
    (0 until bands).iterator.map { b =>
      var k = 42L
      var r = 0
      while (r < rows) {
        k = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(b * rows + r), k)
        r += 1
      }
      (b, k)
    }
  }

  def minhashLshVerifiedPairs(
      docs: DataFrame,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      shingleSize: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxDf: Long = 100000L): DataFrame = {
    // candidate generation from band keys only: joining the full signature
    // arrays (as minhashLshPairs does for its est_jaccard output) would ship
    // 2x64 longs per band collision and pay an interpreted 64-element fold
    // per candidate, all to produce a column this path discards.
    // Round 17 (optimization guide §2.4): the gram relation and the banded
    // signature relation are both emitted by the compiled per-doc kernels
    // over ONE shared spread of the normalized corpus — the gram relation
    // needs no distinct exchange (dedup is per-doc and the kernel dedups
    // locally; (id, g) duplicates cannot span docs), and the signature
    // needs no groupBy(id) exchange (every gram of a doc is local to its
    // row). Both builders hash bitwise what the expression forms hash
    // (DedupSpec pins kernel == expression on a hostile fixture), so
    // candidate semantics and the oracle are unchanged. Round-7 shape
    // retained: per-doc sizes travel through the band pair emission as
    // struct payloads, eliminating both size joins; the hot-gram cap is a
    // window count on the gram relation's g-exchange, not a df aggregate
    // broadcast back as a semi-join build side (which at corpus scale
    // broadcast nearly every distinct gram — a driver hazard). Sizes still
    // use ALL grams; the cap limits only the intersection evidence.
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    Stage.requireIntegralId(docs, idCol, "minhashLshVerifiedPairs")
    val spark = docs.sparkSession
    import spark.implicits._
    val normed = Stage.spread(
      docs.select(col(idCol).cast("long").as("id"), normText(col(textCol)).as("__t")))
    val grams = normed.as[(java.lang.Long, String)]
      .flatMap { case (id, t) =>
        distinctGramHashes(t, shingleSize).iterator
          .map(g => (id, java.lang.Long.valueOf(g)))
      }
      .toDF("id", "g")
    val banded = normed.filter(col("id").isNotNull).as[(java.lang.Long, String)]
      .flatMap { case (id, t) =>
        val gs = distinctGramHashes(t, shingleSize)
        minhashBandRows(gs, numHashes, bands).map { case (b, k) =>
          (id, java.lang.Long.valueOf(gs.length.toLong), b, k)
        }
      }
      .toDF("id", "sz", "band", "key")
      .select(col("id"), col("sz"), struct(col("band"), col("key")).as("bk"))
    val cands = orderedPairsWithinGroups(
        banded, col("bk"), struct(col("id"), col("sz")), maxGroup = 1L << 20,
        observeTag = "minhash_verified_bands")
      .select(col("__a.id").as("id_a"), col("__a.sz").as("sa"),
        col("__b.id").as("id_b"), col("__b.sz").as("sb"))
      .distinct()
    // window-count df cap: same shape and same deliberate tradeoff as
    // ngramJaccardPairs — a hot stop-gram is buffered (spillably) by one
    // window task before being discarded, in exchange for evaluating the
    // gram lineage once; see the spill-bound note there
    val byGram = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val capped = grams
      .withColumn("__df", count(lit(1)).over(byGram))
      .filter(col("__df") <= maxDf)
      .select("id", "g")
    val ga = capped.select(col("id").as("id_a"), col("g").as("ga"))
    val gb = capped.select(col("id").as("id_b2"), col("g").as("gb"))
    val jac = col("i").cast("double") / (col("sa") + col("sb") - col("i"))
    cands
      .join(ga, Seq("id_a"))
      .join(gb, col("id_b") === col("id_b2") && col("ga") === col("gb"))
      .groupBy("id_a", "sa", "id_b", "sb")
      .agg(count(lit(1)).as("i"))
      .select(col("id_a"), col("id_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Split a NORMALIZED text's UTF-8 bytes into token (start, end) byte
    * ranges on ' ' — the byte-level twin of `split(normText, " ")`
    * (normalization has collapsed whitespace, and a space is ASCII so it
    * cannot occur inside a multibyte sequence). Mirrors Spark's split:
    * empty text yields ONE empty token.
    */
  private def tokenRanges(bytes: Array[Byte]): (Array[Int], Array[Int]) = {
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val ends = new Array[Int](nTok)
    var tok = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { ends(tok) = i; tok += 1; starts(tok) = i + 1 }
      i += 1
    }
    ends(tok) = bytes.length
    (starts, ends)
  }

  private def packSimhash(votes: Array[Long]): Long = {
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Compiled per-doc xxhash64 simhash over one normalized text — bitwise
    * the former `explode(tokens) -> xxhash64 -> 64 vote sums -> sign pack`
    * expression chain (xxhash64's string hash is `XXH64.hashUnsafeBytes`
    * with seed 42; votes are exact integer sums, order-free). Returns None
    * for null text (the expression form's explode(null) emitted no rows,
    * so the doc was absent from the signature relation). Empty text has
    * ONE empty token, exactly like `split`.
    */
  private[ext] def simhashXxOf(t: String): Option[Long] = {
    if (t == null) return None
    val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (starts, ends) = tokenRanges(bytes)
    val votes = new Array[Long](64)
    var k = 0
    while (k < starts.length) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + starts(k),
        ends(k) - starts(k), 42L)
      var j = 0
      while (j < 64) { votes(j) += (if (((h >> j) & 1L) == 1L) 1L else -1L); j += 1 }
      k += 1
    }
    Some(packSimhash(votes))
  }

  /** Compiled per-doc MD5 simhash — bitwise the
    * `conv(substring(md5(t), ...), 16, 10)` hi/lo word extraction (hex
    * chars 1-8 = digest bytes 0-3, chars 9-16 = bytes 4-7, both unsigned)
    * and the tf-weighted integer bit votes of the expression chain.
    * Empty tokens are skipped (the expression form's `t =!= ""` filter);
    * None when no non-empty token remains (doc absent, as before).
    * Repeated tokens hash ONCE (a per-doc tf map) — instance-weighted
    * vote sums are unchanged by grouping.
    */
  private[ext] def simhashMd5Of(t: String): Option[Long] = {
    if (t == null) return None
    val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (starts, ends) = tokenRanges(bytes)
    val tf = new java.util.HashMap[String, Long]()
    var k = 0
    while (k < starts.length) {
      if (ends(k) > starts(k)) {
        val tok = new String(bytes, starts(k), ends(k) - starts(k),
          java.nio.charset.StandardCharsets.UTF_8)
        tf.merge(tok, 1L, (a, b) => a + b)
      }
      k += 1
    }
    if (tf.isEmpty) return None
    val votes = new Array[Long](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      md.reset()
      val d = md.digest(e.getKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      val lo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val c = e.getValue
      var j = 0
      while (j < 64) {
        val w = if (j < 32) lo else hi
        votes(j) += (if (((w >> (j % 32)) & 1L) == 1L) c else -c)
        j += 1
      }
    }
    Some(packSimhash(votes))
  }

  /** 64-bit SimHash per doc from token hashes (sign of per-bit +-1 vote
    * sums).
    *
    * Round 18 (guide §2.4 — remove the shuffle outright, the r17 minhash
    * pattern): the signature is a PER-DOC fact, so for long ids it is one
    * compiled typed map over the spread corpus — the former
    * `explode(tokens) -> groupBy(id)` shape paid a full exchange of one
    * (id, hash) row per token instance plus 64 partial-aggregate vote
    * columns, all to regroup rows that were never split across docs.
    * [[simhashXxOf]] hashes bitwise what the expression chain hashed
    * (pinned in DedupSpec); non-long ids keep the expression form (the
    * kernel would cast — the r17-advice silent-null hazard).
    */
  def simhashSignatures(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    if (docs.schema(idCol).dataType == org.apache.spark.sql.types.LongType) {
      val spark = docs.sparkSession
      import spark.implicits._
      return Stage.spread(docs.select(col(idCol).as("id"), normText(col(textCol)).as("__t")))
        .as[(java.lang.Long, String)]
        .flatMap { case (id, t) => simhashXxOf(t).map(sig => (id, sig)).iterator }
        .toDF("id", "simhash")
    }
    val toks = Stage.spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(tokens(col("__text"))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1).otherwise(-1)).as(s"v$j")
    }
    val sig = (0 until 64)
      .map(j => when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
      .reduce((x, y) => x.bitwiseOR(y))
    toks.groupBy("id").agg(votes.head, votes.tail: _*).select(col("id"), sig.as("simhash"))
  }

  /** The (id, simhash, block-key) relation simhash LSH groups on — shared
    * by [[hammingPairs]] and [[simhashOversizeBlocks]].
    */
  private def simhashBanded(sigs: DataFrame): DataFrame = {
    val blocks = (0 until 4).map(b =>
      struct(lit(b).as("block"), shiftright(col("simhash"), 16 * b).bitwiseAND(0xFFFFL).as("key")))
    sigs.select(col("id"), col("simhash"), explode(array(blocks: _*)).as("bk"))
  }

  /** Diagnostic companion to the simhash paths' `maxGroup` admission
    * (2^20): the 16-bit blocks whose collision groups the cap would drop.
    * Takes the (id, simhash) signature relation, so it serves both
    * signature variants — pass [[simhashSignatures]]' output for
    * `simhash_pairs` or the md5-portable variant's for `simhash_md5_pairs`.
    */
  def simhashOversizeBlocks(sigs: DataFrame, maxGroup: Long = 1L << 20): DataFrame =
    oversizeGroups(simhashBanded(sigs), col("bk"), maxGroup)

  /** 16-bit-block LSH over a (id, simhash) relation: Hamming distance <= 3
    * guarantees at least one of the 4 blocks equal (pigeonhole). Shared by
    * both simhash variants.
    */
  private def hammingPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    val banded = simhashBanded(sigs)
    // the payload struct leads with id, so sort order (hence a < b) is id
    // order exactly as the former id_a < id_b join predicate
    orderedPairsWithinGroups(banded, col("bk"), struct(col("id"), col("simhash")), maxGroup = 1L << 20,
        observeTag = "simhash_blocks")
      .select(col("__a.id").as("id_a"), col("__b.id").as("id_b"),
        bit_count(col("__a.simhash").bitwiseXOR(col("__b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup pairs within a Hamming radius, via 16-bit-block LSH. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    hammingPairs(simhashSignatures(docs, idCol, textCol), maxHamming)

  /** SimHash signatures over MD5-derived 64-bit token hashes (hi/lo 32-bit
    * words of the hex digest) instead of xxhash64. Slightly more per-token
    * hash cost than [[simhashSignatures]], but every intermediate is exact
    * integer math on a digest every engine reproduces — so the FULL simhash
    * machinery (token weighting, bit votes, sign packing, block LSH,
    * Hamming radius) is externally auditable and sits under the bitwise
    * oracle gate, which the xxhash64 variant cannot be.
    *
    * Token weights are term frequencies over non-empty normalized tokens;
    * votes `sum(cnt * (bit ? 1 : -1))` are integer sums — deterministic
    * under any partitioning by construction.
    */
  def simhashMd5Signatures(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Round 18: one compiled per-doc pass for long ids — see
    // [[simhashSignatures]]'s round-18 note; [[simhashMd5Of]] additionally
    // digests each DISTINCT token once per doc (tf-weighted votes), where
    // the expression chain ran md5 + two hex conv's per token INSTANCE.
    if (docs.schema(idCol).dataType == org.apache.spark.sql.types.LongType) {
      val spark = docs.sparkSession
      import spark.implicits._
      return Stage.spread(docs.select(col(idCol).as("id"), normText(col(textCol)).as("__t")))
        .as[(java.lang.Long, String)]
        .flatMap { case (id, t) => simhashMd5Of(t).map(sig => (id, sig)).iterator }
        .toDF("id", "simhash")
    }
    // expression form for non-long ids:
    // votes go straight from exploded token instances into one partially-
    // aggregated groupBy (map-side combine -> the only shuffle carries 64
    // longs per doc per partition); a (id, token, tf) pre-aggregation would
    // cost a second full shuffle for no semantic difference, since the
    // votes are instance-count-weighted sums either way
    val toks = Stage.spread(docs.select(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"), explode(tokens(col("__text"))).as("t"))
      .filter(col("t") =!= "")
      .select(col("id"),
        conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(md5(col("t")), 9, 8), 16, 10).cast("long").as("lo"))
    val votes = (0 until 64).map { j =>
      val w = if (j < 32) col("lo") else col("hi")
      sum(when(shiftright(w, j % 32).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"v$j")
    }
    val sig = (0 until 64)
      .map(j => when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
      .reduce((x, y) => x.bitwiseOR(y))
    toks.groupBy("id").agg(votes.head, votes.tail: _*).select(col("id"), sig.as("simhash"))
  }

  /** [[simhashPairs]] on the engine-portable MD5 signatures. */
  def simhashMd5Pairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    hammingPairs(simhashMd5Signatures(docs, idCol, textCol), maxHamming)

  /** Incremental dedup of a NEW batch against a historical corpus: keep the
    * new docs whose content fingerprint does not appear in the corpus.
    *
    * The 100 TB shape: a Bloom filter over the corpus fingerprints (ONE
    * distributed aggregation into a fixed-size sketch) prefilters the new
    * batch — definite non-members skip the join entirely, and only the
    * might-be-duplicate sliver is exact-verified with a semi-join whose
    * probe side is that sliver, not the batch. Bloom filters have no false
    * negatives, so the result is EXACT (false positives are cleaned up by
    * the verify join); the sketch only shrinks the join.
    *
    * The membership probe is a Scala UDF over the broadcast sketch — the
    * one documented UDF in the library: a sketch probe has no built-in
    * expression form, and one hash probe per row off the codegen path is
    * the cost model the prefilter exists to exploit.
    *
    * The two output branches (definite-new pass-through, might-match
    * verify) each scan the new batch, so the fingerprint + probe evaluate
    * twice per row — deliberate: 2x map-side hashing of the BATCH is far
    * cheaper than the alternative single-pass plan that ships every batch
    * row through the verify join's shuffle (the skip-the-join property is
    * the point). Callers composing further stages can stage the result
    * once, as `CurationPipeline` does.
    */
  def incrementalDedupNew(
      newDocs: DataFrame,
      corpus: DataFrame,
      expectedCorpusItems: Long,
      fpp: Double = 0.01,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val corpusFps = corpus.select(fingerprint(col(textCol)).as("fp"))
    val bf = corpusFps.stat.bloomFilter("fp", expectedCorpusItems, fpp)
    val bcast = newDocs.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((fp: String) => fp != null && bcast.value.mightContain(fp))
    val withFp = newDocs.withColumn("__fp", fingerprint(col(textCol)))
    val definiteNew = withFp.filter(!mightContain(col("__fp")))
    val maybeDup = withFp.filter(mightContain(col("__fp")))
    val verifiedNew = maybeDup.join(
      corpusFps.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
    definiteNew.unionByName(verifiedNew).drop("__fp")
  }

  /** Line-level exact dedup across the corpus (the C4-style step that
    * strips boilerplate headers/footers/navigation repeated across pages):
    * every distinct line is kept exactly ONCE corpus-wide — at its first
    * occurrence in (id, position) order — and every later occurrence is
    * removed; each document is then reassembled from its surviving lines
    * in original order.
    *
    * Output: one row per input document (null-id docs excluded) —
    * `idCol`, `dedup_text` (surviving lines joined by `sep`, `""` when
    * every line was claimed by an earlier doc), `n_lines` (original),
    * `n_kept`. Null-text docs have 0 lines and `dedup_text = ""`. Blank
    * lines are lines: a corpus-wide singleton blank survives, repeats are
    * deduped like any other line.
    *
    * The 100 TB shape: lines travel into the dedup exchange with their
    * 16-byte MD5 digest as the grouping key (the same engine-portable
    * content key as [[exact]]; distinct lines merge only on MD5 collision,
    * the documented gate everywhere digests stand in for content), one
    * `min(struct(id, pos))` aggregate picks the keeper — so the first
    * shuffle carries (digest, id, pos, line), the second regroups the
    * ALREADY-DEDUPED lines by document, and the final join restores
    * per-doc counts. Three linear shuffles, no self-join, no window sort
    * over the corpus.
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "separator must be non-empty")
    val base = Stage.spread(docs.filter(col(idCol).isNotNull)
        .select(col(idCol).as("__id"), col(textCol).as("__text")))
      .select(col("__id"), split(col("__text"), java.util.regex.Pattern.quote(sep)).as("__xs"))
    val lines = base.select(col("__id"), posexplode(col("__xs")).as(Seq("__pos", "__l")))
    // one row per distinct line: the (id, pos)-minimal occurrence. max(__l)
    // is the line itself for every group barring an MD5 collision (in which
    // case it deterministically picks one of the colliding texts).
    val keepers = lines
      .groupBy(md5(col("__l")).as("__fp"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__keep"), max(col("__l")).as("__line"))
      .select(col("__keep.__id").as("__id"), col("__keep.__pos").as("__pos"), col("__line"))
    val rebuilt = keepers
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(sort_array(collect_list(struct(col("__pos"), col("__line")))), x => x.getField("__line")),
          sep).as("dedup_text"))
    base.select(col("__id"), coalesce(size(col("__xs")), lit(0)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"),
        col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Per-document duplicate n-gram fraction — the Gopher/RefinedWeb-style
    * quality signal: what share of a document's distinct word-n-grams also
    * occur in at least one OTHER document. High fractions flag boilerplate,
    * mirror-site copies, and template spam that survive exact dedup; the
    * standard curation filter drops docs above a fraction threshold.
    *
    * Output: one row per non-null-id input document — `idCol`, `n_grams`
    * (distinct grams in the doc), `n_dup` (of those, grams whose corpus
    * document frequency is >= 2), `dup_fraction` (`n_dup / n_grams`, one
    * exact-int IEEE division; NULL when the doc has no grams — docs shorter
    * than `n` tokens or with null text carry no evidence either way, which
    * a downstream threshold filter must decide about explicitly rather than
    * inherit a silent 0.0).
    *
    * The 100 TB shape: grams travel as 64-bit [[graft.functions
    * .NgramExpressions.NgramHashes]] hashes (the same collision gate as
    * every gram path here); document frequency is ONE count aggregate over
    * the distinct (id, gram) relation, joined back by gram hash — three
    * linear shuffles of bounded-width rows, never a self-join, and a hot
    * gram costs one long-counter row (unlike the pair paths, no `maxDf` cap
    * is needed because nothing quadratic exists to cap).
    */
  def dupNgramFraction(
      docs: DataFrame,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, "need n >= 1")
    Stage.requireIntegralId(docs, idCol, "dupNgramFraction")
    // per-doc distinct grams from the compiled kernel (round 17): dedup is
    // a PER-DOC fact, so the (id, g) DISTINCT exchange the expression form
    // paid buys nothing — the kernel dedups locally and the relation goes
    // straight into the df aggregate (bitwise the same rows; DedupSpec
    // pins kernel == ngram_hashes + distinct).
    // NO staging spread here (round 18, the r17-verdict A/B): unlike the
    // minhash path — whose spread this operator inherited — the gram
    // kernel's output feeds ONE df aggregate, and the spread's extra
    // exchange cost more than the kernel's parallelism bought (driver
    // r17 record: 0.90 -> 1.00s with the spread; the curation keys ride
    // minhashLshVerifiedPairs' own spread and are unaffected)
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = docs.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), normText(col(textCol)).as("__t"))
      .as[(java.lang.Long, String)]
      .flatMap { case (id, t) =>
        distinctGramHashes(t, n).iterator.map(g => (id, java.lang.Long.valueOf(g)))
      }
      .toDF("id", "g")
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("__df"))
    val perDoc = grams.join(dfreq, Seq("g"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (col("n_dup").cast("double") / col("n_grams")).as("dup_fraction"))
  }

  /** Eval-set decontamination: drop every training document that shares at
    * least one word-n-gram with a benchmark/eval corpus (the standard
    * pre-training hygiene step that keeps test sets out of the training
    * data). Output is the SURVIVING subset of `docs`, columns unchanged.
    *
    * The 100 TB shape: the eval side is tiny by construction (benchmarks,
    * not corpora), so its distinct gram-hash set broadcasts
    * (`broadcastEval`, default true) and contamination detection is a
    * map-side semi-join over the training grams — the full gram relation is
    * NEVER shuffled (unlike [[ngramJaccardPairs]]' inverted index, there is
    * deliberately no `distinct()` on the training grams: semi-join
    * membership doesn't need it, and dropping it removes the one full-size
    * exchange this op would otherwise pay). The only shuffles carry matched
    * doc ids. Grams travel as 64-bit [[graft.functions.NgramExpressions
    * .NgramHashes]] hashes — set membership is preserved up to xxhash64
    * collisions, a ~|eval grams| x |train grams| / 2^64 false-drop
    * probability accepted everywhere else in this module. Set
    * `broadcastEval = false` for an oversized eval side; the semi-join then
    * shuffles both gram relations instead.
    *
    * Documents with fewer than `n` tokens (or null text) cannot match and
    * always survive; null-id documents survive (an anti-join on a null key
    * matches nothing); eval documents shorter than `n` tokens contribute
    * no grams.
    */
  def decontaminate(
      docs: DataFrame,
      evalDocs: DataFrame,
      n: Int = 13,
      broadcastEval: Boolean = true,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, "need n >= 1")
    def gramsOf(df: DataFrame, keep: Column*): DataFrame =
      df.select(keep :+ tokens(col(textCol)).as("__w"): _*)
        .filter(size(col("__w")) >= n)
        .withColumn("__g", explode(ngramHashes(col("__w"), n)))
        .drop("__w")
    val evalGrams = gramsOf(evalDocs).select("__g").distinct()
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    val contaminated = gramsOf(docs, col(idCol).as("__id"))
      .join(evalSide, Seq("__g"), "left_semi")
      .select("__id").distinct()
    docs.join(contaminated, col(idCol) === col("__id"), "left_anti")
  }

  /** Blocked fuzzy matching (entity resolution): edit-distance pairs within
    * a composite blocking key. The classic record-linkage shape — the block
    * equi-join bounds the quadratic comparison to within-block pairs
    * (compose blocks from bounded-cardinality attributes: brand x size,
    * zip, first-token, phonetic code), and `levenshtein` has identical
    * unit-cost semantics across engines, so the whole operator is
    * oracle-checkable.
    *
    * At scale the cost is sum over blocks of |block|^2 / 2 comparisons —
    * compose enough block attributes that the hottest block stays
    * comparison-bounded, exactly like `maxDf` caps hot grams in
    * [[ngramJaccardPairs]]. Two result-invisible prunes cut the per-pair
    * cost: a length band in the join condition (|len(a) - len(b)| > k
    * implies distance > k, so no true pair is lost), and Spark's
    * thresholded `levenshtein(l, r, k)` — the banded O(len x k) algorithm
    * with early exit, returning -1 past the threshold instead of paying
    * the full O(len^2) table.
    */
  def blockedEditDistancePairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      blockCols: Seq[String],
      maxDist: Int = 2): DataFrame = {
    require(blockCols.nonEmpty, "at least one blocking column is required")
    val a = df.select(blockCols.map(col) :+ col(idCol).as("id_a") :+ col(strCol).as("s_a"): _*).alias("ed_l")
    val b = df.select(blockCols.map(col) :+ col(idCol).as("id_b") :+ col(strCol).as("s_b"): _*).alias("ed_r")
    val blockEq = blockCols.map(c => col(s"ed_l.`$c`") === col(s"ed_r.`$c`")).reduce(_ && _)
    a.join(b, blockEq && col("id_a") < col("id_b") &&
        abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), maxDist).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Cross-source contamination audit: for every pair of sources, how much
    * verbatim content they share — the distinct word-n-grams occurring in
    * BOTH, plus the Jaccard of their gram sets. The due-diligence view a
    * curation pipeline runs before mixing sources (a high-overlap pair
    * means one source republishes the other and the mixture double-counts
    * it) and the aggregate twin of [[decontaminate]]'s per-document gate.
    *
    * Output: source_a < source_b, n_shared (distinct shared n-grams),
    * jaccard (n_shared / (|A| + |B| - n_shared), one exact-int IEEE
    * division). Null-source rows are excluded; docs with fewer than `n`
    * tokens contribute no grams.
    *
    * The 100 TB shape: grams travel as 64-bit [[graft.functions
    * .NgramExpressions.NgramHashes]] hashes and collapse to one row per
    * DISTINCT (gram, source) before any pairing — the pair stage then
    * emits at most |sources|^2/2 rows per gram group
    * ([[orderedPairsWithinGroups]]), so its volume is bounded by
    * gram-vocabulary x source-pairs, never by the corpus. Counts are exact
    * up to xxhash64 gram collisions, the same documented gate as every
    * gram-hash path in this module.
    */
  def sourceNgramOverlap(
      docs: DataFrame,
      n: Int = 6,
      srcCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, "need n >= 1")
    val grams = docs.filter(col(srcCol).isNotNull)
      .select(col(srcCol).as("src"), tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= n)
      .select(col("src"), explode(ngramHashes(col("__w"), n)).as("g"))
      .distinct()
    val pairs = orderedPairsWithinGroups(grams, col("g"), col("src"))
      .groupBy(col("__a").as("source_a"), col("__b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val sizes = grams.groupBy("src").agg(count(lit(1)).as("sz"))
    pairs
      .join(sizes.toDF("source_a", "sa"), "source_a")
      .join(sizes.toDF("source_b", "sb"), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        (col("n_shared").cast("double") / (col("sa") + col("sb") - col("n_shared"))).as("jaccard"))
  }

  /** Semantic (embedding-space) dedup: drop every member of an
    * embedding-cosine near-dup group except one representative — the
    * SemDeDup-style curation step that removes semantically redundant
    * training examples rather than textually redundant ones.
    *
    * Composition of two already-bounded stages: near-dup PAIRS from the
    * IVF-bucketed cosine path ([[Similarity.ivfCosinePairs]] — candidate
    * generation bucketed by the corpus-adaptive coarse quantizer, exact
    * verify per candidate), then connected components over the pair
    * relation ([[Clusters.connectedComponents]] — min-label propagation,
    * one bounded shuffle per round). The representative of each group is
    * its minimum id (the component label); vectors in no group pass
    * through untouched, null-id rows always survive (an anti-join on a
    * null key matches nothing). Output: the surviving subset of
    * `embeddings`, columns unchanged.
    *
    * `threshold` is the semantic-duplicate cosine bar (SemDeDup operates
    * at ~0.95+ for paraphrase-grade duplicates; lower thresholds grow the
    * transitive closure — at 100 TB keep it in the LSH/IVF-discriminating
    * regime >= ~0.8, which is also where candidate generation stays
    * bounded).
    */
  def semanticDedup(
      embeddings: DataFrame,
      threshold: Double = 0.95,
      nassign: Int = 2,
      trainSample: Int = 10000,
      targetClusterSize: Int = 128,
      maxIter: Int = 20,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pairs = Similarity.ivfCosinePairs(
      embeddings, threshold, nassign = nassign, trainSample = trainSample,
      targetClusterSize = targetClusterSize, idCol = idCol, vecCol = vecCol)
    val dropped = Clusters.connectedComponents(pairs, srcCol = "id_a", dstCol = "id_b", maxIter = maxIter)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("__drop"))
    embeddings.join(dropped, col(idCol) === col("__drop"), "left_anti")
  }

  /** Corpus snapshot diff: classify every document id across two corpus
    * versions as `added` (only in the new snapshot), `removed` (only in
    * the old), `changed` (both, different content fingerprint), or
    * `unchanged` — the audit step of an incremental curation pipeline
    * (what did this crawl/filter revision actually touch?) and the input
    * to incremental downstream recomputation.
    *
    * Output: `idCol`, `status`, `old_fp`, `new_fp` (16-byte MD5 content
    * fingerprints; NULL on a missing side AND for a present doc with null
    * text — presence is tracked separately, so a null-text doc still
    * diffs correctly and two null-text versions compare `unchanged` via
    * null-safe equality). Null-id rows are excluded (no identity to align
    * on); duplicate ids within one snapshot are collapsed to their min
    * fingerprint first (deterministic, and it keeps the join 1:1 so a
    * doubled id cannot fan out the diff).
    *
    * The 100 TB shape: each side reduces to (id, fp) — 16 bytes plus the
    * id — before ONE full outer join on the id; the status is a CASE on
    * the joined row. Nothing quadratic, nothing driver-side.
    */
  def corpusDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    def fps(df: DataFrame, id: String, fp: String, present: String) =
      df.filter(col(idCol).isNotNull)
        .groupBy(col(idCol).as(id))
        .agg(min(fingerprint(col(textCol))).as(fp))
        .withColumn(present, lit(true))
    val o = fps(oldDocs, "__id_o", "old_fp", "__po")
    val n = fps(newDocs, "__id_n", "new_fp", "__pn")
    o.join(n, col("__id_o") === col("__id_n"), "full_outer")
      .select(
        coalesce(col("__id_o"), col("__id_n")).as(idCol),
        when(col("__po").isNull, "added")
          .when(col("__pn").isNull, "removed")
          .when(col("old_fp") <=> col("new_fp"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_fp"),
        col("new_fp"))
  }

  /** Embedding-cosine near-dup pairs (brute force, exact). Quadratic — this
    * is the correctness oracle / verifier (delegates to the broadcast
    * primitive-loop kernel in [[Similarity.cosinePairsExact]]; a declarative
    * non-equi self-join would evaluate the dot product through interpreted
    * higher-order functions, ~10x slower). The DEFAULT scale path for
    * near-dup thresholds (>= ~0.8) is [[Similarity.srpCosinePairs]] (SRP-LSH
    * candidates + exact verify).
    */
  def embeddingCosinePairs(
      embeddings: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    Similarity.cosinePairsExact(embeddings, threshold, idCol, vecCol)
}
