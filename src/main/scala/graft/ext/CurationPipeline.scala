package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The composed training-data curation pipeline — the north star's end-to-end
  * shape (BASELINE.json): raw documents -> exact dedup -> near-dup removal ->
  * quality filter -> language tag. Each stage is one of the library
  * operators; this facade wires them the way a 100 TB curation job would:
  *
  *  1. exact dedup keeps the smallest doc_id per content fingerprint
  *     (one shuffle on the 16-byte digest);
  *  2. near-dup removal drops the LARGER id of every verified MinHash-LSH
  *     pair ([[Dedup.minhashLshVerifiedPairs]] — LSH candidates + exact
  *     jaccard verification, never all-pairs);
  *  3. quality gate on cheap single-pass features ([[TextAnalysis.quality]]);
  *  4. language-ID tag kept in the output ([[TextAnalysis.langId]]).
  */
object CurationPipeline {

  final case class Params(
      jaccardThreshold: Double = 0.5,
      minChars: Long = 100L,
      minDistinctRatio: Double = 0.3)

  /** Curated corpus: doc_id, n_chars, n_tokens, distinct_ratio, lang_pred.
    *
    * `materialize = true` (default) stages the exact-deduped set to parquet:
    * the MinHash-LSH verify stage consumes it through several branches
    * (signatures, both gram sides, the anti-join left side), and without
    * materialization each branch re-executes the fingerprint groupBy +
    * semi-join lineage. Parquet staging (not `localCheckpoint`) wherever a
    * shared location exists, on purpose:
    * localCheckpoint blocks live only in executor-local storage, so at
    * cluster scale a single lost executor kills the job, whereas staged
    * files sit in shared storage, cut the lineage, and give every
    * downstream branch real size stats for join planning.
    *
    * `stageDir` is the staging location. On a cluster it MUST be a path on
    * shared storage (the job's DFS scratch path, with its lifecycle policy
    * handling cleanup) — executor tasks write the parts, so a node-local
    * path would scatter them. The default uses the session's checkpoint
    * dir when one is configured (already required to be shared storage),
    * else an eager local checkpoint ([[exactStage]]).
    */
  def curate(
      docs: DataFrame,
      params: Params = Params(),
      materialize: Boolean = true,
      stageDir: Option[String] = None): DataFrame = {
    val exactDeduped = exactStage(docs, materialize, stageDir)

    // 2. near-duplicates among the survivors: drop the larger id of each pair
    val nearDupLosers = Dedup
      .minhashLshVerifiedPairs(exactDeduped, threshold = params.jaccardThreshold)
      .select(col("id_b").as("doc_id"))
      .distinct()
    qualityLangTail(exactDeduped.join(nearDupLosers, Seq("doc_id"), "left_anti"), params)
  }

  /** [[curate]] with TRANSITIVE near-dup removal: the verified pair relation
    * is clustered ([[Clusters.connectedComponents]]) and exactly ONE
    * representative — the minimum doc_id — survives per component.
    *
    * The two variants differ on non-clique similarity graphs. Pair-dropping
    * keeps every doc that is never the larger id of a pair: on pairs
    * (1,5), (3,5) it keeps BOTH 1 and 3 (each similar to 5, not to each
    * other), while clustering keeps only 1, the representative of the
    * transitive group {1,3,5}. Transitive one-per-group is the standard
    * contamination-safe semantics for training-corpus dedup (near-dup
    * chains are usually templated variants of one underlying document);
    * the pair-wise variant retains more data at the cost of possible
    * chain leakage.
    */
  def curateClustered(
      docs: DataFrame,
      params: Params = Params(),
      materialize: Boolean = true,
      stageDir: Option[String] = None): DataFrame = {
    val exactDeduped = exactStage(docs, materialize, stageDir)
    val pairs = Dedup
      .minhashLshVerifiedPairs(exactDeduped, threshold = params.jaccardThreshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val losers = Clusters.connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    qualityLangTail(exactDeduped.join(losers, Seq("doc_id"), "left_anti"), params)
  }

  /** Stage 1: exact dedup + optional staging (see [[curate]] docs).
    *
    * The staged relation is PROJECTED to (doc_id, text) before the write
    * (optimization guide §2.3 — project before the exchange/write): both
    * consumers (the LSH verify stage and [[qualityLangTail]], which
    * derives n_chars/tokens/lang from the text itself) read exactly these
    * two columns, so staging the corpus' other columns would write and
    * re-read dead bytes on every branch.
    *
    * Round 18: staging goes to parquet only when a SHARED-STORAGE
    * location exists (`stageDir`, or the session's checkpoint dir) —
    * that is the configuration where the write buys fault tolerance and
    * lineage truncation on real clusters. Without one, the old fallback
    * wrote to a NODE-LOCAL temp dir, which is exactly as loss-fragile
    * as executor-local cache blocks while paying a write job, footer
    * re-planning, and one parquet scan per consumer branch; the staged
    * set is an eager `localCheckpoint()` instead: it carries real size
    * stats to join planning as the parquet footers did, matches no other
    * plan, stays out of CacheManager, and is freed by ContextCleaner with
    * the returned plan, so repeated or concurrent calls neither share nor
    * accumulate storage. Its blocks are executor-local (a lost executor
    * fails the query); the parquet branch is the fault-tolerant one.
    */
  private def exactStage(
      docs: DataFrame,
      materialize: Boolean,
      stageDir: Option[String]): DataFrame = {
    // 1. exact duplicates: keep the keeper ids only
    val keepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    val exactDeduped0 = docs.select("doc_id", "text").join(keepers, Seq("doc_id"), "left_semi")
    if (!materialize) return exactDeduped0
    val spark = docs.sparkSession
    // spread the staged set across writers (optimization guide §2.5):
    // the deduped corpus otherwise inherits the scan's split count —
    // ONE on the bench corpus — making the staging materialization AND
    // every downstream branch (LSH signatures, gram sides, the quality
    // tail) single-core. At scale the guard is a no-op.
    val target = spark.sparkContext.defaultParallelism
    val toStage =
      if (exactDeduped0.rdd.getNumPartitions < target) exactDeduped0.repartition(target)
      else exactDeduped0
    val sharedDir = stageDir.orElse(
      spark.sparkContext.getCheckpointDir.map(d => s"$d/graft-curation-stage-${java.util.UUID.randomUUID()}"))
    sharedDir match {
      case Some(dir) =>
        toStage.write.mode("overwrite").parquet(dir)
        // read back with the schema just written, which spares the
        // inference job; a file source reads every column as nullable, so
        // the relation is the one inference gives (CurationPipelineSpec)
        spark.read.schema(toStage.schema).parquet(dir)
      case None => toStage.localCheckpoint()
    }
  }

  /** Stages 3+4: quality gate + language tag in ONE pass: both are pure
    * per-row column expressions, so computing them as two scans of the
    * near-deduped set and joining back would re-execute the whole dedup DAG
    * twice and add a needless shuffle.
    *
    * `private[graft]` with passthrough columns because the STREAMING
    * pipeline ([[graft.streaming.StreamingCuration]]) shares this exact
    * tail — the language tie rule and gate expressions must exist once, or
    * the "live-ingest twin" contract silently diverges. Output columns:
    * passthrough ++ (n_chars, n_tokens, distinct_ratio, lang_pred).
    */
  private[graft] def qualityLangTail(
      nearDeduped: DataFrame,
      params: Params,
      passthrough: Seq[String] = Seq("doc_id"),
      textCol: String = "text"): DataFrame = {
    import graft.functions.TextFunctions._
    val langs = langMarkers.map(_._1)
    val pred = langs.init.zipWithIndex.foldRight(lit(langs.last)) { case ((lang, i), rest) =>
      val beatsAllLater = langs.drop(i + 1).map(l2 => col(s"score_$lang") >= col(s"score_$l2")).reduce(_ && _)
      when(beatsAllLater, lang).otherwise(rest)
    }
    nearDeduped
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("n_chars", length(col(textCol)).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("distinct_ratio", distinctRatio(col("toks")))
      .filter(col("n_chars") >= params.minChars && col("distinct_ratio") >= params.minDistinctRatio)
      .select(
        passthrough.map(col) ++ Seq(col("n_chars"), col("n_tokens"), col("distinct_ratio")) ++
          langMarkers.map { case (lang, markers) => markerScore(col("toks"), markers).as(s"score_$lang") }: _*)
      .withColumn("lang_pred", pred)
      .select(passthrough ++ Seq("n_chars", "n_tokens", "distinct_ratio", "lang_pred") map col: _*)
  }

  /** The CRAWL-SHAPED end-to-end: documents are rendered into hostile
    * HTML pages, packed into .warc.gz crawl archives with full HTTP
    * response framing, then re-ingested through the ENTIRE decode stack
    * (gzip member split → WARC parse → HTTP de-framing incl. chunked
    * transfer → HTML text extraction), admission-controlled by
    * robots.txt over normalized URLs, exact-deduped, quality-gated, and
    * language-tagged. Every layer is identity-recovering by its own
    * round-trip contract, so the oracle computes the final table
    * STRAIGHT FROM the source documents — one corrupted byte anywhere
    * in the six-layer stack shifts a fingerprint, a count, or a
    * language score and fails the hash. This is the integration gate:
    * the per-operator keys prove each layer alone; this key proves they
    * compose.
    */
  def crawlCurate(docs: DataFrame, nArchives: Int = 16, minTokens: Long = 5L): DataFrame = {
    import graft.functions.TextFunctions._
    val spark = docs.sparkSession
    import spark.implicits._
    // four branches read recovered: a local checkpoint (Graph scaladoc: lifetime)
    val pages = Html.encodeHtmlDocs(docs)
    val archives = Archives.encodeWarcHttpArchives(pages, nArchives, textCol = "html")
    val recovered = Archives.warcHttpExtractBodies(archives)
      .as[(Long, String)]
      .map { case (id, html) => (id, Html.extractText(html)) }
      .toDF("doc_id", "text")
      .localCheckpoint()
    val urls = Url.normalize(Url.attachUrls(recovered)).toDF()
    val allowed = Robots.evaluate(
      urls.select(col("doc_id"), col("host"), col("path")),
      Robots.rulesFor(urls).toDF())
      .filter(col("decision") === "allow")
      .select(col("doc_id"), col("host"), col("path"))
    val keepers = recovered
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
    val feats = recovered.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val lang = TextAnalysis.langId(recovered).select(col("doc_id"), col("lang_pred"))
    keepers
      .join(allowed, "doc_id")
      .join(feats, "doc_id")
      .filter(col("n_tokens") >= minTokens)
      .join(lang, "doc_id")
      .select(col("doc_id"), col("host"), col("path"), col("lang_pred"),
        col("n_chars"), col("n_tokens"), col("fp"))
  }
}
