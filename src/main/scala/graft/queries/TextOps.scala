package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.model.Tables
import graft.util.Scratch
import graft.util.Pin.PinOps

/** LLM-training-data text operators over the `documents` corpus:
  * exact deduplication, corpus tokenization/word count, token
  * statistics, quality scoring, language-ID heuristics, content
  * fingerprinting, and n-gram Jaccard similarity.
  *
  * These generalize the reference's per-record string machinery
  * (reference: queue_time_predictions/estimate_queue.py:31-61 regex
  * parse; preprocess_image.py:82-107 crop = "drop what can't affect
  * the answer") to corpus-at-a-time set processing — the operator
  * family a 100 TB pretraining-data pipeline runs before anything
  * else touches the data.
  *
  * Scale design notes:
  *  - dedup groups on a 128-bit digest of the text, not the text
  *    itself — the shuffle carries 16 bytes + ids per row instead of
  *    whole documents;
  *  - wordcount is the canonical two-phase aggregation: map-side
  *    partial counts collapse the token stream before the shuffle;
  *  - the pairwise Jaccard query is the VERIFY step of a near-dup
  *    pipeline and is only ever run on a bounded candidate set (here a
  *    deterministic id slice; in production the pairs emitted by the
  *    MinHash/LSH banding in SimOps) — never all-pairs.
  */
object TextOps {

  /** Whitespace tokens of `text`. */
  private def toks(c: Column): Column = split(c, " ")

  /** Distinct token-3-gram shingles, '' -safe (guards the Spark
    * sequence(1,0) descending-range footgun for <3-token docs). */
  def shingles(text: Column): Column = {
    val t = toks(text)
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - lit(2)),
        i => concat_ws(" ", slice(t, i, lit(3))))))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB rendition of [[shingles]] (1-based inclusive list slice). */
  def shinglesSql(text: String): String =
    s"""CASE WHEN len(string_split($text, ' ')) >= 3
      THEN list_distinct(list_transform(generate_series(1, len(string_split($text, ' ')) - 2),
           i -> array_to_string(string_split($text, ' ')[i:i+2], ' ')))
      ELSE [] END"""

  /** Stopword-marker lists per candidate language. On the synthetic
    * corpus every language shares one vocabulary, so the *decision* is
    * meaningless — the operator shape (score per language from token
    * membership, deterministic argmax) is what a real lang-ID pass
    * runs. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "fr" -> Seq("query", "window"),
    "es" -> Seq("data", "row"),
    "de" -> Seq("table", "hash"),
    "zh" -> Seq("batch", "merge"))

  /** Sum of `partsSkipped` over every ManifestSource scan in an
    * EXECUTED plan. An aggregate puts an exchange in the plan, so AQE
    * wraps it: the final plan hangs off the adaptive root, and a
    * materialized stage's subtree hangs off QueryStageExec.plan
    * (children = Nil) — plain collect() misses both indirections. */
  private def partsSkippedOf(df: org.apache.spark.sql.DataFrame): Long = {
    def scansOf(plan: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      plan match {
        case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => scansOf(s.plan)
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => Seq(b)
        case other => other.children.flatMap(scansOf)
      }
    scansOf(df.queryExecution.executedPlan)
      .map(_.metrics.get("partsSkipped").map(_.value).getOrElse(0L))
      .sum
  }

  /** DuckDB twin of [[bm25Top]]: CTE chain ending in `cand` =
    * the top-20 `(doc_id, dl, f0, f1, f2, score)` candidates. */
  private val Bm25CoreSql: String = """base AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
      AS DOUBLE) AS f0,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'table'))
      AS DOUBLE) AS f1,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'query'))
      AS DOUBLE) AS f2
  FROM documents),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) AS sum_dl,
    CAST(sum(CASE WHEN f0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
    CAST(sum(CASE WHEN f1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
    CAST(sum(CASE WHEN f2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
  FROM base),
cand AS (
  SELECT doc_id, CAST(dl AS BIGINT) AS dl,
    CAST(f0 AS BIGINT) AS f0, CAST(f1 AS BIGINT) AS f1,
    CAST(f2 AS BIGINT) AS f2,
    (CASE WHEN f0 > 0 THEN ((n_docs - df0 + 0.5) / (df0 + 0.5))
      * ((f0 * 2.2) / (f0 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
      ELSE 0.0 END
    + CASE WHEN f1 > 0 THEN ((n_docs - df1 + 0.5) / (df1 + 0.5))
      * ((f1 * 2.2) / (f1 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
      ELSE 0.0 END)
    + CASE WHEN f2 > 0 THEN ((n_docs - df2 + 0.5) / (df2 + 0.5))
      * ((f2 * 2.2) / (f2 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
      ELSE 0.0 END AS score
  FROM base, stats
  ORDER BY score DESC, doc_id LIMIT 20)"""

  val all: Seq[QueryDef] = Seq(

    // --- Exact deduplication via hash-groupBy on a content digest.
    // Keeper = lowest doc_id (deterministic canonical representative).
    QueryDef("q_dedup_text",
      (spark, dir) => Tables.documents(spark, dir)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("keeper_id")),
      Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keeper_id""")),

    // --- INCREMENTAL dedup against a persisted fingerprint index:
    // at 100 TB/day nobody re-deduplicates the whole corpus per
    // batch — the historical corpus is represented by its fingerprint
    // INDEX (h64 per doc, a real committed table through the manifest
    // sink: KBs of stats, key-range + bloom prunable), and only the
    // DELTA is processed: (1) self-dedup within the batch (min doc_id
    // per fingerprint), (2) anti-join batch fingerprints against the
    // index (the "seen before" probe — at scale this join hits the
    // index's bloom/range pruning rather than scanning history),
    // (3) append the genuinely-new fingerprints as the index's next
    // snapshot. The rollup reads the UPDATED index back from the
    // table, so the gate covers the whole probe→commit→read loop.
    // Split: history = doc_id % 3 != 0 (its index is pre-committed),
    // batch = doc_id % 3 == 0; duplicate texts exist in the corpus by
    // construction, so every leg is non-trivially exercised.
    QueryDef("q_dedup_incremental",
      (spark, dir) => {
        val t = Scratch.fresh(spark, dir, "dedup-incremental")
        val docs = Tables.documents(spark, dir)
        val fp = graft.functions.OracleHash.h64(col("text"))
        // committed index of the historical corpus
        docs.filter(col("doc_id") % 3 =!= 0)
          .groupBy(fp.as("fp")).agg(min(col("doc_id")).as("keeper_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", t).option("history", "true")
          .mode("overwrite").save()
        val index = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
        val batch = docs.filter(col("doc_id") % 3 === 0)
          .groupBy(fp.as("fp")).agg(min(col("doc_id")).as("keeper_id"),
            count(lit(1)).as("n_in_batch"))
        // PINNED before the append commits: DataFrames are lazy, and
        // the rollup below re-evaluates after the index already
        // contains the batch — an unpinned anti-join would then count
        // zero new fingerprints (same trap q_merge_upsert documents).
        val newUnique = batch.join(index.select(col("fp")), Seq("fp"),
          "left_anti").pinned()
        newUnique.select(col("fp"), col("keeper_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", t).option("history", "true")
          .mode("append").save()
        val updated = spark.read.format("graft.sources.ManifestSource")
          .option("path", t).load()
        batch.agg(
          sum(col("n_in_batch")).as("n_batch_rows"),
          count(lit(1)).as("n_batch_fps"))
          .crossJoin(newUnique.agg(count(lit(1)).as("n_new_unique")))
          .crossJoin(updated.agg(count(lit(1)).as("n_index_after")))
      },
      Some(s"""WITH f AS (
  SELECT doc_id, ${graft.functions.OracleHash.h64Sql("text")} AS fp
  FROM documents),
hist AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0),
b AS (SELECT fp, count(*) AS n FROM f WHERE doc_id % 3 = 0 GROUP BY fp),
nw AS (SELECT fp FROM b WHERE fp NOT IN (SELECT fp FROM hist))
SELECT
  (SELECT CAST(sum(n) AS BIGINT) FROM b) AS n_batch_rows,
  (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_batch_fps,
  (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_new_unique,
  (SELECT CAST(count(*) AS BIGINT) FROM hist)
    + (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_index_after""")),

    // --- Corpus word count: tokenize → explode (Generator/UDTF) →
    // two-phase count. THE canonical map-side-combine aggregation.
    QueryDef("q_wordcount",
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50),
      Some("""SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS df
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
GROUP BY tok ORDER BY n DESC, tok LIMIT 50""")),

    // --- Per-document token statistics: whitespace tokens, a BPE-ish
    // regex token count (letter runs / digit runs / single symbols —
    // the pre-tokenizer shape of byte-pair encoders), distinct-token
    // ratio, mean token length.
    QueryDef("q_token_stats",
      (spark, dir) => {
        val t = toks(col("text"))
        val nTok = size(t)
        // sort first, tokenize/regex after (guide §2.5)
        graft.util.Par.sortedFanOut(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          col("doc_id"))
          .select(
            col("doc_id"),
            nTok.as("ws_tokens"),
            regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).as("bpe_tokens"),
            size(array_distinct(t)).as("distinct_tokens"),
            (size(array_distinct(t)).cast("double") / nTok.cast("double")).as("ttr"),
            (length(regexp_replace(col("text"), " ", "")).cast("double")
              / nTok.cast("double")).as("mean_tok_len"))
      },
      Some("""SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS bpe_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS distinct_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
  CAST(length(replace(text, ' ', '')) AS DOUBLE)
    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len
FROM documents ORDER BY doc_id""")),

    // --- Heuristic quality scoring (length / punctuation / stopword
    // signals), the junk-filter pass of a pretraining pipeline.
    QueryDef("q_quality_score",
      (spark, dir) => {
        val t = toks(col("text"))
        val nTok = size(t)
        val nStop = size(filter(t, tk => tk.isin("the", "a", "of", "and", "to")))
        val stopRatio = nStop.cast("double") / nTok.cast("double")
        val punct = regexp_count(col("text"), lit("[^a-z0-9 ]"))
        val punctRatio = punct.cast("double") / length(col("text")).cast("double")
        val meanLen = length(regexp_replace(col("text"), " ", "")).cast("double") /
          nTok.cast("double")
        val score =
          when(nTok < 5, lit(0.0)).otherwise(
            when(stopRatio > 0.01, lit(0.4)).otherwise(lit(0.1))
              + when(meanLen >= 3.0 && meanLen <= 8.0, lit(0.3)).otherwise(lit(0.0))
              + when(punctRatio < 0.05, lit(0.3)).otherwise(lit(0.0)))
        // sort first (the one range exchange the query always paid),
        // score after: the regex/HOF battery runs post-shuffle
        graft.util.Par.sortedFanOut(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          col("doc_id"))
          .select(
            col("doc_id"), nTok.as("n_tokens"), nStop.as("n_stopwords"),
            stopRatio.as("stop_ratio"), punctRatio.as("punct_ratio"),
            meanLen.as("mean_tok_len"), score.as("quality"))
      },
      Some("""WITH f AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
    CAST(len(list_filter(string_split(text, ' '),
         tk -> tk IN ('the', 'a', 'of', 'and', 'to'))) AS INT) AS n_stopwords,
    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS INT) AS n_punct,
    CAST(length(text) AS INT) AS n_chars,
    CAST(length(replace(text, ' ', '')) AS INT) AS n_alpha
  FROM documents)
SELECT doc_id, n_tokens, n_stopwords,
  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
  CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
  CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
  CAST(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
    (CASE WHEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.01
          THEN 0.4 ELSE 0.1 END)
    + (CASE WHEN CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 3.0
            AND CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 8.0
            THEN 0.3 ELSE 0.0 END)
    + (CASE WHEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) < 0.05
            THEN 0.3 ELSE 0.0 END)
  END AS DOUBLE) AS quality
FROM f ORDER BY doc_id""")),

    // --- Language-ID heuristic: marker-token score per candidate
    // language, deterministic fixed-priority argmax.
    QueryDef("q_lang_id",
      (spark, dir) => {
        val t = toks(col("text"))
        val nTok = size(t).cast("double")
        val scores = LangMarkers.map { case (lang, markers) =>
          lang -> (size(filter(t, tk => tk.isin(markers: _*))).cast("double") / nTok)
        }
        val guess = scores.foldLeft(when(lit(false), lit(""))) {
          case (acc, (lang, s)) =>
            acc.when(scores.filter(_._1 != lang)
              .map { case (_, o) => s >= o }.reduce(_ && _), lit(lang))
        }.otherwise(lit("und"))
        // sort first, marker-score after (guide §2.5)
        graft.util.Par.sortedFanOut(
          Tables.documents(spark, dir)
            .select(col("doc_id"), col("lang"), col("text")),
          col("doc_id"))
          .select(
          (Seq(col("doc_id"), col("lang").as("labeled_lang"), guess.as("guess"))
            ++ scores.map { case (l, s) => s.as(s"s_$l") }): _*)
      },
      Some {
        val s = LangMarkers.map { case (lang, markers) =>
          lang -> s"""(CAST(len(list_filter(string_split(text, ' '),
            tk -> tk IN (${markers.map(m => s"'$m'").mkString(", ")}))) AS DOUBLE)
            / CAST(len(string_split(text, ' ')) AS DOUBLE))"""
        }
        val sm = s.toMap
        val cases = s.map { case (lang, expr) =>
          val others = s.filter(_._1 != lang).map { case (_, o) => s"$expr >= $o" }
          s"WHEN ${others.mkString(" AND ")} THEN '$lang'"
        }.mkString(" ")
        s"""SELECT doc_id, lang AS labeled_lang,
  CASE $cases ELSE 'und' END AS guess,
  ${s.map { case (l, e) => s"$e AS s_$l" }.mkString(",\n  ")}
FROM documents ORDER BY doc_id"""
      }),

    // --- Document fingerprinting: exact content digest + a bag-of-
    // words digest (sorted distinct tokens) that also catches
    // reordered/duplicated-token copies.
    QueryDef("q_fingerprint",
      (spark, dir) => Tables.documents(spark, dir).select(
        col("doc_id"),
        md5(col("text")).as("content_fp"),
        md5(array_join(array_sort(array_distinct(toks(col("text")))), " "))
          .as("bow_fp"),
        substring(md5(col("text")), 1, 8).as("shard_key"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
  md5(text) AS content_fp,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp,
  substring(md5(text), 1, 8) AS shard_key
FROM documents ORDER BY doc_id""")),

    // --- TF-IDF-style salient-token extraction: corpus document
    // frequency join + per-doc top term. Scoring uses the rational
    // idf surrogate tf·(N+1)/(df+1): transcendental log differs in
    // the last ulp between libm implementations and would break
    // hash-exactness; the ratio is exact IEEE arithmetic on both
    // engines and preserves the "rarer ⇒ heavier" ordering.
    QueryDef("q_tfidf",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        // NOT fanned (guide §1.1 measure-first): toks feeds two count
        // tables + a join probe; fanned, the extra 32-task stages per
        // consumer outweighed the parallel explode (0.92 s → 1.30 s)
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = toks.groupBy(col("tok"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "tok")
          .crossJoin(broadcast(n))
          .withColumn("score",
            col("tf").cast("double") * (col("n_docs") + lit(1)).cast("double")
              / (col("df") + lit(1)).cast("double"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tok"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("tok").as("top_tok"),
            col("tf"), col("df"), col("score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tok, tf, df,
    CAST(tf AS DOUBLE) * CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE) AS score
  FROM tf JOIN dfreq USING (tok), n)
SELECT doc_id, tok AS top_tok, tf, df, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY score DESC, tok) AS rn FROM scored)
WHERE rn = 1 ORDER BY doc_id""")),

    // --- n-gram Jaccard similarity over a bounded candidate set (the
    // verify stage of near-dup detection; candidates come from LSH
    // banding at scale — see q_minhash_neardup).
    QueryDef("q_ngram_jaccard",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .filter(col("doc_id") < 60)
          .select(col("doc_id"), shingles(col("text")).as("sh"))
        val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
        val nCommon = size(array_intersect(col("sh_a"), col("sh_b")))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"),
            nCommon.as("n_common"),
            (nCommon.cast("double") /
              (size(col("sh_a")) + size(col("sh_b")) - nCommon).cast("double"))
              .as("jaccard"))
          .filter(col("n_common") > 0)
          .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
          .limit(100)
      },
      Some(s"""WITH sh AS (
  SELECT doc_id, ${shinglesSql("text")} AS sh FROM documents WHERE doc_id < 60)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(len(a.sh) AS INT) AS n_a, CAST(len(b.sh) AS INT) AS n_b,
  CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_common,
  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
    / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) > 0
ORDER BY jaccard DESC, id_a, id_b LIMIT 100""")),

    // --- BM25 ranked retrieval for a fixed 3-term query: the IR
    // scoring function a corpus-search / hard-negative-mining pass
    // uses, with its length normalization (k1 = 1.2, b = 0.75) in
    // full. The idf is the RATIONAL surrogate (N − df + 0.5)/(df +
    // 0.5) — BM25's idf without the ln(), which is not
    // correctly-rounded IEEE and would diverge between libm
    // implementations (same trick as q_tfidf; ranking order is
    // preserved since ln is monotone). Term frequencies come from a
    // narrow array filter per FIXED term, summed in fixed order — no
    // cross-row float aggregation anywhere, so every score is
    // bit-identical cross-engine. Scale shape: df and avgdl are two
    // tiny broadcast aggregates; scoring is a pure map; top-20 is
    // TakeOrderedAndProject.
    QueryDef("q_bm25",
      (spark, dir) => bm25Top(spark, dir),
      Some(s"""WITH $Bm25CoreSql
SELECT doc_id, dl, f0, f1, f2, score FROM cand
ORDER BY score DESC, doc_id""")),

    // --- Two-stage retrieval: BM25 recall + semantic rerank — the
    // production retrieval shape (and hard-negative mining for
    // embedding training): a cheap lexical pass over the FULL corpus
    // surfaces top-20 candidates, then only those 20 pay the
    // expensive scorer (here: exact embedding cosine vs the probe
    // vector, standing in for a cross-encoder forward pass — the
    // corpus side of the operator is identical). Fusion is
    // reciprocal-rank (RRF, k=60): rank-based, so it needs no score
    // normalization and stays exact rational arithmetic cross-engine.
    // Scale shape: stage 1 is the q_bm25 plan (broadcast stats +
    // TakeOrderedAndProject); stage 2 BROADCASTS the 20 candidates
    // onto the embeddings scan (equi join on id — the big side never
    // shuffles) and every window sees ≤20 rows. The expensive model
    // runs on 20 rows, not the corpus — that ratio IS the operator.
    QueryDef("q_bm25_rerank",
      (spark, dir) => {
        val cand = bm25Top(spark, dir)
          .select(col("doc_id"), col("score").as("bm25_score"))
          .withColumn("bm25_rank", row_number().over(
            Window.orderBy(col("bm25_score").desc, col("doc_id"))))
        val probe = Tables.embeddings(spark, dir)
          .filter(col("vec_id") === 0)
          .select(col("embedding").as("probe_emb"))
        val sem = Tables.embeddings(spark, dir)
          .join(broadcast(cand), col("vec_id") === col("doc_id"))
          .crossJoin(broadcast(probe))
          .select(col("doc_id"), col("bm25_rank"), col("bm25_score"),
            Exact.cosineF(col("embedding"), col("probe_emb")).as("sem_cos"))
        sem
          .withColumn("sem_rank", row_number().over(
            Window.orderBy(col("sem_cos").desc, col("doc_id"))))
          .withColumn("rrf",
            lit(1.0) / (lit(60.0) + col("bm25_rank")) +
              lit(1.0) / (lit(60.0) + col("sem_rank")))
          .select(col("doc_id"), col("bm25_rank"), col("sem_rank"),
            col("bm25_score"), col("sem_cos"), col("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
      },
      Some(s"""WITH $Bm25CoreSql,
ranked AS (
  SELECT doc_id, score AS bm25_score,
    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
      AS bm25_rank
  FROM cand),
sem AS (
  SELECT r.doc_id, r.bm25_rank, r.bm25_score,
    ${Exact.cosineFSql("e.embedding", "p.probe_emb")} AS sem_cos
  FROM ranked r
  JOIN embeddings e ON e.vec_id = r.doc_id
  CROSS JOIN (SELECT embedding AS probe_emb FROM embeddings
              WHERE vec_id = 0) p),
s2 AS (
  SELECT doc_id, bm25_rank, bm25_score, sem_cos,
    CAST(row_number() OVER (ORDER BY sem_cos DESC, doc_id) AS INT)
      AS sem_rank
  FROM sem)
SELECT doc_id, bm25_rank, sem_rank, bm25_score, sem_cos,
  1.0 / (60.0 + bm25_rank) + 1.0 / (60.0 + sem_rank) AS rrf
FROM s2 ORDER BY rrf DESC, doc_id""")),

    // --- RETRIEVAL EVALUATION, integer-exact: per query term, the
    // reciprocal rank of the first relevant hit and precision@10 over
    // the BM25 top-20 (relevance = the doc contains the term — the
    // binary label every lexical-eval harness starts from). MRR is a
    // rational; scaling by LCM(1..20) = 232792560 makes 1/rank exact
    // integer arithmetic for any top-20 rank, so the metric — the
    // number every retrieval dashboard tracks — is bit-identical
    // cross-engine instead of "close". Ranking reuses the q_bm25
    // candidate plan (broadcast stats + top-k); the eval itself is a
    // 20-row unpivot + rollup — eval cost never scales with the
    // corpus, only with k.
    QueryDef("q_bm25_mrr",
      (spark, dir) => {
        val ranked = bm25Top(spark, dir)
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id"))))
        ranked.select(col("rank"),
          expr("stack(3, 'spark', f0, 'table', f1, 'query', f2) AS (term, f)"))
          .filter(col("f") > 0)
          .groupBy(col("term"))
          .agg(min(col("rank")).as("first_rank"),
            sum(when(col("rank") <= 10, 1L).otherwise(0L)).as("rel_in_10"))
          .select(col("term"), col("first_rank").cast("long").as("first_rank"),
            expr("232792560L div CAST(first_rank AS BIGINT)").as("rr_x232792560"),
            col("rel_in_10"))
          .orderBy(col("term"))
      },
      Some(s"""WITH $Bm25CoreSql,
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
    AS rank FROM cand),
long AS (
  SELECT rank, 'spark' AS term, f0 AS f FROM ranked
  UNION ALL SELECT rank, 'table', f1 FROM ranked
  UNION ALL SELECT rank, 'query', f2 FROM ranked)
SELECT term, CAST(min(rank) AS BIGINT) AS first_rank,
  232792560 // CAST(min(rank) AS BIGINT) AS rr_x232792560,
  CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS rel_in_10
FROM long WHERE f > 0 GROUP BY term ORDER BY term""")),

    // --- Lexicon-based scoring (the EDBT'16 "sentiment analysis on
    // Spark" shape, and the shape of every wordlist-driven quality /
    // toxicity screen): tokens join a tiny signed lexicon, each doc
    // aggregates its hits into a normalized score. Scale: the lexicon
    // is values()-inlined and BROADCAST — the corpus never shuffles
    // for the join; the per-doc rollup is the only exchange. Counts
    // are integers; the score is one double division — exact on both
    // engines.
    QueryDef("q_lexicon_score",
      (spark, dir) => {
        import spark.implicits._
        val lex = Seq(("fast", 1), ("big", 1), ("merge", 1),
          ("slow", -1), ("small", -1), ("filter", -1))
          .toDF("word", "polarity")
        val toks = graft.util.Par.fanOut(Tables.documents(spark, dir)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
            explode(split(col("text"), " ")).as("tok"))
        toks.join(broadcast(lex), col("tok") === col("word"), "left")
          .groupBy(col("doc_id"))
          .agg(max(col("n_tokens")).as("n_tokens"),
            sum(when(col("polarity") === 1, 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("polarity") === -1, 1L).otherwise(0L)).as("n_neg"))
          .select(col("doc_id"), col("n_tokens"), col("n_pos"), col("n_neg"),
            ((col("n_pos") - col("n_neg")).cast("double")
              / col("n_tokens").cast("double")).as("polarity_score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH lex(word, polarity) AS (
  VALUES ('fast', 1), ('big', 1), ('merge', 1),
         ('slow', -1), ('small', -1), ('filter', -1)),
t AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
    unnest(string_split(text, ' ')) AS tok
  FROM documents)
SELECT doc_id, max(n_tokens) AS n_tokens,
  CAST(sum(CASE WHEN polarity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
  CAST(sum(CASE WHEN polarity = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
  CAST(sum(CASE WHEN polarity = 1 THEN 1 ELSE 0 END)
       - sum(CASE WHEN polarity = -1 THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(max(n_tokens) AS DOUBLE) AS polarity_score
FROM t LEFT JOIN lex ON tok = word
GROUP BY doc_id ORDER BY doc_id""")),

    // --- Tokenizer-prep vocabulary coverage: the top-50 tokens by
    // corpus frequency with each prefix's cumulative share of all
    // token occurrences — the curve a tokenizer build reads to pick a
    // vocab size. Scale shape: token counts partial-aggregate
    // map-side (shuffle carries one row per distinct token per map
    // partition); the global top-50 is TakeOrderedAndProject
    // (per-partition heaps of 50, never a global sort); ONLY the 50
    // survivors enter the cumulative window, so the single-partition
    // window is bounded by the constant k, not the corpus. The total
    // token count rides a broadcast 1-row cross-join. All-integer
    // arithmetic until the final share division — exact on both
    // engines.
    QueryDef("q_vocab_coverage",
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(explode(split(col("text"), " ")).as("tok"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok")).limit(50)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("tok"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        top.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(w))
          .withColumn("cum_share",
            sum(col("n")).over(w).cast("double")
              / col("n_total").cast("double"))
          .select(col("rank"), col("tok"), col("n"), col("cum_share"))
          .orderBy(col("rank"))
      },
      Some("""WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
total AS (SELECT count(*) AS n_total FROM t),
top AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY tok
  ORDER BY n DESC, tok LIMIT 50)
SELECT CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank,
  tok, n,
  CAST(CAST(sum(n) OVER (ORDER BY n DESC, tok
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
    / CAST(n_total AS DOUBLE) AS cum_share
FROM top, total ORDER BY rank""")),

    // --- Bigram-LM corpus quality score: the CCNet/KenLM
    // "perplexity filter" shape — train n-gram statistics on the
    // corpus, score every document by how well the model predicts
    // it, filter/bucket on the score. Surrogate kept rational for
    // the cross-engine oracle: per bigram occurrence the conditional
    // probability c(w1,w2)/c(w1) (no log — ln isn't correctly-
    // rounded IEEE; the score is a monotone mean of probabilities
    // instead). Each probability is round()-quantized to a 1e-9
    // integer grid (round-on-double is tie-parity-safe cross-engine,
    // a double→DECIMAL cast is not) and summed exactly in BIGINT —
    // association-order-free, so 1000-way parallel sums match the
    // oracle bit-for-bit. Scale shape: bigram explode → two-phase
    // count tables → equi joins back on the bigram key (the count
    // tables shuffle once each; at corpus scale c1/c12 are the
    // classic LM count-table build) → per-doc exact rollup.
    QueryDef("q_ngram_lm",
      (spark, dir) => {
        val t = toks(col("text"))
        // NOT fanned (guide §1.1 measure-first): pairs feeds three
        // consumers; fanned, the query measured 1.21 s → 1.94 s (the
        // per-consumer 32-task stages dominate the parallel explode)
        val pairs = Tables.documents(spark, dir)
          .select(col("doc_id"), t.as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(
            transform(sequence(lit(1), size(col("t")) - 1),
              i => struct(element_at(col("t"), i).as("w1"),
                element_at(col("t"), i + 1).as("w2")))).as("p"))
          .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        val c12 = pairs.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c12"))
        val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
        pairs.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
          .select(col("doc_id"),
            round(col("c12").cast("double") / col("c1").cast("double")
              * lit(1e9)).cast("bigint").as("pg"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("pg")).as("psum"))
          .select(col("doc_id"), col("n_bigrams"),
            (col("psum").cast("double") / lit(1e9) / col("n_bigrams"))
              .as("lm_score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tt AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
pr AS (
  SELECT doc_id, t[p] AS w1, t[p + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS p
        FROM tt WHERE len(t) >= 2)),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1),
sc AS (
  SELECT pr.doc_id,
    CAST(round(CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
      * 1000000000.0) AS BIGINT) AS pg
  FROM pr JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(CAST(sum(pg) AS BIGINT) AS DOUBLE) / 1000000000.0 / count(*)
    AS lm_score
FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // --- BPE tokenizer-training first merge: count adjacent
    // character pairs weighted by word frequency and surface the
    // top-20 merge candidates — iteration one of byte-pair-encoding
    // vocabulary induction. The standard scale trick is built in:
    // pairs are enumerated over DISTINCT words (a 1B-token corpus
    // collapses to ~1M distinct words first), weighted by the word's
    // corpus count — the expensive per-character explode runs on the
    // vocabulary, not the corpus. Pure integer counting end to end;
    // two-phase aggs on both stages; top-20 is TakeOrderedAndProject.
    QueryDef("q_bpe_merge",
      (spark, dir) => {
        val words = Tables.documents(spark, dir)
          .select(explode(toks(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
        words.filter(length(col("w")) >= 2)
          .select(col("wc"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"))
            .as("pair"))
          .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(20)
      },
      Some("""WITH wf AS (
  SELECT w, count(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w),
pp AS (
  SELECT wc, w[i : i + 1] AS pair
  FROM (SELECT w, wc, unnest(range(1, length(w))) AS i
        FROM wf WHERE length(w) >= 2))
SELECT pair, CAST(sum(wc) AS BIGINT) AS n
FROM pp GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),

    // --- ITERATED BPE TO A MERGE BUDGET (q_bpe_merge made a real
    // tokenizer-induction loop): K merge rounds driven by a Scala
    // loop issuing DISTRIBUTED queries — each round computes the
    // argmax adjacent pair over the DISTINCT-WORD table (never the
    // corpus: the word table is the O(vocab) state real BPE trainers
    // iterate), collects exactly ONE row to the driver, and rewrites
    // the token arrays with a left-to-right greedy fold (the
    // Sennrich merge rule: "aaa" + (a,a) → ["aa","a"]). Ties break
    // deterministically (count desc, then pair). The DuckDB oracle
    // restates the FULL merge sequence with the identical fold
    // (list_reduce), so every round's choice is hash-gated — not
    // just the first merge. At 100 TB each round costs O(distinct
    // words); corpus size enters once, at the word count.
    QueryDef("q_bpe_vocab",
      (spark, dir) => {
        import spark.implicits._
        val K = 4
        var words = Tables.documents(spark, dir)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 1)
          .groupBy(col("w")).agg(count(lit(1)).as("wc"))
          .select(split(col("w"), "").as("toks"), col("wc"))
          .pinned()
        val merges = Seq.newBuilder[(Int, String, String, Long)]
        var exhausted = false
        for (round <- 1 to K if !exhausted) {
          val top = words
            .filter(size(col("toks")) >= 2)
            .select(col("wc"), explode(expr(
              "transform(sequence(1, size(toks) - 1), " +
                "i -> struct(element_at(toks, i) AS l, " +
                "element_at(toks, i + 1) AS r))")).as("p"))
            .groupBy(col("p.l").as("l"), col("p.r").as("r"))
            .agg(sum(col("wc")).as("n"))
            .orderBy(col("n").desc, col("l"), col("r"))
            .limit(1).collect().headOption
          // a fully-merged / single-char vocabulary simply stops: the
          // oracle's m_k CTEs go empty the same round, so both sides
          // emit the same (shorter) merge sequence
          if (top.isEmpty) { exhausted = true }
          else {
          val (lv, rv, nv) = (top.get.getString(0), top.get.getString(1),
            top.get.getLong(2))
          merges += ((round, lv, rv, nv))
          // the greedy fold: non-overlapping left-to-right merge of
          // (lv, rv) into lv+rv across every word's token array
          val fold = org.apache.spark.sql.functions.aggregate(
            col("toks"), array().cast("array<string>"),
            (acc, t) => when(size(acc) > lit(0) &&
                element_at(acc, -1) === lit(lv) && t === lit(rv),
              concat(slice(acc, lit(1), size(acc) - lit(1)),
                array(lit(lv + rv))))
              .otherwise(concat(acc, array(t))))
          words = words.select(fold.as("toks"), col("wc"))
            .pinned()
          }
        }
        merges.result().toDF("round", "l", "r", "n")
          .orderBy(col("round"))
      },
      Some("""WITH w0 AS (
  SELECT string_split(w, '') AS toks, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 1 GROUP BY w),
p1 AS (
  SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(wc) AS BIGINT) AS n
  FROM (SELECT toks, wc, unnest(range(1, len(toks))) AS i FROM w0)
  GROUP BY 1, 2),
m1 AS (SELECT l, r, n FROM p1 ORDER BY n DESC, l, r LIMIT 1),
w1 AS (
  SELECT list_reduce(list_transform(toks, t -> [t]),
    (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
      THEN acc[:-2] || [m.l || m.r] ELSE acc || x END) AS toks, wc
  FROM w0, m1 m),
p2 AS (
  SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(wc) AS BIGINT) AS n
  FROM (SELECT toks, wc, unnest(range(1, len(toks))) AS i FROM w1)
  GROUP BY 1, 2),
m2 AS (SELECT l, r, n FROM p2 ORDER BY n DESC, l, r LIMIT 1),
w2 AS (
  SELECT list_reduce(list_transform(toks, t -> [t]),
    (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
      THEN acc[:-2] || [m.l || m.r] ELSE acc || x END) AS toks, wc
  FROM w1, m2 m),
p3 AS (
  SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(wc) AS BIGINT) AS n
  FROM (SELECT toks, wc, unnest(range(1, len(toks))) AS i FROM w2)
  GROUP BY 1, 2),
m3 AS (SELECT l, r, n FROM p3 ORDER BY n DESC, l, r LIMIT 1),
w3 AS (
  SELECT list_reduce(list_transform(toks, t -> [t]),
    (acc, x) -> CASE WHEN acc[-1] = m.l AND x[1] = m.r
      THEN acc[:-2] || [m.l || m.r] ELSE acc || x END) AS toks, wc
  FROM w2, m3 m),
p4 AS (
  SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(wc) AS BIGINT) AS n
  FROM (SELECT toks, wc, unnest(range(1, len(toks))) AS i FROM w3)
  GROUP BY 1, 2),
m4 AS (SELECT l, r, n FROM p4 ORDER BY n DESC, l, r LIMIT 1)
SELECT * FROM (
  SELECT CAST(1 AS INT) AS round, l, r, n FROM m1
  UNION ALL SELECT CAST(2 AS INT), l, r, n FROM m2
  UNION ALL SELECT CAST(3 AS INT), l, r, n FROM m3
  UNION ALL SELECT CAST(4 AS INT), l, r, n FROM m4
) ORDER BY round"""),
    ),

    // --- INVERTED-INDEX BUILD: term → (df, cf, posting list), the
    // retrieval-side artifact a BM25/rerank stack serves from (the
    // index q_bm25 implicitly recomputes per query, materialized).
    // Postings are doc-sorted inside each term group — sorting INSIDE
    // the group (zero-padded doc ids, then array_sort) makes the list
    // partitioning-independent, the same doctrine as q_string_agg;
    // the gated value is the md5 of the serialized list, so the
    // contract covers posting ORDER and CONTENT without emitting an
    // array column. Two two-phase aggs (term×doc tf, then term);
    // per-term posting size is vocabulary-bounded — at 100 TB the
    // same shape shards terms across executors and each group's list
    // builds locally after the term shuffle.
    QueryDef("q_inverted_index",
      (spark, dir) => {
        val tf = Tables.documents(spark, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
        tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            md5(array_join(array_sort(collect_list(
              concat(lpad(col("doc_id").cast("string"), 8, "0"),
                lit(":"), col("tf")))), ",")).as("postings_md5"))
          .orderBy(col("df").desc, col("term"))
          .limit(30)
      },
      Some("""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS cf,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
  md5(string_agg(
    lpad(CAST(doc_id AS VARCHAR), 8, '0') || ':' || CAST(tf AS VARCHAR), ','
    ORDER BY lpad(CAST(doc_id AS VARCHAR), 8, '0'))) AS postings_md5
FROM tf GROUP BY term ORDER BY df DESC, term LIMIT 30""")),

    // --- INVERTED INDEX AS A COMMITTED TABLE (the text twin of
    // q_ann_index_serve, and q_inverted_index's build made a
    // LIFECYCLE): the posting table lives as ManifestSink snapshots,
    // range-laid-out on the term-hash key — built once, maintained
    // INCREMENTALLY (an appended doc slice computes only ITS OWN
    // postings; the committed base parts carry by reference in a KB
    // manifest commit), and SERVED from the committed head with part
    // pruning: a conjunctive 2-term query filters on the terms' hash
    // points, so key-range + per-part bloom admit only the O(terms)
    // posting parts — gated live from the scan's own partsSkipped
    // metric. At 100 TB the index is rebuilt never, maintained per
    // ingest batch, and a query opens parts proportional to its
    // terms, not to the corpus. Scoring is exact integer sum-of-tf
    // (BM25 weighting is q_bm25's gate; THIS gate is the index
    // lifecycle), restated by the oracle from the raw corpus; the
    // pre-delta snapshot is proven delta-free (time travel).
    QueryDef("q_text_index_serve",
      (spark, dir) => {
        val t = Scratch.fresh(spark, dir, "text-index-serve")
        // (term_hash, tok, doc_id, tf) postings for a corpus slice —
        // computed ONLY over the slice: the incrementality
        // NOT fanned out (guide §1.1 measure-first): the postings feed
        // range-partitioned index writes whose sampling pass re-runs
        // the subtree — fanned, the ladder measured SLOWER
        // (q_bm25_idx 3.24 s → 5.01 s). A localCheckpoint ahead of the
        // range writes was also measured (r21) and reverted: the
        // sampling pass reuses the groupBy's shuffle files, so only the
        // post-shuffle agg is double-computed — here (2 writes) the pin
        // measured flat (1.30 vs 1.36 s median).
        def postings(slice: org.apache.spark.sql.DataFrame) = slice
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy(col("tok"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .select(xxhash64(col("tok")).as("term_hash"), col("tok"),
            col("doc_id"), col("tf"))
        val docs = Tables.documents(spark, dir)
        postings(docs.filter(col("doc_id") % 5 =!= 0))
          .repartitionByRange(4, col("term_hash"), col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", t).option("history", "true")
          .mode("overwrite").save()
        postings(docs.filter(col("doc_id") % 5 === 0))
          .repartitionByRange(2, col("term_hash"), col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", t).option("history", "true")
          .mode("append").save()
        // the base snapshot predates the delta docs entirely
        val baseIntact = spark.read
          .format("graft.sources.ManifestSource")
          .option("path", t).option("version", 1).load()
          .filter(col("doc_id") % 5 === 0).count() == 0L
        // serve: the terms' hash points reach the scan as key-column
        // IN pruning (range + bloom); tok stays as the exactness
        // residual against hash collisions
        val hr = spark.range(1).select(
          xxhash64(lit("spark")).as("a"), xxhash64(lit("table")).as("b"))
          .head()
        def served() = spark.read
          .format("graft.sources.ManifestSource")
          .option("path", t).load()
          .filter(col("term_hash").isin(hr.getLong(0), hr.getLong(1)) &&
            col("tok").isin("spark", "table"))
          .groupBy(col("doc_id"))
          .agg(
            sum(when(col("tok") === "spark", col("tf")).otherwise(0L))
              .as("tf_spark"),
            sum(when(col("tok") === "table", col("tf")).otherwise(0L))
              .as("tf_table"))
          .filter(col("tf_spark") > 0 && col("tf_table") > 0)
          .select(col("doc_id"), col("tf_spark"), col("tf_table"),
            (col("tf_spark") + col("tf_table")).as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
        val probe = served()
        probe.collect() // driver metrics populate on execution
        val skipped = partsSkippedOf(probe)
        served()
          .withColumn("index_pruned", lit(skipped > 0))
          .withColumn("base_snapshot_intact", lit(baseIntact))
      },
      Some("""WITH f AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
      AS BIGINT) AS tf_spark,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'table'))
      AS BIGINT) AS tf_table
  FROM documents)
SELECT doc_id, tf_spark, tf_table, tf_spark + tf_table AS score,
  true AS index_pruned, true AS base_snapshot_intact
FROM f WHERE tf_spark > 0 AND tf_table > 0
ORDER BY score DESC, doc_id LIMIT 20""")),

    // --- BM25 SERVED FROM THE COMMITTED INDEX (q_text_index_serve's
    // lifecycle completed into real retrieval — r17 VERDICT item 3):
    // the query NEVER rescans the corpus. The index is TWO committed
    // ManifestSink tables — postings (term_hash, tok, doc_id, tf)
    // range-laid on term hash, and doclen (doc_id, dl) — both built
    // over a base slice and maintained INCREMENTALLY (the delta
    // appends only ITS OWN postings/lengths; committed parts carry by
    // reference). At serve time:
    //  * corpus stats (N, Σdl → avgdl) answer METADATA-ONLY from the
    //    doclen manifest (per-part row counts + recorded column sums,
    //    the q_agg_pushdown path) — gated via `stats_meta_only`;
    //  * the 3 query terms reach the postings scan as key-point IN
    //    pruning (range + bloom admit O(terms) parts; `index_pruned`
    //    gates it live from partsSkipped);
    //  * per-term df folds over the opened postings (df = posting
    //    count — exact, since (term, doc) rows are unique);
    //  * candidates (every doc holding ≥1 term — the only docs whose
    //    BM25 score can be nonzero) BROADCAST onto the doclen scan
    //    for their dl, so the big side never shuffles.
    // Scoring is bit-identical to q_bm25 (same expression tree, same
    // rational-idf surrogate); `agrees_bm25` gates rank agreement
    // with the corpus-side q_bm25 on the shared fixture. At 100 TB a
    // retrieval query therefore opens O(terms) posting parts + one
    // manifest header — cost scales with the QUERY, not the corpus.
    QueryDef("q_bm25_idx",
      (spark, dir) => {
        val root = Scratch.fresh(spark, dir, "bm25-idx")
        val pT = s"$root/postings"
        val dT = s"$root/doclen"
        // NOT fanned out (guide §1.1 measure-first): the postings feed
        // range-partitioned index writes whose sampling pass re-runs
        // the subtree — fanned, the ladder measured SLOWER
        // (q_bm25_idx 3.24 s → 5.01 s). Not pinned either: the r21
        // pin measured slower on 8 cores (2.53 → 3.20 s).
        def postings(slice: org.apache.spark.sql.DataFrame) = slice
          .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
          .filter(length(col("tok")) > 0)
          .groupBy(col("tok"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .select(xxhash64(col("tok")).as("term_hash"), col("tok"),
            col("doc_id"), col("tf"))
        // dl = ALL whitespace tokens (q_bm25's definition), not just
        // the non-empty ones the postings index
        def doclen(slice: org.apache.spark.sql.DataFrame) = slice
          .select(col("doc_id"), size(toks(col("text"))).cast("long").as("dl"))
        val docs = Tables.documents(spark, dir)
        val base = docs.filter(col("doc_id") % 5 =!= 0)
        val delta = docs.filter(col("doc_id") % 5 === 0)
        postings(base)
          .repartitionByRange(4, col("term_hash"), col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", pT).option("history", "true")
          .mode("overwrite").save()
        doclen(base).repartitionByRange(4, col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", dT).option("history", "true")
          .mode("overwrite").save()
        // incremental maintenance: delta-only postings + lengths
        postings(delta)
          .repartitionByRange(2, col("term_hash"), col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", pT).option("history", "true")
          .mode("append").save()
        doclen(delta).repartitionByRange(2, col("doc_id"))
          .write.format("graft.sources.ManifestSink")
          .option("path", dT).option("history", "true")
          .mode("append").save()
        // corpus stats FROM INDEX METADATA: one summary row off the
        // doclen manifest (rows + per-part dl sums), no data scan
        val statsAgg = spark.read
          .format("graft.sources.ManifestSource").option("path", dT).load()
          .agg(count(lit(1)).as("n_docs_l"), sum(col("dl")).as("sum_dl_l"))
        val statsMetaOnly = {
          val sp = statsAgg.queryExecution.sparkPlan
          val summaryParts = sp.collectFirst {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.inputPartitions.length
          }.getOrElse(-1)
          summaryParts == 1 && graft.sources.PlanProbes.aggPushedDown(sp)
        }
        val st = statsAgg.head()
        val nDocs = lit(st.getLong(0).toDouble)
        val sumDl = lit(st.getLong(1).toDouble)
        val terms = Seq("spark", "table", "query")
        val hr = spark.range(1)
          .select(terms.map(t => xxhash64(lit(t)).as(t)): _*).head()
        val hashes = terms.indices.map(i => hr.getLong(i))
        // postings for the query's terms: hash points prune parts,
        // tok equality stays as the residual against hash collisions
        def termPostings() = spark.read
          .format("graft.sources.ManifestSource").option("path", pT).load()
          .filter(col("term_hash").isin(hashes: _*) &&
            col("tok").isin(terms: _*))
        def pivot(p: org.apache.spark.sql.DataFrame) = p
          .groupBy(col("doc_id"))
          .agg(terms.zipWithIndex.map { case (t, i) =>
            sum(when(col("tok") === t, col("tf")).otherwise(0L))
              .as(s"f${i}l")
          }.head, terms.zipWithIndex.tail.map { case (t, i) =>
            sum(when(col("tok") === t, col("tf")).otherwise(0L))
              .as(s"f${i}l")
          }: _*)
        // prune gate on a probe execution (collect populates metrics)
        val probe = pivot(termPostings())
        probe.collect()
        val skipped = partsSkippedOf(probe)
        // df per term folds over the SAME opened postings (exact:
        // one (term, doc) row per containing doc)
        val dfRow = pivot(termPostings())
          .agg(terms.indices.map(i =>
            sum((col(s"f${i}l") > 0).cast("long")).as(s"df$i")).head,
            terms.indices.tail.map(i =>
              sum((col(s"f${i}l") > 0).cast("long")).as(s"df$i")): _*)
          .head()
        val dfs = terms.indices.map(i => lit(dfRow.getLong(i).toDouble))
        // candidates broadcast onto the doclen scan for their dl;
        // score = q_bm25's expression tree verbatim
        val cand = spark.read
          .format("graft.sources.ManifestSource").option("path", dT).load()
          .join(broadcast(pivot(termPostings())), "doc_id")
          .select(col("doc_id") +: col("dl").cast("double").as("dld") +:
            terms.indices.map(i =>
              col(s"f${i}l").cast("double").as(s"f$i")): _*)
        val scored = cand.withColumn("score", terms.indices.map { i =>
          val idf = (nDocs - dfs(i) + lit(0.5)) / (dfs(i) + lit(0.5))
          val norm = col(s"f$i") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dld") / (sumDl / nDocs)))
          when(col(s"f$i") > 0, idf * ((col(s"f$i") * lit(2.2)) / norm))
            .otherwise(lit(0.0))
        }.reduce(_ + _))
          .select(col("doc_id"), col("dld").cast("bigint").as("dl"),
            col("f0").cast("bigint").as("f0"),
            col("f1").cast("bigint").as("f1"),
            col("f2").cast("bigint").as("f2"), col("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
        // rank agreement with the corpus-side q_bm25 (zero-score docs
        // can pad its top-20 when candidates run short; drop them —
        // the index provably cannot see score-0 docs)
        val ours = scored.select("doc_id").collect().map(_.getLong(0)).toSeq
        val ref = bm25Top(spark, dir).filter(col("score") > 0)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        val agrees = ours == ref.take(ours.length) &&
          ours.length == math.min(20, ref.length)
        scored
          .withColumn("index_pruned", lit(skipped > 0))
          .withColumn("stats_meta_only", lit(statsMetaOnly))
          .withColumn("agrees_bm25", lit(agrees))
      },
      Some("""WITH base AS (
  SELECT doc_id,
    CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'spark'))
      AS DOUBLE) AS f0,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'table'))
      AS DOUBLE) AS f1,
    CAST(len(list_filter(string_split(text, ' '), x -> x = 'query'))
      AS DOUBLE) AS f2
  FROM documents),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) AS sum_dl,
    CAST(sum(CASE WHEN f0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
    CAST(sum(CASE WHEN f1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
    CAST(sum(CASE WHEN f2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
  FROM base),
cand AS (
  SELECT doc_id, CAST(dl AS BIGINT) AS dl,
    CAST(f0 AS BIGINT) AS f0, CAST(f1 AS BIGINT) AS f1,
    CAST(f2 AS BIGINT) AS f2,
    (CASE WHEN f0 > 0 THEN ((n_docs - df0 + 0.5) / (df0 + 0.5))
      * ((f0 * 2.2) / (f0 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
      ELSE 0.0 END
    + CASE WHEN f1 > 0 THEN ((n_docs - df1 + 0.5) / (df1 + 0.5))
      * ((f1 * 2.2) / (f1 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
      ELSE 0.0 END)
    + CASE WHEN f2 > 0 THEN ((n_docs - df2 + 0.5) / (df2 + 0.5))
      * ((f2 * 2.2) / (f2 + 1.2 * (0.25 + 0.75 * (dl / (sum_dl / n_docs)))))
      ELSE 0.0 END AS score
  FROM base, stats
  WHERE f0 + f1 + f2 > 0
  ORDER BY score DESC, doc_id LIMIT 20)
SELECT doc_id, dl, f0, f1, f2, score,
  true AS index_pruned, true AS stats_meta_only, true AS agrees_bm25
FROM cand ORDER BY score DESC, doc_id""")),
  )

  /** BM25 top-20 for the fixed 3-term query — shared by q_bm25 (the
    * gated output) and q_bm25_rerank (stage-1 candidates). See the
    * q_bm25 comment for the idf surrogate + exactness argument. */
  private[graft] def bm25Top(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val terms = Seq("spark", "table", "query")
    val tk = split(col("text"), " ")
    val base = Tables.documents(spark, dir)
      .select(col("doc_id") +: size(tk).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(tk, x => x === lit(t))).cast("double").as(s"f$i")
        }: _*)
    val statCols =
      sum(col("dl")).cast("bigint").cast("double").as("sum_dl") +:
        terms.indices.map(i =>
          sum((col(s"f$i") > 0).cast("long")).cast("double").as(s"df$i"))
    val stats = base.agg(
      count(lit(1)).cast("double").as("n_docs"), statCols: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("score", terms.indices.map { i =>
        val idf = (col("n_docs") - col(s"df$i") + lit(0.5)) /
          (col(s"df$i") + lit(0.5))
        val norm = col(s"f$i") + lit(1.2) *
          (lit(0.25) + lit(0.75) * (col("dl") / (col("sum_dl") / col("n_docs"))))
        when(col(s"f$i") > 0, idf * ((col(s"f$i") * lit(2.2)) / norm))
          .otherwise(lit(0.0))
      }.reduce(_ + _))
      .select(col("doc_id"), col("dl").cast("bigint").as("dl"),
        col("f0").cast("bigint").as("f0"),
        col("f1").cast("bigint").as("f1"),
        col("f2").cast("bigint").as("f2"), col("score"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(20)
  }

}
