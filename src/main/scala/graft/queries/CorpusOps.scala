package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.util.Pin.PinOps

/** Corpus-preparation operators for an LLM training-data pipeline:
  * context-window chunking, sequence packing, repetition/quality
  * signals, term redaction, and near-duplicate cluster resolution
  * (connected components).
  *
  * These are the steps BETWEEN near-dup detection (SimOps/TextOps)
  * and the tokenizer: once pairs are known the pipeline must resolve
  * them to clusters and pick one canonical doc per cluster
  * (q_dup_components); survivors are chunked to the context window
  * (q_chunk_docs), packed into fixed-length training sequences
  * (q_pack_sequences), scored for degenerate repetition
  * (q_repetition), and scrubbed of blocklisted terms (q_redact).
  * Generalizes the reference's per-record preprocessing chain
  * (reference: queue_time_predictions/preprocess_image.py:82-107
  * crop/normalize = "shape the record for the model") to
  * corpus-at-a-time set form.
  *
  * Scale notes per operator are on each QueryDef; the common theme is
  * that nothing here is all-pairs or single-partition: chunking and
  * redaction are pure narrow maps, packing partitions by a shard key,
  * and component resolution is Pregel-style min-label propagation
  * whose per-round shuffle is bounded by the (already skew-capped)
  * edge list.
  */
object CorpusOps {

  /** Training context chunking: width 120 chars, stride 80 (40-char
    * overlap so no boundary-straddling span is ever unseen). */
  private val ChunkWidth = 120
  private val ChunkStride = 80

  /** Packed-sequence length in whitespace tokens. */
  private val PackLen = 512

  /** Range buckets per shard for q_pack_sequences' hierarchical
    * prefix sum (the per-shard parallelism of the packing stage; a
    * cluster deployment sizes this to executor count). */
  private val PackBuckets = 32

  /** Blocklist for q_redact (word-boundary regex, identical RE2/Java
    * semantics on both engines). */
  private val RedactPat = "\\b(customer|key|vector|value)\\b"

  /** Per-stratum keep count for q_sample_stratified. */
  private val SampleCap = 60

  /** Output shards for q_shuffle_det (a cluster sizes this to the
    * training job's data-loader world size). */
  private val ShuffleShards = 64

  /** Span width (tokens) for q_dedup_span's sub-document dedup. */
  private val SpanTokens = 10

  /** Position encoding base for q_dedup_span's (doc, span) total order:
    * pos = doc_id * SpanPosEnc + span_idx. Valid while span_idx <
    * SpanPosEnc — 4096 spans × 10 tokens = 40k tokens per doc, far
    * above the corpus max; the arithmetic encoding lets BOTH engines
    * take a plain `min` instead of a lexicographic struct-min. */
  private val SpanPosEnc = 4096L

  val all: Seq[QueryDef] = Seq(

    // --- Context-window chunking with overlap: one output row per
    // (doc, chunk). A pure narrow map — sequence() generates the
    // chunk starts, explode fans out, substr slices — so there is NO
    // shuffle before the output sort: at 100 TB this is a single
    // scan-shaped stage whose output is ~len/stride× the input rows,
    // exactly as parallel as the source files. Chunk boundaries are
    // deterministic byte offsets, so re-runs are idempotent and a
    // chunk is addressable as (doc_id, chunk_idx).
    QueryDef("q_chunk_docs",
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), length(col("text")) - 1,
            lit(ChunkStride))).as("start"))
        .select(col("doc_id"),
          (col("start") / lit(ChunkStride)).cast("bigint").as("chunk_idx"),
          col("start").cast("bigint").as("start"),
          col("text").substr(col("start") + 1, lit(ChunkWidth)).as("chunk"),
          length(col("text").substr(col("start") + 1, lit(ChunkWidth)))
            .as("chunk_len"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some(s"""SELECT doc_id,
  CAST(start // $ChunkStride AS BIGINT) AS chunk_idx,
  CAST(start AS BIGINT) AS start,
  substring(text, start + 1, $ChunkWidth) AS chunk,
  CAST(length(substring(text, start + 1, $ChunkWidth)) AS INT) AS chunk_len
FROM (SELECT doc_id, text,
        unnest(generate_series(0, length(text) - 1, $ChunkStride)) AS start
      FROM documents)
ORDER BY doc_id, chunk_idx""")),

    // --- Sequence packing (concat-and-split): deterministically order
    // docs within a shard (lang), run a cumulative token count, and
    // chop the concatenated stream into fixed $PackLen-token training
    // sequences. Each doc learns which pack it starts in, its offset,
    // and how many packs it spans.
    //
    // The running sum is a HIERARCHICAL prefix sum, not a
    // partitionBy(lang) window: lang has a handful of values, so a
    // per-lang window serializes each shard's ~N/|lang| rows onto ONE
    // task — at 100 TB that is a single task chewing tens of TB. The
    // scale-safe decomposition splits each shard into PackBuckets
    // RANGE buckets of doc_id (the bucket function must be MONOTONE
    // in the ordering key — a hash bucket interleaves doc_ids across
    // buckets and the decomposition is wrong):
    //   1. per (lang, bucket): local running sum — parallel across
    //      |lang|×PackBuckets tasks;
    //   2. per (lang, bucket) token totals → exclusive prefix over the
    //      ≤PackBuckets rows per lang (a window over a TINY aggregate,
    //      |lang|×PackBuckets rows total) = each bucket's offset;
    //   3. broadcast the offset table back and add.
    // global_end(row) = local_end(row) + offset(bucket) exactly
    // because every doc in an earlier bucket has a smaller doc_id.
    // Bucket width comes from max(doc_id) via a broadcast 1-row
    // cross-join (no driver collect); `div` keeps the arithmetic in
    // exact 64-bit integers (doc_ids are non-negative). Same oracle
    // as the flat window — the decomposition is an implementation
    // detail invisible in the output. SUM over a window is HUGEINT in
    // DuckDB → CAST AS BIGINT (oracle-playbook rule).
    QueryDef("q_pack_sequences",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
        val bounds = docs.agg(max(col("doc_id")).as("max_id"))
          .select(expr(s"(max_id div $PackBuckets) + 1").as("bucket_width"))
        val bucketed = docs.crossJoin(broadcast(bounds))
          .withColumn("bucket",
            expr("doc_id div bucket_width").cast("int"))
          .drop("bucket_width")
        val wLocal = Window.partitionBy(col("lang"), col("bucket"))
          .orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = bucketed
          .withColumn("local_end", sum(col("n_tokens")).over(wLocal))
        val wOffset = Window.partitionBy(col("lang")).orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = bucketed.groupBy(col("lang"), col("bucket"))
          .agg(sum(col("n_tokens")).as("bucket_total"))
          .withColumn("bucket_offset",
            coalesce(sum(col("bucket_total")).over(wOffset), lit(0L)))
          .select(col("lang"), col("bucket"), col("bucket_offset"))
        local.join(broadcast(offsets), Seq("lang", "bucket"))
          .withColumn("end_tok", col("local_end") + col("bucket_offset"))
          .withColumn("start_tok", col("end_tok") - col("n_tokens"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            col("start_tok"),
            (col("start_tok") / lit(PackLen)).cast("bigint").as("pack_id"),
            (col("start_tok") % lit(PackLen)).cast("bigint").as("pack_offset"),
            (((col("end_tok") - 1) / lit(PackLen)).cast("bigint")
              - (col("start_tok") / lit(PackLen)).cast("bigint") + 1)
              .as("packs_spanned"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
  SELECT doc_id, lang,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, lang, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
  FROM t)
SELECT doc_id, lang, n_tokens,
  end_tok - n_tokens AS start_tok,
  CAST((end_tok - n_tokens) // $PackLen AS BIGINT) AS pack_id,
  CAST((end_tok - n_tokens) % $PackLen AS BIGINT) AS pack_offset,
  CAST((end_tok - 1) // $PackLen - (end_tok - n_tokens) // $PackLen + 1
       AS BIGINT) AS packs_spanned
FROM c ORDER BY doc_id""")),

    // --- Degenerate-repetition signal (the "most common n-gram
    // share" family of quality filters): per doc, the share of all
    // token bigrams taken by the single most frequent one. Two-phase
    // aggregation — (doc_id, bigram) counts collapse map-side before
    // the shuffle, then a per-doc rollup — so the shuffle carries one
    // row per DISTINCT bigram per doc, not one per token. Docs with
    // <2 tokens have no bigrams and drop out on both sides.
    QueryDef("q_repetition",
      (spark, dir) => {
        val t = split(col("text"), " ")
        // size>=2 guard: sequence(1, 0) would be a DESCENDING range
        // (same footgun TextOps.shingles documents).
        // slice+concat_ws measured FASTER than the allocation-free-
        // looking get()/concat pair (1.9 s vs 3.0 s at sf0.1): the
        // 0-based get() null-guards each ordinal and breaks the
        // codegen fast path, costing more than the tiny slice array.
        val bigrams = when(size(t) >= 2,
          transform(sequence(lit(1), size(t) - 1),
            i => concat_ws(" ", slice(t, i, lit(2)))))
          .otherwise(array().cast("array<string>"))
        // fan the one-task single-file scan out before the bigram
        // explode + partial aggregate — the split/slice/concat chain
        // over every token is the cost and it runs in the scan stage
        // (guide §2.5); the exchange carries only (doc_id, text)
        graft.util.Par.fanOut(Tables.documents(spark, dir)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"), explode(bigrams).as("bg"))
          .groupBy(col("doc_id"), col("bg"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("distinct_bigrams"),
            sum(col("n")).as("n_bigrams"),
            max(col("n")).as("top_bigram_n"))
          .select(col("doc_id"), col("distinct_bigrams"), col("n_bigrams"),
            col("top_bigram_n"),
            (col("top_bigram_n").cast("double")
              / col("n_bigrams").cast("double")).as("top_share"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
bg AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
    i -> tk[i] || ' ' || tk[i + 1])) AS bg
  FROM t WHERE len(tk) >= 2),
c AS (SELECT doc_id, bg, count(*) AS n FROM bg GROUP BY 1, 2)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS distinct_bigrams,
  CAST(sum(n) AS BIGINT) AS n_bigrams,
  CAST(max(n) AS BIGINT) AS top_bigram_n,
  CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS top_share
FROM c GROUP BY doc_id ORDER BY doc_id""")),

    // --- Blocklist term redaction (the PII-scrub shape: replace every
    // match, count what was replaced). Word-boundary regex so partial
    // tokens survive; the output carries a digest of the redacted
    // text, not the text, so the operator also demonstrates the
    // "verify a transform by fingerprint" audit pattern. Narrow map,
    // no shuffle; regexp_replace/regexp_count stay inside whole-stage
    // codegen.
    QueryDef("q_redact",
      (spark, dir) => {
        val red = regexp_replace(col("text"), RedactPat, "<term>")
        Tables.documents(spark, dir).select(
          col("doc_id"),
          regexp_count(col("text"), lit(RedactPat)).as("n_redacted"),
          md5(red).as("redacted_md5"),
          length(red).as("redacted_len"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
  CAST(len(regexp_extract_all(text, '\\b(customer|key|vector|value)\\b'))
       AS INT) AS n_redacted,
  md5(regexp_replace(text, '\\b(customer|key|vector|value)\\b', '<term>', 'g'))
    AS redacted_md5,
  CAST(length(regexp_replace(text, '\\b(customer|key|vector|value)\\b',
       '<term>', 'g')) AS INT) AS redacted_len
FROM documents ORDER BY doc_id""")),

    // --- Near-dup cluster resolution: connected components over the
    // capped levenshtein pair graph (SimOps.levPairs), via
    // [[connectedComponents]] (Pregel-style min-label propagation +
    // pointer jumping) — every doc converges to the minimum doc_id
    // reachable through near-dup edges, which is the cluster's
    // canonical representative (the step that turns PAIRS into
    // KEEP/DROP decisions in a real dedup pipeline). The oracle
    // computes the same fixpoint exactly with a recursive CTE — both
    // sides are the unique minimum-label fixpoint, independent of
    // iteration order.
    QueryDef("q_dup_components",
      (spark, dir) => {
        val pairs = SimOps.levPairs(spark, dir).select(col("a_id"), col("b_id"))
        val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
        val labels = connectedComponents(nodes, pairs.toDF("s", "t"))
        val w = Window.partitionBy(col("component"))
        labels.select(col("id").as("doc_id"), col("comp").as("component"))
          .withColumn("component_size", count(lit(1)).over(w))
          .withColumn("is_canonical",
            (col("doc_id") === col("component")).cast("int"))
          .orderBy(col("doc_id"))
      },
      dupComponentsOracle),

    // --- Quality-aware cluster canonicalization: the KEEP/DROP policy
    // real dedup pipelines actually ship — within each near-dup
    // cluster keep the HIGHEST-QUALITY doc (here quality = text
    // length; production plugs in q_quality_score), not the minimum
    // id. Composition: [[connectedComponents]] resolves clusters, the
    // per-cluster argmax runs on the native GroupTopK operator (k=1:
    // partial per-partition heaps, the shuffle carries one row per
    // (partition, component) — a row_number window would sort whole
    // clusters), and the keep flag broadcasts back. Oracle = the
    // recursive-CTE fixpoint + row_number argmax: same answer, the
    // plan shape is the scale property.
    QueryDef("q_dedup_keep_best",
      (spark, dir) => {
        val pairs = SimOps.levPairs(spark, dir).select(col("a_id"), col("b_id"))
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), length(col("text")).cast("bigint").as("quality"))
        val labels = connectedComponents(
          docs.select(col("doc_id").as("id")), pairs.toDF("s", "t"))
          .select(col("id").as("doc_id"), col("comp").as("component"))
        val scored = labels.join(docs, Seq("doc_id"))
        val best = graft.plans.GroupTopK.topK(scored, Seq("component"),
          Seq(("quality", true), ("doc_id", false)), 1)
          .select(col("component"), col("doc_id").as("best_id"))
        scored.join(best, Seq("component"))
          .select(col("doc_id"), col("component"), col("quality"),
            (col("doc_id") === col("best_id")).cast("int").as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH RECURSIVE $DupComponentsCteSql,
q AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS quality FROM documents),
scored AS (
  SELECT l.doc_id, CAST(l.component AS BIGINT) AS component, q.quality
  FROM lab l JOIN q ON q.doc_id = l.doc_id),
best AS (
  SELECT component, doc_id AS best_id FROM (
    SELECT component, doc_id, row_number() OVER (PARTITION BY component
      ORDER BY quality DESC, doc_id) AS rn FROM scored) WHERE rn = 1)
SELECT s.doc_id, s.component, s.quality,
  CAST(CASE WHEN s.doc_id = b.best_id THEN 1 ELSE 0 END AS INT) AS keep
FROM scored s JOIN best b ON b.component = s.component
ORDER BY s.doc_id""")),

    // --- Eval-set decontamination: flag every training doc sharing a
    // 3-token shingle with the held-out split (doc_id % 10 == 0 here;
    // production keys the split off a manifest). THE dedup-adjacent
    // step every serious LLM corpus runs — benchmark answers leaking
    // into training data inflate evals. Shape: the eval split's
    // distinct shingle h64s form a fingerprint set; train shingles
    // left-semi join it (shuffle on the 8-byte hash, never text),
    // count per doc, left join back for the zero rows. At 100 TB the
    // eval fingerprint set is tiny (eval sets are thousands of docs)
    // → Catalyst broadcasts it and the scan never shuffles; the h64
    // shingles are the same cross-engine hashes the minhash pipeline
    // uses, so the oracle replays the pipeline exactly.
    QueryDef("q_decontaminate",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        // fan out before the md5-per-token shingle build (guide §2.5;
        // both the eval and train branches inherit the parallelism)
        val sh = graft.util.Par.fanOut(
            docs.select(col("doc_id"), col("text")))
          .select(col("doc_id"), SimOps.tokenHashes(col("text")).as("th"))
          .select(col("doc_id"),
            explode(SimOps.shingleHashesFromTokenHashes(col("th"))).as("h"))
        val evalSh = sh.filter(col("doc_id") % 10 === 0)
          .select(col("h")).distinct()
        val hits = sh.filter(col("doc_id") % 10 =!= 0)
          .join(evalSh, Seq("h"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shared_shingles"))
        docs.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shared_shingles"), lit(0L)).as("n_shared_shingles"),
            (coalesce(col("n_shared_shingles"), lit(0L)) > 0)
              .cast("int").as("contaminated"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${SimOps.ShingleCteSql},
ev AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0),
hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM sh s JOIN ev USING (h)
  WHERE s.doc_id % 10 <> 0
  GROUP BY s.doc_id)
SELECT d.doc_id,
  CAST(coalesce(n, 0) AS BIGINT) AS n_shared_shingles,
  CAST(CASE WHEN coalesce(n, 0) > 0 THEN 1 ELSE 0 END AS INT) AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
WHERE d.doc_id % 10 <> 0
ORDER BY doc_id""")),

    // --- Balanced stratified sample: keep a deterministic
    // $SampleCap-doc uniform sample per lang — rank docs by the
    // cross-engine h64 of their id (a fixed random permutation both
    // engines agree on) and keep the first $SampleCap per stratum.
    // Runs on the native GroupTopK operator: partial per-partition
    // heaps of size cap collapse map-side, so the shuffle carries at
    // most cap rows per (partition, lang) — the scale-safe form of
    // "row_number per group then filter", which would sort whole
    // strata. The oracle IS that row_number form; both sides are the
    // same deterministic sample.
    QueryDef("q_sample_stratified",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("lang"), col("doc_id"),
            graft.functions.OracleHash.h64(col("doc_id")).as("h"))
        graft.plans.GroupTopK.topK(docs, Seq("lang"),
          Seq(("h", false), ("doc_id", false)), SampleCap)
          .select(col("lang"), col("doc_id"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some(s"""SELECT lang, doc_id FROM (
  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
    ORDER BY ${graft.functions.OracleHash.h64Sql("doc_id")}, doc_id) AS rn
  FROM documents) WHERE rn <= $SampleCap
ORDER BY lang, doc_id""")),

    // --- Domain mix (epoch up-weighting): assign each source domain a
    // repeat factor and emit one row per (doc, epoch) — how a training
    // mix over-samples high-quality domains without copying bytes
    // (the epoch column becomes part of the data-loader's shuffle
    // key). Pure narrow map — literal CASE + sequence/explode, no
    // shuffle before the output sort; output volume is the weighted
    // row count, exactly as a mixing run materializes it.
    QueryDef("q_domain_mix",
      (spark, dir) => {
        val epochs = when(col("source") === "src0", lit(3))
          .when(col("source") === "src1", lit(2)).otherwise(lit(1))
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), epochs.as("epochs"))
          .select(col("doc_id"), col("source"), col("epochs"),
            explode(sequence(lit(0L), col("epochs").cast("bigint") - 1))
              .as("epoch"))
          .orderBy(col("doc_id"), col("epoch"))
      },
      Some("""SELECT doc_id, source, epochs,
  unnest(generate_series(0, epochs - 1)) AS epoch
FROM (SELECT doc_id, source,
        CAST(CASE WHEN source = 'src0' THEN 3
                  WHEN source = 'src1' THEN 2 ELSE 1 END AS INT) AS epochs
      FROM documents)
ORDER BY doc_id, epoch""")),

    // --- Sub-document (span-level) exact dedup: the line/paragraph
    // dedup pass real corpora run BETWEEN whole-doc dedup and near-dup
    // detection — boilerplate headers/footers repeat across millions
    // of otherwise-distinct pages. The spanizer here is deterministic
    // fixed-width ($SpanTokens-token) windows since the synthetic text
    // has no newlines; production swaps the splitter, the dedup shape
    // is identical. Each span keeps only its FIRST occurrence in
    // (doc_id, span_idx) order.
    //
    // Scale shape: spans are keyed by their cross-engine h64, so the
    // shuffle carries an 8-byte key + 8-byte pos, never span text. The
    // first-occurrence owner is a groupBy MIN — partial map-side
    // aggregation collapses hot boilerplate spans (the whole point of
    // the pass: some spans repeat millions of times) before the
    // shuffle, where a row_number-over-span window would sort entire
    // hot partitions. The join back is h64-keyed; per-doc rollup is a
    // second bounded shuffle on doc_id.
    QueryDef("q_dedup_span",
      (spark, dir) => {
        val tk = split(col("text"), " ")
        // fan out before the span explode + h64 (guide §2.5): spans
        // are consumed by the first-occurrence agg AND the join back,
        // and both re-run this subtree (the exchange is reused)
        val spans = graft.util.Par.fanOut(Tables.documents(spark, dir)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0),
                ((size(tk) - lit(1)) / lit(SpanTokens)).cast("int")),
              i => struct(i.cast("bigint").as("span_idx"),
                concat_ws(" ", slice(tk, i * lit(SpanTokens) + lit(1),
                  lit(SpanTokens))).as("span")))).as("s"))
          .select(col("doc_id"), col("s.span_idx").as("span_idx"),
            graft.functions.OracleHash.h64(col("s.span")).as("h"))
          .withColumn("pos",
            col("doc_id") * lit(SpanPosEnc) + col("span_idx"))
        val first = spans.groupBy(col("h"))
          .agg(min(col("pos")).as("first_pos"))
        spans.join(first, Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum((col("pos") === col("first_pos")).cast("bigint"))
              .as("n_kept"))
          .withColumn("n_dropped", col("n_spans") - col("n_kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
e AS (
  SELECT doc_id, tk,
    unnest(generate_series(0, (len(tk) - 1) // $SpanTokens)) AS i
  FROM t),
s AS (
  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
    ${graft.functions.OracleHash.h64Sql(
        s"array_to_string(list_slice(tk, i * $SpanTokens + 1, " +
          s"i * $SpanTokens + $SpanTokens), ' ')")} AS h,
    doc_id * $SpanPosEnc + i AS pos
  FROM e),
f AS (SELECT h, min(pos) AS first_pos FROM s GROUP BY h)
SELECT s.doc_id,
  CAST(count(*) AS BIGINT) AS n_spans,
  CAST(sum(CASE WHEN pos = first_pos THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(count(*) - sum(CASE WHEN pos = first_pos THEN 1 ELSE 0 END)
    AS BIGINT) AS n_dropped
FROM s JOIN f USING (h)
GROUP BY s.doc_id ORDER BY doc_id""")),

    // --- Span dedup, APPLIED: emit the cleaned corpus — each doc
    // reassembled from only its first-occurrence spans (q_dedup_span
    // computes the stats; this materializes the output a real pipeline
    // writes). The reassembly is a bounded per-doc
    // sort_array(collect_list) (≤ len/stride spans per doc), and docs
    // whose every span was seen earlier survive as EMPTY rows (left
    // join back to the corpus), because silently dropping rows is how
    // dedup bugs hide. Unlike the stats query, the shuffle here must
    // carry span text — that is inherent to producing output bytes —
    // but each span crosses the wire exactly once. The output carries
    // the md5 + length of the cleaned text, not the text, doubling as
    // the fingerprint-audit pattern.
    QueryDef("q_dedup_span_apply",
      (spark, dir) => {
        val tk = split(col("text"), " ")
        // same fan-out as q_dedup_span (guide §2.5)
        val spans = graft.util.Par.fanOut(Tables.documents(spark, dir)
            .select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            explode(transform(
              sequence(lit(0),
                ((size(tk) - lit(1)) / lit(SpanTokens)).cast("int")),
              i => struct(i.cast("bigint").as("span_idx"),
                concat_ws(" ", slice(tk, i * lit(SpanTokens) + lit(1),
                  lit(SpanTokens))).as("span")))).as("s"))
          .select(col("doc_id"), col("s.span_idx").as("span_idx"),
            col("s.span").as("span"))
          .withColumn("h", graft.functions.OracleHash.h64(col("span")))
          .withColumn("pos",
            col("doc_id") * lit(SpanPosEnc) + col("span_idx"))
        val first = spans.groupBy(col("h"))
          .agg(min(col("pos")).as("first_pos"))
        val cleaned = spans.join(first, Seq("h"))
          .filter(col("pos") === col("first_pos"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_kept"),
            concat_ws(" ", transform(
              sort_array(collect_list(struct(col("span_idx"), col("span")))),
              p => p.getField("span"))).as("clean_text"))
        Tables.documents(spark, dir).select(col("doc_id"))
          .join(cleaned, Seq("doc_id"), "left")
          .select(col("doc_id"),
            md5(coalesce(col("clean_text"), lit(""))).as("clean_md5"),
            length(coalesce(col("clean_text"), lit(""))).as("clean_len"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
e AS (
  SELECT doc_id, tk,
    unnest(generate_series(0, (len(tk) - 1) // $SpanTokens)) AS i
  FROM t),
s0 AS (
  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
    array_to_string(list_slice(tk, i * $SpanTokens + 1,
      i * $SpanTokens + $SpanTokens), ' ') AS span,
    doc_id * $SpanPosEnc + i AS pos
  FROM e),
s AS (SELECT *, ${graft.functions.OracleHash.h64Sql("span")} AS h FROM s0),
f AS (SELECT h, min(pos) AS first_pos FROM s GROUP BY h),
k AS (
  SELECT doc_id, span_idx, span
  FROM s JOIN f USING (h) WHERE pos = first_pos),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
    string_agg(span, ' ' ORDER BY span_idx) AS clean_text
  FROM k GROUP BY doc_id)
SELECT d.doc_id,
  md5(coalesce(clean_text, '')) AS clean_md5,
  CAST(length(coalesce(clean_text, '')) AS INT) AS clean_len,
  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY d.doc_id""")),

    // --- Temperature-scaled domain resampling (α = 0.5): flatten the
    // source-domain distribution toward uniform — target share ∝
    // share^α — and realize it as a per-row deterministic keep/drop,
    // the way a training mix down-samples dominant domains without
    // a shuffle or an RNG. α is fixed at 0.5 so the reweighting is
    // sqrt(), which IEEE specifies correctly-rounded — bit-identical
    // on both engines, unlike pow(x, 0.7) whose libm rounding may
    // differ. The keep decision hashes doc_id (h64 % 1e6 < p·1e6):
    // reproducible, re-runnable, and embarrassingly parallel — the
    // only aggregates are the per-source counts (5 rows), which ride
    // broadcast cross-joins back to the scan. The sqrt sum crosses
    // groups, so it folds in DECIMAL (sqrt of a non-square rational
    // never terminates at 12 digits, so the cast rounds identically
    // on both engines — no HALF_UP/HALF_EVEN tie exists to diverge
    // on). Output is the per-source audit: share, keep rate, kept
    // count.
    QueryDef("q_sample_temperature",
      (spark, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(20, 12)
        val docs = Tables.documents(spark, dir)
        val counts = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        val withShare = counts
          .crossJoin(broadcast(counts.agg(sum(col("n_docs")).as("n_total"))))
          .withColumn("share",
            col("n_docs").cast("double") / col("n_total").cast("double"))
          .withColumn("sq", sqrt(col("share")).cast(dec))
        val denom = withShare.agg(sum(col("sq")).as("sq_sum"))
        val rates = withShare.crossJoin(broadcast(denom))
          .withColumn("target_share",
            col("sq").cast("double") / col("sq_sum").cast("double"))
          .withColumn("p_keep",
            least(lit(1.0), col("target_share") / col("share")))
          .select(col("source"), col("n_docs"), col("share"), col("p_keep"))
        val kept = docs.select(col("doc_id"), col("source"))
          .join(broadcast(rates.select(col("source"), col("p_keep"))),
            Seq("source"))
          .filter(pmod(graft.functions.OracleHash.h64(col("doc_id")),
            lit(1000000L)).cast("double") < col("p_keep") * lit(1e6))
          .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        rates.join(kept, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("share"), col("p_keep"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some(s"""WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
s AS (
  SELECT source, n_docs,
    CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
    CAST(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
      AS DECIMAL(20,12)) AS sq
  FROM c, t),
d AS (SELECT sum(sq) AS sq_sum FROM s),
r AS (
  SELECT source, n_docs, share,
    least(1.0, (CAST(sq AS DOUBLE) / CAST(sq_sum AS DOUBLE)) / share)
      AS p_keep
  FROM s, d),
k AS (
  SELECT doc.source, CAST(count(*) AS BIGINT) AS n_kept
  FROM documents doc JOIN r ON r.source = doc.source
  WHERE CAST(${graft.functions.OracleHash.h64Sql("doc_id")} % 1000000
      AS DOUBLE) < p_keep * 1000000.0
  GROUP BY doc.source)
SELECT r.source, n_docs, share, p_keep,
  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept
FROM r LEFT JOIN k ON k.source = r.source
ORDER BY r.source""")),

    // --- Deterministic training shuffle: the order-randomization pass
    // before sequence packing / data loading. Global row_number over a
    // random key is a single-task sort at scale, so the shuffle is
    // hierarchical like q_pack_sequences: hash-shard on h64 % $ShuffleShards
    // (uniform by construction), then position WITHIN the shard via a
    // per-shard window — $ShuffleShards-way parallel, and
    // (shard, pos_in_shard) is a complete, reproducible read order any
    // data-loader rank can seek independently.
    QueryDef("q_shuffle_det",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"),
            graft.functions.OracleHash.h64(col("doc_id")).as("h"))
          .withColumn("shard",
            pmod(col("h"), lit(ShuffleShards.toLong)).cast("int"))
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))
        docs.withColumn("pos_in_shard",
          row_number().over(w).cast("bigint"))
          .select(col("doc_id"), col("shard"), col("pos_in_shard"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, shard, pos_in_shard FROM (
  SELECT doc_id, CAST(h % $ShuffleShards AS INT) AS shard,
    CAST(row_number() OVER (PARTITION BY h % $ShuffleShards
      ORDER BY h, doc_id) AS BIGINT) AS pos_in_shard
  FROM (SELECT doc_id, ${graft.functions.OracleHash.h64Sql("doc_id")} AS h
        FROM documents))
ORDER BY doc_id""")),

    // --- URL-CANONICALIZATION DEDUP: web-crawl corpora carry the
    // same page under many spellings — scheme/host case, explicit
    // default ports, trailing slashes, tracking params (utm_*),
    // fragments, param order. The canonical key is computed by
    // actually PARSING the messy URL (parse_url HOST/PATH/QUERY +
    // array HOFs to drop utm_* and sort the surviving params — all
    // codegen'd builtins, no UDF), then dedup keeps the best doc per
    // canonical URL (max (n_chars, doc_id) struct — deterministic
    // argmax with map-side partial aggregation). The fixture derives
    // each doc's messy URL from its own id (six orthogonal mess
    // dimensions), so the oracle knows the canonical form
    // analytically: the gate proves the string-pipeline
    // canonicalization exactly inverts the mess. Scale shape: ONE
    // shuffle on the canonical key at O(docs); at 100 TB the URL
    // never leaves its row until the dedup shuffle, and the argmax
    // combines map-side like any partial agg.
    QueryDef("q_dedup_url",
      (spark, dir) => {
        val id = col("doc_id")
        val grp = (id % 97).cast("string")
        val messy = concat(
          when(id % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
          when(id % 3 === 0, lit("Example.COM")).otherwise(lit("example.com")),
          when(id % 5 === 0, lit(":443")).otherwise(lit("")),
          lit("/docs/p"), grp,
          when(id % 7 === 0, lit("/")).otherwise(lit("")),
          lit("?"),
          when(id % 2 === 1, lit("utm_source=feed&")).otherwise(lit("")),
          when(id % 11 === 0, lit("utm_campaign=x&")).otherwise(lit("")),
          lit("id="), grp,
          when(id % 13 === 0, concat(lit("#sec"), (id % 4).cast("string")))
            .otherwise(lit("")))
        val host = lower(regexp_replace(
          parse_url(col("url"), lit("HOST")), ":443$", ""))
        val path = regexp_replace(
          parse_url(col("url"), lit("PATH")), "/$", "")
        val params = filter(
          split(parse_url(col("url"), lit("QUERY")), "&"),
          x => !startswith(x, lit("utm_")) && x =!= lit(""))
        val query = array_join(sort_array(params), "&")
        Tables.documents(spark, dir)
          .select(id, col("n_chars"), messy.as("url"))
          .withColumn("canon_url", concat(lit("https://"), host, path,
            when(query === "", lit("")).otherwise(concat(lit("?"), query))))
          .groupBy(col("canon_url"))
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("n_chars"), col("doc_id"))).as("best"))
          .select(col("canon_url"), col("n_docs"),
            col("best.doc_id").as("kept_doc"),
            col("best.n_chars").as("kept_chars"))
          .orderBy(col("canon_url"))
      },
      Some("""WITH ranked AS (
  SELECT doc_id % 97 AS grp, doc_id, n_chars,
    row_number() OVER (PARTITION BY doc_id % 97
      ORDER BY n_chars DESC, doc_id DESC) AS rn,
    count(*) OVER (PARTITION BY doc_id % 97) AS n_docs
  FROM documents)
SELECT 'https://example.com/docs/p' || grp || '?id=' || grp AS canon_url,
  CAST(n_docs AS BIGINT) AS n_docs,
  doc_id AS kept_doc, n_chars AS kept_chars
FROM ranked WHERE rn = 1 ORDER BY canon_url""")),

    // --- TOKEN-BUDGET CORPUS SELECTION: the data-mixing step of a
    // training run — each domain (source) contributes its BEST
    // documents until its token budget is spent (greedy by quality is
    // the standard knapsack relaxation: items are small relative to
    // the budget, so greedy is near-optimal and, unlike sampling,
    // deterministic). Quality here is (n_chars, doc_id) — an exact
    // integer key, so the greedy order is total and cross-engine
    // reproducible; tokens are whitespace tokens. Shape: one shuffle
    // partitioned by domain + a per-domain sort feeding a running
    // prefix-sum window — the budget cut is a filter on the cumsum,
    // rows never visit the driver. At 100 TB with millions of docs
    // per domain, the same cut runs WITHOUT the full per-domain sort:
    // approx_percentile picks the quality threshold that lands the
    // budget, the window only ranks the boundary quantile (the
    // hierarchical-prefix-sum trick q_pack_sequences uses); here the
    // exact spelling is the oracle-checkable contract.
    QueryDef("q_budget_select",
      (spark, dir) => {
        val budget = 20000L
        val toks = size(split(col("text"), " ")).cast("bigint")
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("n_chars"),
            toks.as("tokens"))
          .withColumn("cum_tokens", sum(col("tokens")).over(w))
          .filter(col("cum_tokens") <= budget)
          .select(col("doc_id"), col("source"), col("tokens"),
            col("cum_tokens"))
          .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
      },
      Some("""WITH t AS (
  SELECT doc_id, source, n_chars,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents),
c AS (
  SELECT doc_id, source, tokens,
    sum(tokens) OVER (PARTITION BY source
      ORDER BY n_chars DESC, doc_id ROWS UNBOUNDED PRECEDING)
      AS cum_tokens
  FROM t)
SELECT doc_id, source, tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 20000
ORDER BY source, cum_tokens, doc_id""")),

    // --- LEAKAGE-GUARDED TRAIN/TEST SPLIT: the eval-integrity step a
    // naive per-doc hash split (q_train_split) gets WRONG — two
    // near-duplicate documents hashing to different splits leak the
    // test set into training. The fix: split at the NEAR-DUP
    // COMPONENT level (the same min-label fixpoint q_dup_components
    // resolves), so every near-duplicate pair lands on one side BY
    // CONSTRUCTION; the query then PROVES it, joining the pair list
    // against the assignment and counting straddlers — a
    // data-independent 0 the oracle restates. Scale shape: component
    // resolution is the O(log d)-round pointer-jumping fixpoint over
    // the (skew-capped) pair list; the split itself is a hash of the
    // component id — no extra shuffle beyond the component join.
    QueryDef("q_split_leakage",
      (spark, dir) => {
        // pairs feed BOTH the component fixpoint and the straddling
        // count below — localCheckpoint computes the Levenshtein block
        // join once instead of once per consumer (guide §5)
        val pairs = SimOps.levPairs(spark, dir)
          .select(col("a_id"), col("b_id"))
          .pinned()
        val nodes = Tables.documents(spark, dir)
          .select(col("doc_id").as("id"))
        val labels = connectedComponents(nodes, pairs.toDF("s", "t"))
          .select(col("id").as("doc_id"), col("comp").as("component"))
        val assigned = Tables.documents(spark, dir)
          .select(col("doc_id"), col("n_chars"))
          .join(labels, "doc_id")
          .withColumn("split",
            when(pmod(graft.functions.OracleHash.h64(col("component")),
              lit(10L)) < 8, "train").otherwise("test"))
        val a = assigned.select(col("doc_id").as("a_id"),
          col("split").as("sa"))
        val b = assigned.select(col("doc_id").as("b_id"),
          col("split").as("sb"))
        val straddling = pairs.join(a, "a_id").join(b, "b_id")
          .filter(col("sa") =!= col("sb")).count()
        assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("straddling_pairs", lit(straddling))
          .orderBy(col("split"))
      },
      Some(s"""WITH RECURSIVE $DupComponentsCteSql,
assigned AS (
  SELECT d.doc_id, d.n_chars,
    CASE WHEN ${graft.functions.OracleHash.h64Sql("component")} % 10 < 8
         THEN 'train' ELSE 'test' END AS split
  FROM documents d JOIN lab l ON l.doc_id = d.doc_id)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(0 AS BIGINT) AS straddling_pairs
FROM assigned GROUP BY split ORDER BY split""")),
  )

  /** [[SimOps.LevPairsSql]], re-exposed for the recursive-CTE splice. */
  private def LevPairsCte: String = SimOps.LevPairsSql

  /** DuckDB CTE chain computing the exact minimum-label fixpoint of
    * the levenshtein near-dup graph, ending in `lab(doc_id,
    * component)` over ALL docs. Splice as `WITH RECURSIVE $...` — the
    * shared core of the q_dup_components and q_dedup_keep_best
    * oracles (a `def` for object-init ordering). */
  private def DupComponentsCteSql: String = s"""$LevPairsCte,
edges AS (
  SELECT a_id AS s, b_id AS t FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT s AS id, s AS r FROM edges
  UNION
  SELECT re.id, e.t FROM reach re JOIN edges e ON e.s = re.r),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
lab AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)"""

  /** Oracle for q_dup_components. */
  private def dupComponentsOracle: Option[String] =
    Some(s"""WITH RECURSIVE $DupComponentsCteSql
SELECT doc_id, CAST(component AS BIGINT) AS component,
  CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS component_size,
  CAST(CASE WHEN doc_id = component THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM lab ORDER BY doc_id""")

  /** Convergence bound for [[connectedComponents]]. With pointer
    * jumping, rounds ≈ log₂(diameter); 50 covers a diameter of 2⁵⁰ —
    * hitting the cap means the input is cyclic garbage or the job is
    * livelocked, and failing fast beats silently looping. */
  private val MaxCcRounds = 50

  /** Distributed connected components: min-label propagation with
    * POINTER JUMPING (path-halving). `nodes` is one `id` column;
    * `edges` is `(s, t)` pairs (symmetrized here). Returns `(id,
    * comp)` where `comp` is the minimum id reachable from `id`.
    *
    * Each round is two bounded shuffles — (1) the Pregel step: edges
    * join labels on the target, min-aggregate per source, merge;
    * (2) the jump: labels self-join `comp → comp(comp)`, which
    * doubles the distance a label travels per round and turns
    * O(diameter) rounds into O(log diameter) — a long near-dup chain
    * (shingled boilerplate) would otherwise serialize into thousands
    * of rounds. Only a scalar changed-count ever reaches the driver;
    * [[graft.util.Pin]] caps lineage growth per round (localCheckpoint
    * by default; reliable checkpoint(dir) under
    * `graft.checkpoint.dir` so an executor loss mid-loop recovers
    * instead of killing the job). Throws
    * [[IllegalStateException]] after `maxRounds` rounds rather than
    * looping forever (the propagation is monotone-decreasing, so the
    * cap is a belt-and-braces guard, not a correctness need).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = MaxCcRounds): DataFrame = {
    val sym = edges.union(edges.select(col("t"), col("s")))
      .toDF("s", "t").pinned()
    var labels = nodes.select(col("id"), col("id").as("comp"))
      .pinned()
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds; " +
          "the edge list is larger or stranger than this operator is sized for")
      val nbrMin = sym.join(labels, sym("t") === labels("id"))
        .groupBy(col("s")).agg(min(col("comp")).as("nbr_min"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("s"), "left")
        .select(labels("id").as("id"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp")))
            .as("comp"),
          col("comp").as("prev"))
      // pointer jump: comp ← comp(comp). Every comp value is itself a
      // node id (labels start as id→id and only ever copy ids), so the
      // inner self-join is total; comp(comp) ≤ comp by the invariant
      // comp(x) ≤ x, hence `least` is pure defensiveness.
      val next = stepped.as("l")
        .join(stepped.select(col("id").as("pid"), col("comp").as("pcomp")).as("r"),
          col("l.comp") === col("r.pid"))
        .select(col("l.id").as("id"),
          least(col("r.pcomp"), col("l.comp")).as("comp"),
          col("l.prev").as("prev"))
        .pinned()
      changed = next.filter(col("comp") < col("prev")).count()
      labels = next.select(col("id"), col("comp"))
    }
    labels
  }
}
