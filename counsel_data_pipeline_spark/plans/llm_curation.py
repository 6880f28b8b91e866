"""Training-data curation query plans — ops/curation.py surfaced through
the driver contract with exact DuckDB oracles.

The split/repetition/decontamination math is integer or int/int-double
arithmetic only (see plans/_parity.py), and the split hash is the
cross-engine md5 bucket from ops/sketches.py — every query here is fully
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops import curation as cu
from counsel_data_pipeline_spark.ops import text_analysis as ta

from counsel_data_pipeline_spark.ops.materialize import pin
from counsel_data_pipeline_spark.ops.sketches import md5_bucket_sql

_SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"
_SQL_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
# DuckDB twin of ops/curation.split_assign's bucket (seed 42, width 100)
_SQL_SPLIT_BUCKET = md5_bucket_sql("doc_id", 42, 100)


@register(
    "curation_hash_split",
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 len({_SQL_TOKENS}) AS n_tok,
                 {_SQL_SPLIT_BUCKET} AS b
          FROM documents
        )
        SELECT CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_tokens,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM t GROUP BY 1
    """,
    description="deterministic md5-hash train/val/test split (80/10/10) with per-split token stats",
    tags=("llm", "curation"),
    bench=True,
)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            cu.split_assign(F.col("doc_id")).alias("split"),
            ta.token_count(F.col("text")).alias("n_tok"),
            "doc_id",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "curation_repetition_scores",
    oracle=f"""
        WITH g AS (
          SELECT doc_id,
                 list_transform(range(1, len(string_split_regex({_SQL_NORM}, ' ')) - 1),
                                i -> array_to_string(
                                       string_split_regex({_SQL_NORM}, ' ')[i:i+2], ' '))
                   AS grams
          FROM documents
        )
        SELECT doc_id,
               len(grams) AS n_grams,
               len(list_distinct(grams)) AS n_distinct,
               CASE WHEN len(grams) > 0
                    THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                               / len(grams), 6)
                    ELSE 0.0 END AS repetition
        FROM g
    """,
    description="per-doc boilerplate score: repeated-trigram ratio (1 - distinct/total)",
    tags=("llm", "curation", "text"),
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = ta.word_shingles(ta.norm_text(F.col("text")), 3)
    return docs.select(
        "doc_id",
        F.size(sh).alias("n_grams"),
        F.size(F.array_distinct(sh)).alias("n_distinct"),
        cu.repetition_ratio(F.col("text"), 3).alias("repetition"),
    )


@register(
    "curation_decontam_overlap",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, source, string_split_regex({_SQL_NORM}, ' ') AS t
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, source,
                 unnest(list_transform(range(1, len(t) - 6),
                        i -> array_to_string(t[i:i+7], ' '))) AS shingle
          FROM tok
        ),
        c AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
        b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE source = 'src0')
        SELECT c.doc_id,
               count(DISTINCT shingle) AS n_shared_shingles,
               count(DISTINCT bench_id) AS n_benchmark_docs
        FROM c JOIN b USING (shingle)
        GROUP BY c.doc_id
    """,
    description="benchmark decontamination: corpus docs sharing 8-gram shingles with the 'src0' eval set",
    tags=("llm", "curation", "dedup"),
)
def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return cu.decontaminate(
        corpus=docs.filter(F.col("source") != "src0"),
        benchmark=docs.filter(F.col("source") == "src0"),
        n=8,
    )


@register(
    "curation_numeric_scrub_props",
    oracle="""
        SELECT event_type,
               count(*) AS n_events,
               CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')))
                 AS BIGINT) AS digit_chars,
               count(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g'))
                 AS n_masked_forms
        FROM events
        GROUP BY event_type
    """,
    description="scrub/anonymize numeric payloads: digit-char volume and distinct masked shapes per event type",
    tags=("llm", "curation", "events"),
)
def numeric_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n_digits, masked = cu.digit_scrub_stats(F.col("props"))
    return (
        ev.select("event_type", n_digits.alias("nd"), masked.alias("masked"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("nd").alias("digit_chars"),
            F.countDistinct("masked").alias("n_masked_forms"),
        )
    )


_SQL_STRATA_PCT = (
    "CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 ELSE 10 END"
)


@register(
    "curation_stratified_sample",
    oracle=f"""
        -- deterministic hash-thresholded stratified sampling: per-language
        -- rates (en 50%, zh 30%, rest 10%), stable under growth/reshuffle
        -- (a doc's membership never changes as the corpus grows — the
        -- property random()-based sampling lacks at scale).
        SELECT doc_id, lang,
               CAST({md5_bucket_sql("doc_id", 7, 100)} AS BIGINT) AS bucket
        FROM documents
        WHERE {md5_bucket_sql("doc_id", 7, 100)} < {_SQL_STRATA_PCT}
    """,
    description="deterministic stratified sample: per-language md5-hash thresholds",
    tags=("llm", "curation", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.sketches import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = md5_bucket(F.col("doc_id"), 7, 100)
    pct = (
        F.when(F.col("lang") == "en", 50)
        .when(F.col("lang") == "zh", 30)
        .otherwise(10)
    )
    return docs.select("doc_id", "lang", b.alias("bucket")).filter(
        F.col("bucket") < pct
    )


@register(
    "curation_pack_sequences",
    oracle=f"""
        -- concat-and-chunk sequence packing audit, per md5 shard: how many
        -- ctx-len training windows the shard yields, how many docs a window
        -- cut splits, and the fill of the final ragged window. All-integer
        -- outputs (exact cross-engine).
        WITH t AS (
          SELECT doc_id,
                 CAST({md5_bucket_sql("doc_id", 7, 8)} AS BIGINT) AS shard,
                 CAST(len({{tokens}}) AS BIGINT) AS n_tok
          FROM documents
        ),
        c AS (
          SELECT shard, n_tok,
                 sum(n_tok) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum
          FROM t
        )
        SELECT shard,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_tok) AS BIGINT) // 256
                 + CASE WHEN CAST(sum(n_tok) AS BIGINT) % 256 > 0
                        THEN 1 ELSE 0 END AS n_sequences,
               CAST(sum(CASE WHEN (cum - n_tok) % 256 + n_tok > 256
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
               CAST(sum(n_tok) AS BIGINT) % 256 AS tail_tokens
        FROM c GROUP BY shard
    """.replace("{tokens}", "string_split_regex(trim(text), '\\s+')"),
    description="sequence-packing audit: per-shard concat-and-chunk into "
    "256-token windows — sequences yielded, boundary-split docs, tail fill "
    "(window partitioned by shard; one exchange serves window + aggregate)",
    tags=("llm", "curation"),
    bench=True,
)
def pack_sequences_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cu.pack_sequences(
        load_table(spark, sf_dir, "documents"), ctx_len=256, n_shards=8
    )


@register(
    "curation_source_cap",
    oracle=f"""
        -- per-domain document cap (the "no domain dominates the corpus"
        -- curation rule): keep at most 15 docs per source, chosen by a
        -- deterministic md5 shuffle order so the subset is stable under
        -- corpus growth and independent of scan order.
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tok,
                 CAST({md5_bucket_sql("doc_id", 13, 1000000)} AS BIGINT) AS r
          FROM documents
        ),
        k AS (
          SELECT source, n_tok,
                 row_number() OVER (
                   PARTITION BY source ORDER BY r, doc_id
                 ) AS rk
          FROM t
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               CAST(sum(CASE WHEN rk <= 15 THEN n_tok ELSE 0 END) AS BIGINT)
                 AS kept_tokens,
               CAST(sum(CASE WHEN rk > 15 THEN n_tok ELSE 0 END) AS BIGINT)
                 AS dropped_tokens
        FROM k GROUP BY source
    """,
    description="per-source document cap: ≤15 docs per domain by "
    "deterministic md5 order (partitioned window, stable under growth)",
    tags=("llm", "curation"),
)
def source_cap_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from counsel_data_pipeline_spark.ops.sketches import md5_bucket

    docs = load_table(spark, sf_dir, "documents")
    cap = 15
    t = docs.select(
        "doc_id",
        "source",
        ta.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        md5_bucket(F.col("doc_id"), 13, 1_000_000).cast("bigint").alias("r"),
    )
    w = Window.partitionBy("source").orderBy("r", "doc_id")
    k = t.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= cap
    return k.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0))).alias("kept_tokens"),
        F.sum(F.when(~kept, F.col("n_tok")).otherwise(F.lit(0))).alias(
            "dropped_tokens"
        ),
    )


@register(
    "curation_temperature_resample",
    oracle=f"""
        -- α=0.5 temperature resampling audit: every language upsampled
        -- toward the largest by sqrt(max/n), fractional repetition decided
        -- by a deterministic md5 bucket. Ranking key is integer copy
        -- counts; the only doubles (factor, realized ratio) follow the
        -- parity rules (sqrt + int/int division, same expression order).
        WITH c AS (
          SELECT lang, count(*) AS n FROM documents GROUP BY lang
        ),
        m AS (SELECT max(n) AS mx FROM c),
        f AS (
          SELECT lang, n,
                 sqrt(CAST(mx AS DOUBLE) / CAST(n AS DOUBLE)) AS fac
          FROM c, m
        ),
        d AS (
          SELECT doc_id, lang,
                 CAST({md5_bucket_sql("doc_id", 29, 1000000)} AS DOUBLE) AS b
          FROM documents
        ),
        cp AS (
          SELECT d.lang,
                 CAST(floor(fac) AS BIGINT)
                   + CASE WHEN b < (fac - floor(fac)) * 1000000.0
                          THEN 1 ELSE 0 END AS copies
          FROM d JOIN f USING (lang)
        )
        SELECT lang,
               count(*) AS n_in,
               CAST(sum(copies) AS BIGINT) AS n_out,
               CAST(CAST(sum(copies) AS BIGINT) AS DOUBLE) / count(*)
                 AS realized_factor
        FROM cp GROUP BY lang
    """,
    description="α=0.5 temperature resampling: upsample each language toward "
    "the largest by sqrt(max/n) with deterministic md5 fractional repetition "
    "(tiny broadcast factor table, map-side explode — corpus never shuffles)",
    tags=("llm", "curation"),
    bench=True,
)
def temperature_resample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cu.temperature_resample(load_table(spark, sf_dir, "documents"))
    # Every doc emits exactly one copy_id=1 row, so n_in needs no
    # countDistinct — a plain conditional sum keeps this a single hash
    # aggregate instead of the Expand-based mixed distinct plan.
    n_in = F.sum((F.col("copy_id") == 1).cast("long"))
    return out.groupBy("lang").agg(
        n_in.alias("n_in"),
        F.count(F.lit(1)).alias("n_out"),
        (F.count(F.lit(1)).cast("double") / n_in).alias("realized_factor"),
    )


@register(
    "curation_chunk_dedup_stats",
    oracle=f"""
        -- sub-document (chunk-level) dedup audit: documents split into
        -- fixed 40-token windows; per language, how much of the corpus is
        -- chunk-duplicated (RefinedWeb line-dedup at chunk granularity).
        WITH t AS (
          SELECT doc_id, lang, string_split_regex({_SQL_NORM}, ' ') AS tok
          FROM documents
        ),
        c AS (
          SELECT lang,
                 unnest(list_transform(range(0, CAST(ceil(len(tok) / 40.0) AS BIGINT)),
                        i -> array_to_string(tok[i*40+1:i*40+40], ' '))) AS chunk
          FROM t
        ),
        d AS (
          SELECT lang, chunk, count(*) AS n FROM c GROUP BY lang, chunk
        )
        SELECT lang,
               CAST(sum(n) AS BIGINT) AS total_chunks,
               count(*) AS distinct_chunks,
               CAST(sum(n) AS BIGINT) - count(*) AS dup_chunks,
               CAST(CAST(sum(n) AS BIGINT) - count(*) AS DOUBLE)
                 / CAST(sum(n) AS BIGINT) AS dup_ratio
        FROM d GROUP BY lang
    """,
    description="chunk-level dedup stats: fixed 40-token windows, per-lang "
    "duplicated-chunk ratio (two-level exact distinct, no Expand)",
    tags=("llm", "curation", "dedup"),
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    return cu.chunk_dedup_stats_frame(docs, size=40)


_SQL_GOPHER_STOPS = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"


@register(
    "curation_gopher_filters",
    oracle=f"""
        WITH base AS (
          SELECT doc_id,
                 text,
                 trim(text) AS t,
                 {_SQL_TOKENS} AS w,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ),
        feat AS (
          SELECT doc_id,
                 len(w) AS n_words,
                 CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
                   / len(w) AS mean_word_len,
                 CAST(
                   (length(t) - length(replace(t, '#', '')))
                   + CAST((length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3 AS INT)
                   + (length(t) - length(replace(t, '…', '')))
                 AS DOUBLE) / len(w) AS symbol_ratio,
                 CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•]'))) AS DOUBLE)
                   / len(lines) AS bullet_line_ratio,
                 CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \t]*\r?$'))) AS DOUBLE)
                   / len(lines) AS ellipsis_line_ratio,
                 CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                   / len(w) AS alpha_word_ratio,
                 len(list_intersect(list_transform(w, x -> lower(x)), {_SQL_GOPHER_STOPS}))
                   AS n_required_stops
          FROM base
        )
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_line_ratio,
               ellipsis_line_ratio, alpha_word_ratio, n_required_stops,
               (n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_ratio <= 0.1
                AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3
                AND alpha_word_ratio >= 0.8
                AND n_required_stops >= 2) AS keep
        FROM feat
    """,
    description="Gopher corpus-filter rules (Rae et al. 2112.11446 Table A1): "
    "per-doc word/line/symbol features + keep verdict, pure column algebra",
    tags=("llm", "curation", "quality"),
)
def gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard pre-training quality gate; every feature is exact integer
    counting + one int/int double division (no float rounding needed for
    cross-engine hash parity)."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.gopher_flags(docs)


@register(
    "curation_shuffle_order",
    oracle="""
        WITH b AS (
          SELECT doc_id,
                 md5(concat('17:', CAST(doc_id AS VARCHAR))) AS h,
                 CAST(CAST(concat('0x',
                      substr(md5(concat('17:', CAST(doc_id AS VARCHAR))), 1, 8))
                      AS UBIGINT) % 64 AS BIGINT) AS bucket
          FROM documents
        )
        SELECT doc_id, bucket,
               row_number() OVER (ORDER BY bucket, h, doc_id) - 1 AS position,
               (row_number() OVER (ORDER BY bucket, h, doc_id) - 1) % 8 AS shard
        FROM b
    """,
    description="deterministic global training-shuffle order: md5-bucketed "
    "two-pass ranking (64 parallel sorts + offset prefix-sum), no "
    "single-partition window; shard = position mod 8",
    tags=("llm", "curation", "scale"),
)
def curation_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle's global ORDER BY (bucket, h, doc_id) row_number is the
    semantics; the Spark plan computes it with bounded parallelism (the
    oracle is allowed the single-partition luxury — DuckDB runs at
    sf0.01)."""
    docs = load_table(spark, sf_dir, "documents")
    return cu.shuffle_order(docs, seed=17, n_buckets=64, n_shards=8)


@register(
    "curation_c4_filters",
    oracle="""
        WITH base AS (
          SELECT doc_id, text, lower(text) AS low,
                 string_split(text, chr(10)) AS lines
          FROM documents
        )
        SELECT doc_id,
               len(lines) AS n_lines,
               len(list_filter(lines, l -> regexp_matches(l, '[.!?"][ \t]*\r?$')))
                 AS n_terminal_lines,
               CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?"][ \t]*\r?$')))
                 AS DOUBLE) / len(lines) AS terminal_line_ratio,
               length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
                 AS n_sentences,
               contains(low, 'lorem ipsum') AS has_lorem_ipsum,
               contains(text, '{') AS has_curly_brace,
               (contains(low, 'terms of use') OR contains(low, 'privacy policy')
                OR contains(low, 'cookie policy') OR contains(low, 'uses cookies'))
                 AS has_policy_phrase,
               (length(text) - length(regexp_replace(text, '[.!?]', '', 'g')) >= 3
                AND NOT contains(low, 'lorem ipsum')
                AND NOT contains(text, '{')
                AND NOT (contains(low, 'terms of use') OR contains(low, 'privacy policy')
                         OR contains(low, 'cookie policy') OR contains(low, 'uses cookies')))
                 AS keep
        FROM base
    """,
    description="C4 cleaning rules (Raffel et al. 1910.10683 §2.2), doc-level: "
    "terminal-punctuation lines, sentence minimum, lorem-ipsum/curly-brace/"
    "policy-phrase detection + keep verdict",
    tags=("llm", "curation", "quality"),
)
def c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return cu.c4_flags(docs)


@register(
    "llm_corpus_prep_v2",
    oracle=f"""
        -- the r5 modern pipeline: Gopher ∧ C4 gates (corpus-calibrated
        -- thresholds: the synthetic docs are punctuation-free keyword text,
        -- so the published sentence/stopword minimums would zero the
        -- corpus; the COMPOSITION is what this query exercises — the
        -- published-constant rule sets live in curation_gopher_filters /
        -- curation_c4_filters) → exact dedup (min-id survivor) →
        -- deterministic global shuffle → per-shard training-manifest stats
        WITH base AS (
          SELECT doc_id, text, trim(text) AS t, lower(text) AS low,
                 {_SQL_TOKENS} AS w,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ),
        gop AS (
          SELECT doc_id FROM base
          WHERE len(w) BETWEEN 50 AND 100000
            AND CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS DOUBLE)
                / len(w) BETWEEN 3.0 AND 10.0
            AND CAST(
                  (length(t) - length(replace(t, '#', '')))
                  + CAST((length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3 AS INT)
                  + (length(t) - length(replace(t, '…', '')))
                AS DOUBLE) / len(w) <= 0.1
            AND CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \t]*[-*•]'))) AS DOUBLE)
                / len(lines) <= 0.9
            AND CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \t]*\r?$'))) AS DOUBLE)
                / len(lines) <= 0.3
            AND CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / len(w) >= 0.8
            AND len(list_intersect(list_transform(w, x -> lower(x)), {_SQL_GOPHER_STOPS})) >= 1
        ),
        c4 AS (
          SELECT doc_id FROM base
          WHERE NOT contains(low, 'lorem ipsum')
            AND NOT contains(text, '{{')
            AND NOT (contains(low, 'terms of use') OR contains(low, 'privacy policy')
                     OR contains(low, 'cookie policy') OR contains(low, 'uses cookies'))
        ),
        kept AS (
          SELECT b.doc_id, md5({_SQL_NORM}) AS content_hash, len(b.w) AS n_tok
          FROM base b JOIN gop USING (doc_id) JOIN c4 USING (doc_id)
        ),
        surv AS (
          SELECT min(doc_id) AS doc_id FROM kept GROUP BY content_hash
        ),
        final AS (
          SELECT k.doc_id, k.n_tok,
                 md5(concat('17:', CAST(k.doc_id AS VARCHAR))) AS h,
                 CAST(CAST(concat('0x',
                      substr(md5(concat('17:', CAST(k.doc_id AS VARCHAR))), 1, 8))
                      AS UBIGINT) % 64 AS BIGINT) AS bucket
          FROM kept k JOIN surv USING (doc_id)
        ),
        ordered AS (
          SELECT doc_id, n_tok,
                 (row_number() OVER (ORDER BY bucket, h, doc_id) - 1) % 8 AS shard
          FROM final
        )
        SELECT shard,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_tokens
        FROM ordered GROUP BY shard
    """,
    description="modern corpus-prep pipeline composing the r5 ops: Gopher ∧ C4 "
    "gates → exact dedup → deterministic global shuffle → per-shard manifest",
    tags=("llm", "curation", "pipeline"),
    bench=True,
)
def corpus_prep_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of gopher_flags, c4_flags, exact_dedup-by-window and
    shuffle_order exactly as a training-data job would chain them;
    per-shard counts are the shard manifest a loader consumes.

    Scale notes: ONE fact scan. Both quality gates are per-row column
    algebra, so they CHAIN on the scan (text carried via the flag ops'
    passthrough) instead of materializing doc_id sets and joining back
    (the r11 scan audit found 6 fact scans in the join-back form). The
    exact dedup keeps min-id per content hash as a window over the hash
    shuffle — same survivors as the groupBy+join-back exact_dedup, one
    pass."""
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    # Project to the two consumed columns BEFORE the gates so the parquet
    # ReadSchema stays (doc_id, text) — the other document attributes
    # would otherwise ride through every join of the pipeline.
    docs = _spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return corpus_prep_v2_plan(docs)


def corpus_prep_v2_plan(docs: DataFrame) -> DataFrame:
    """The chained-gates single-scan pipeline body over a
    (doc_id, text) frame — its own function so the retired 10× race
    (SCALE.md, "Round-11 fact-scan consolidation") re-runs the shipped
    plan."""
    from counsel_data_pipeline_spark.ops import text_analysis as ta2
    from counsel_data_pipeline_spark.ops.text_dedup import content_md5

    g = cu.gopher_flags(docs, passthrough=("text",)).filter(
        F.col("n_words").between(cu.GOPHER_MIN_WORDS, cu.GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(cu.GOPHER_MIN_MEAN_WL, cu.GOPHER_MAX_MEAN_WL)
        & (F.col("symbol_ratio") <= cu.GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_ratio") <= cu.GOPHER_MAX_BULLET_RATIO)
        & (F.col("ellipsis_line_ratio") <= cu.GOPHER_MAX_ELLIPSIS_RATIO)
        & (F.col("alpha_word_ratio") >= cu.GOPHER_MIN_ALPHA_RATIO)
        & (F.col("n_required_stops") >= 1)  # corpus-calibrated (see oracle note)
    ).select("doc_id", "text")
    kept = cu.c4_flags(g, passthrough=("text",)).filter(
        # corpus-calibrated: boilerplate detectors only
        ~F.col("has_lorem_ipsum") & ~F.col("has_curly_brace") & ~F.col("has_policy_phrase")
    ).select("doc_id", "text")
    from pyspark.sql import Window

    by_hash = Window.partitionBy("content_hash").orderBy("doc_id")
    # Persisted for the three consumers below (shuffle_order's bucket-count
    # collect, its ranking pass, and the token-count join); released by LRU
    # eviction / bench clearCache — the same per-invocation cache lifecycle
    # as the dedup-family persists (a lazily returned DataFrame has no
    # sound unpersist point inside the builder).
    final = (
        kept.withColumn("content_hash", content_md5(F.col("text")))
        .withColumn("__rn", F.row_number().over(by_hash))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "text")
        .persist()
    )
    ordered = cu.shuffle_order(final)
    toks = final.select(
        "doc_id", F.size(ta2.tokens(F.col("text"))).alias("n_tok")
    )
    return (
        ordered.join(toks, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_WS_SEED = 777  # seed for the deterministic per-doc uniform draw


@register(
    "curation_weighted_sample",
    oracle=f"""
        -- Efraimidis–Spirakis A-ES: k smallest exponential-race keys
        -- -ln(u)/w  ==  weighted sampling without replacement with
        -- inclusion ∝ w (w = n_chars). u is a deterministic md5-derived
        -- uniform in (0,1): (h32 + 0.5) / 2^32 — exact double arithmetic
        -- (h32 < 2^32 « 2^53, and /2^32 is a power-of-two scale), so ln's
        -- input is bit-identical cross-engine; the key is rounded to the
        -- 1e-9 grid (keys are ≥ ~1e-7 at these corpus sizes) with doc_id
        -- as the deterministic tiebreak, per plans/_parity.py.
        WITH u AS (
          SELECT doc_id, source, n_chars,
                 (CAST(concat('0x', substr(md5(concat('{_WS_SEED}:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) + 0.5)
                   / 4294967296.0 AS u
          FROM documents
        )
        SELECT doc_id, source, n_chars,
               round((-ln(u)) / n_chars, 9) AS es_key
        FROM u
        ORDER BY es_key, doc_id LIMIT 25
    """,
    description="Efraimidis–Spirakis weighted sampling without replacement "
    "(k=25, weight = n_chars): deterministic md5 uniform → exponential-race "
    "key → TakeOrdered k smallest — no global sort, no window, one pass",
    tags=("llm", "curation", "sampling"),
    bench=True,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            cu.es_sample_key(
                F.col("doc_id"), F.col("n_chars"), _WS_SEED
            ).alias("es_key"),
        )
        .orderBy("es_key", "doc_id")
        .limit(25)
    )


@register(
    "curation_weighted_sample_stratified",
    oracle=f"""
        -- per-stratum A-ES: the k smallest exponential-race keys WITHIN
        -- each source — weighted sampling without replacement inside
        -- every stratum (the corpus-mixing shape: sample each source's
        -- quota independently, weights still ∝ n_chars). Same key as the
        -- global sampler (pure row function, seed {_WS_SEED}), so a
        -- document's draw is consistent between the global and
        -- stratified samples.
        WITH u AS (
          SELECT doc_id, source, n_chars,
                 (CAST(concat('0x', substr(md5(concat('{_WS_SEED}:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) + 0.5)
                   / 4294967296.0 AS u
          FROM documents
        ),
        keyed AS (
          SELECT doc_id, source, n_chars,
                 round((-ln(u)) / n_chars, 9) AS es_key
          FROM u
        )
        SELECT source, doc_id, n_chars, es_key, rnk FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY source ORDER BY es_key, doc_id) AS rnk
          FROM keyed
        ) WHERE rnk <= 3
    """,
    description="stratified Efraimidis–Spirakis sampling: 3 weighted draws "
    "per source stratum (window partitioned by source — one shuffle on the "
    "stratum key, rank truncation map-side after it; per-stratum state is "
    "k rows however large the stratum)",
    tags=("llm", "curation", "sampling"),
)
def weighted_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        cu.es_sample_key(F.col("doc_id"), F.col("n_chars"), _WS_SEED).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy("es_key", "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "doc_id", "n_chars", "es_key", "rnk")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the 100 TB shape of the benchmark-
# overlap check. curation_decontam_overlap joins every corpus shingle
# against the benchmark set; here the corpus stream instead passes through
# a broadcast m-bit Bloom filter of the benchmark shingles — three
# map-side broadcast word lookups per shingle, NO shuffle of the corpus —
# and only may-hit shingles would need exact verification. The exact
# verdict is carried alongside so the filter's false-positive behavior is
# itself oracle-checked (no false NEGATIVES ever: a Bloom miss is
# definitive, so dropped-from-verification docs are provably clean).
# ---------------------------------------------------------------------------

_DB_K, _DB_M, _DB_N = 3, 65536, 8  # hashes, bits, shingle width
# DuckDB twin of ops/sketches.md5_bucket over a `shingle` column with a
# `seed` column in scope (same shape as plans/sketches._bucket_sql)
_DB_BUCKET = (
    f"CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), ':', "
    f"CAST(shingle AS VARCHAR))), 1, 8)) AS UBIGINT) % {_DB_M}"
)


@register(
    "curation_decontam_bloom_prefilter",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, source, string_split_regex({_SQL_NORM}, ' ') AS t
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, source,
                 unnest(list_transform(range(1, len(t) - {_DB_N - 2}),
                        i -> array_to_string(t[i:i+{_DB_N - 1}], ' '))) AS shingle
          FROM tok
        ),
        c AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
        b AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
        seeds AS (SELECT unnest(range({_DB_K})) AS seed),
        pos AS (
          SELECT DISTINCT {_DB_BUCKET} AS pos
          FROM b CROSS JOIN seeds
        ),
        words AS (
          SELECT pos // 32 AS word,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
          FROM pos GROUP BY 1
        ),
        probed AS (
          SELECT doc_id, shingle,
                 bool_and(coalesce((bits >> CAST(pos % 32 AS INT)) & 1, 0) = 1)
                   AS may
          FROM (
            SELECT doc_id, shingle, seed,
                   {_DB_BUCKET} AS pos
            FROM c CROSS JOIN seeds
          ) p LEFT JOIN words ON (pos // 32) = word
          GROUP BY doc_id, shingle
        ),
        shared AS (SELECT DISTINCT doc_id, shingle FROM c JOIN b USING (shingle))
        SELECT p.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN may THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_maybe_shingles,
               CAST(sum(CASE WHEN s.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_true_shared,
               bool_or(may) AS may_contaminated,
               bool_or(s.shingle IS NOT NULL) AS is_contaminated
        FROM probed p
        LEFT JOIN shared s ON p.doc_id = s.doc_id AND p.shingle = s.shingle
        GROUP BY p.doc_id
    """,
    description=f"Bloom-prefiltered benchmark decontamination: corpus "
    f"{_DB_N}-gram shingles pass through a broadcast {_DB_M}-bit/k={_DB_K} "
    "md5-Bloom of the eval-set shingles — three map-side word lookups per "
    "shingle, zero corpus shuffle before the per-doc aggregate; exact "
    "verdict carried alongside (Bloom misses are provably clean, so only "
    "may-hit docs ever need the exact join at scale)",
    tags=("llm", "curation", "dedup", "sketch"),
)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return decontam_bloom_plan(docs)


def decontam_bloom_plan(docs: DataFrame) -> DataFrame:
    """The one-corpus-pass Bloom-prefilter body over a
    (doc_id, source, text) frame — its own function so the retired 10×
    race (SCALE.md, "Round-11 fact-scan consolidation") re-runs the
    shipped plan."""
    from counsel_data_pipeline_spark.ops import sketches as sk
    from counsel_data_pipeline_spark.ops.text_dedup import norm_text, word_shingles

    def shingled(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                F.col("doc_id").alias(out_id),
                F.explode_outer(
                    word_shingles(norm_text(F.col("text")), _DB_N)
                ).alias("shingle"),
            )
            .filter(F.col("shingle").isNotNull())
            .distinct()
        )

    corpus_sh = shingled(docs.filter(F.col("source") != "src0"), "doc_id")
    # The benchmark shingle set is eval-set-sized by definition —
    # materialize it once (it feeds the Bloom build AND the exact-shared
    # broadcast; re-deriving it cost two extra fact scans in the r11
    # audit). The corpus stream below is read exactly once.
    bench_shingles = pin(
        shingled(docs.filter(F.col("source") == "src0"), "bench_id")
        .select("shingle")
        .distinct(),
        eager=False,
    )
    bloom = sk.bloom_build(bench_shingles, "shingle", _DB_K, _DB_M)

    # Three independent broadcast word lookups evaluated map-side on the
    # corpus stream (one renamed copy of the <=m/32-row word table per
    # hash) — the stream itself never shuffles until the per-doc aggregate.
    probed = corpus_sh
    bit_cols = []
    for s in range(_DB_K):
        pos = sk.md5_bucket(F.col("shingle"), s, _DB_M)
        probed = probed.withColumn(f"__pos{s}", pos).withColumn(
            f"__word{s}", (F.col(f"__pos{s}") / 32).cast("int")
        )
        w = bloom.select(
            F.col("word").alias(f"__word{s}"), F.col("bits").alias(f"__bits{s}")
        )
        probed = probed.join(F.broadcast(w), f"__word{s}", "left")
        bit_cols.append(
            F.coalesce(
                F.expr(f"shiftright(__bits{s}, CAST(__pos{s} % 32 AS INT)) & 1")
                == 1,
                F.lit(False),
            )
        )
    may = bit_cols[0] & bit_cols[1] & bit_cols[2]
    # exact verdict rides the SAME corpus stream: shared-ness depends
    # only on the shingle, so one more broadcast join against the
    # checkpointed benchmark set replaces the old second corpus scan +
    # (doc_id, shingle) join-back
    shared_mark = F.broadcast(
        bench_shingles.withColumn("__shared", F.lit(True))
    )
    return (
        probed.withColumn("__may", may)
        .join(shared_mark, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__may"), 1).otherwise(0)).alias(
                "n_maybe_shingles"
            ),
            F.sum(F.when(F.col("__shared"), 1).otherwise(0)).alias(
                "n_true_shared"
            ),
            F.max(F.col("__may")).alias("may_contaminated"),
            F.max(F.coalesce(F.col("__shared"), F.lit(False))).alias(
                "is_contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: pairwise 8-gram overlap between
# corpus sources — the many-benchmarks generalization of decontam_overlap
# ---------------------------------------------------------------------------


@register(
    "curation_contamination_matrix",
    oracle=f"""
        -- For every pair of sources: how many distinct 8-gram shingles
        -- they share, plus per-source totals and the Jaccard overlap.
        -- Shingles travel as 16-hex md5 prefixes (shuffle compression,
        -- same trick as the duplicate-span audit); the pair expansion is
        -- bounded by the source count, never the corpus.
        WITH tok AS (
          SELECT source, string_split_regex({_SQL_NORM}, ' ') AS t
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT source,
                 substr(md5(unnest(list_transform(range(1, len(t) - 6),
                        i -> array_to_string(t[i:i+7], ' ')))), 1, 16) AS gh
          FROM tok
        ),
        pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 count(*) AS n_shared
          FROM sh a JOIN sh b USING (gh)
          WHERE a.source < b.source
          GROUP BY 1, 2
        ),
        tot AS (SELECT source, count(*) AS n FROM sh GROUP BY 1)
        SELECT source_a, source_b,
               CAST(n_shared AS BIGINT) AS n_shared,
               CAST(ta.n AS BIGINT) AS n_grams_a,
               CAST(tb.n AS BIGINT) AS n_grams_b,
               CAST(n_shared AS DOUBLE) / (ta.n + tb.n - n_shared)
                 AS jaccard
        FROM pairs
        JOIN tot ta ON ta.source = source_a
        JOIN tot tb ON tb.source = source_b
    """,
    description="cross-source contamination matrix: distinct shared "
    "8-gram shingles and Jaccard overlap for every source pair — one "
    "distinct pass over md5-prefixed shingles, then a collect_set whose "
    "size is bounded by the source count (≤20), pairs exploded from the "
    "set (never a corpus self-join)",
    tags=("llm", "curation", "dedup"),
    bench=True,
)
def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The matrix form of benchmark decontamination: which corpora leak
    into which. The heavy side (distinct source×gram) is one shuffle of
    16-hex hashes; the per-gram source set is bounded by the number of
    sources, so the pair fan-out is O(sources²) per gram worst-case and
    the output is sources² rows. At 100 TB no stage ever joins corpus
    against corpus — contrast the naive sh⋈sh self-join the oracle uses."""
    from counsel_data_pipeline_spark.ops import text_analysis as ta
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    t = F.split(ta.norm_text(F.col("text")), " ")
    # r16: the shingle key is xxhash64 (one 8-byte BIGINT) instead of a
    # 16-hex md5 prefix (a 16-char string): the key never reaches the
    # output — only per-source distinct counts and shared counts do — so
    # any injective-on-the-corpus 64-bit hash yields identical numbers,
    # and xxhash64 is both far cheaper to compute per shingle (guide
    # §1.2 step 2) and half the width through the distinct Exchange
    # (guide §2.3). Same 64-bit collision class as the oracle's own md5
    # prefix; the driver's green rows at the attested SFs pin equality.
    sh = (
        docs.select(
            "source",
            F.explode(ta.word_shingles_from_tokens(t, 8)).alias("shingle"),
        )
        .select("source", F.xxhash64("shingle").alias("gh"))
        .distinct()
        # both downstream consumers (the per-gram source sets and the
        # per-source totals) read this frame: persist makes the
        # single-heavy-pass claim structural instead of relying on
        # exchange reuse to dedupe the shingle explosion
        .persist()
    )
    per = (
        sh.groupBy("gh")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") > 1)
    )
    pairs = (
        per.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    tot = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        pairs.join(
            F.broadcast(tot.select(F.col("source").alias("source_a"), F.col("n").alias("n_grams_a"))),
            "source_a",
        )
        .join(
            F.broadcast(tot.select(F.col("source").alias("source_b"), F.col("n").alias("n_grams_b"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_grams_a",
            "n_grams_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_grams_a") + F.col("n_grams_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# Deterministic PII injection fixture: the synthetic corpus carries no
# natural PII, so the query plants a known email on every doc_id % 7 == 0
# and a known phone on every doc_id % 5 == 0 — the IDENTICAL expression
# in both engines — and then attests the scrub itself. What the hash
# proves is the part that matters at 100 TB: the redaction regexes
# (RE2-compatible subset, see ops/curation.py) find and replace exactly
# the same spans in Spark's Java regex engine and DuckDB's RE2.
_PII_INJECT_SQL = """
        text
        || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com for details'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN ' call 02-555-'
                     || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-1234'
                ELSE '' END
"""


@register(
    "curation_pii_scrub",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, source, {_PII_INJECT_SQL} AS raw
          FROM documents
        ),
        r AS (
          SELECT doc_id, source,
                 len(regexp_extract_all(raw, '{cu.PII_EMAIL_RE}')) AS n_emails,
                 len(regexp_extract_all(raw, '{cu.PII_PHONE_RE}')) AS n_phones,
                 regexp_replace(
                   regexp_replace(raw, '{cu.PII_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{cu.PII_PHONE_RE}', '[PHONE]', 'g') AS red
          FROM t
        )
        SELECT doc_id, source,
               CAST(n_emails AS BIGINT) AS n_emails,
               CAST(n_phones AS BIGINT) AS n_phones,
               md5(red) AS redacted_md5,
               CAST(length(red) AS BIGINT) AS redacted_len
        FROM r
    """,
    description=(
        "PII scrub over the corpus (emails -> [EMAIL], phones -> "
        "[PHONE]): per-doc match counts plus md5+length of the redacted "
        "text, on a deterministic injected-PII fixture — the hash attests "
        "byte-exact cross-engine redaction, the property a 100 TB scrub "
        "run rests on"
    ),
    tags=("llm", "curation", "text"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: one codegen'd map-side projection — regexes are
    precompiled per task, no UDF, no shuffle anywhere (the per-doc
    output keeps the narrow plan end-to-end). At 100 TB the cost is a
    single pass over the text column; column pruning keeps the scan to
    (doc_id, source, text)."""
    docs = load_table(spark, sf_dir, "documents")
    inj = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com for details"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call 02-555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-1234"),
            ),
        ).otherwise(F.lit("")),
    )
    n_emails, n_phones, redacted = cu.pii_scrub(inj)
    return docs.select(
        "doc_id",
        "source",
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
    )
