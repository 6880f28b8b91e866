"""Text-analysis query plans over `documents` (language-ID, quality
scoring, token counting, fingerprinting) — ops/text_analysis.py surfaced
through the driver contract with exact DuckDB oracles.

All plans are single-scan, UDF-free; the oracle mirrors every arithmetic
step so double results are bit-identical (int/int divisions and same-order
double arithmetic only — see plans/_parity.py for the rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops import text_analysis as ta
from counsel_data_pipeline_spark.ops.materialize import pin

_SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"
_SQL_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SQL_STOPS = "['" + "','".join(ta.STOPWORDS) + "']"


@register(
    "text_token_stats_by_lang",
    oracle=f"""
        WITH t AS (
          SELECT lang, source, len({_SQL_TOKENS}) AS n_tok FROM documents
        )
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_tok) AS DOUBLE) / count(*) AS avg_tokens,
               max(n_tok) AS max_tokens
        FROM t GROUP BY lang, source
    """,
    description="whitespace token counts aggregated per (lang, source)",
    tags=("llm", "text"),
    bench=True,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = ta.token_count(F.col("text"))
    return (
        docs.select("lang", "source", n_tok.alias("n_tok"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
    )


@register(
    "text_quality_scores",
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 len({_SQL_TOKENS}) AS n_tok,
                 len(list_filter({_SQL_TOKENS}, x -> list_contains({_SQL_STOPS}, x)))
                   AS n_stop,
                 length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                   AS n_punct,
                 length(text) AS n_chars
          FROM documents
        )
        SELECT doc_id, n_tok, n_stop,
               CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
               CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
               round(0.5 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
                     + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tok)
                     + 0.2 * (1.0 - CAST(n_punct AS DOUBLE) / n_chars), 6)
                 AS quality
        FROM t
    """,
    description="per-doc quality heuristic: length/stopword/punctuation components",
    tags=("llm", "text"),
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        ta.token_count(text).alias("n_tok"),
        ta.stopword_count(text).alias("n_stop"),
        (ta.stopword_count(text).cast("double") / ta.token_count(text)).alias("stop_ratio"),
        (ta.char_class_count(text, r"[\p{Punct}]").cast("double") / F.length(text)).alias(
            "punct_ratio"
        ),
        ta.quality_score(text).alias("quality"),
    )


@register(
    "text_lang_id",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, lang,
                 regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') AS has_cjk,
                 CAST(len(list_filter({_SQL_TOKENS},
                                      x -> list_contains({_SQL_STOPS}, x))) AS DOUBLE)
                   / len({_SQL_TOKENS}) AS stop_ratio
          FROM documents
        )
        SELECT doc_id, lang AS actual_lang,
               CASE WHEN has_cjk THEN 'zh'
                    WHEN stop_ratio >= 0.02 THEN 'en'
                    ELSE 'unknown' END AS pred_lang
        FROM t
    """,
    description="heuristic language ID (CJK codepoints, function-word density)",
    tags=("llm", "text"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        ta.lang_id(F.col("text")).alias("pred_lang"),
    )


@register(
    "text_fingerprints",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split_regex({_SQL_NORM}, ' ') AS tok
                   FROM documents)
        SELECT doc_id,
               md5({_SQL_NORM}) AS content_hash,
               list_min(list_transform(range(1, len(tok) - 3),
                        i -> md5(array_to_string(tok[i:i+4], ' '))))
                 AS shingle_fp
        FROM documents JOIN t USING (doc_id)
    """,
    description="document fingerprints: content md5 + min-hash over 5-gram shingles",
    tags=("llm", "text"),
)
def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ta.content_md5(F.col("text")).alias("content_hash"),
        ta.shingle_fingerprint(ta.norm_text(F.col("text")), n=5).alias("shingle_fp"),
    )


@register(
    "llm_corpus_prep",
    oracle=f"""
        -- end-to-end training-corpus prep: quality gate → token-length gate
        -- → exact dedup (min-id survivor) → per-language corpus stats
        WITH scored AS (
          SELECT doc_id, lang,
                 len({_SQL_TOKENS}) AS n_tok,
                 md5({_SQL_NORM}) AS content_hash,
                 round(0.5 * least(CAST(len({_SQL_TOKENS}) AS DOUBLE) / 100.0, 1.0)
                       + 0.3 * (1.0 - CAST(len(list_filter({_SQL_TOKENS},
                                x -> list_contains({_SQL_STOPS}, x))) AS DOUBLE)
                              / len({_SQL_TOKENS}))
                       + 0.2 * (1.0 - CAST(length(text)
                              - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
                                AS DOUBLE) / length(text)), 6)
                   AS quality
          FROM documents
        ),
        gated AS (
          SELECT * FROM scored
          WHERE quality >= 0.5 AND n_tok BETWEEN 10 AND 5000
        ),
        survivors AS (
          SELECT content_hash, min(doc_id) AS doc_id FROM gated GROUP BY content_hash
        )
        SELECT g.lang,
               count(*) AS n_docs,
               CAST(sum(g.n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(g.n_tok) AS DOUBLE) / count(*) AS avg_tokens
        FROM gated g JOIN survivors s USING (doc_id)
        GROUP BY g.lang
    """,
    description="composite pipeline: quality+length gates, exact dedup, per-lang corpus stats",
    tags=("llm", "text", "pipeline"),
    bench=True,
)
def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    # the scoring projection is several regex passes per document — fan the
    # single-file scan out before it so the work parallelizes (no-op when
    # the input already has enough splits)
    docs = _spread(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    scored = docs.select(
        "doc_id", "lang",
        ta.token_count(text).alias("n_tok"),
        ta.content_md5(text).alias("content_hash"),
        ta.quality_score(text).alias("quality"),
    )
    gated = scored.filter(
        (F.col("quality") >= 0.5) & F.col("n_tok").between(10, 5000)
    )
    survivors = gated.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    return (
        gated.join(survivors, ["doc_id", "content_hash"], "left_semi")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        )
    )


@register(
    "text_bpe_token_counts",
    oracle=f"""
        WITH t AS (
          SELECT doc_id, lang,
                 len(list_filter(
                       regexp_extract_all(text,
                         '''(?:s|t|re|ve|m|ll|d)| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+|\\s+'),
                       x -> NOT regexp_matches(x, '^\\s+$')))
                   AS n_bpe,
                 len({_SQL_TOKENS}) AS n_ws
          FROM documents
        )
        SELECT doc_id, lang, n_bpe, n_ws,
               round(CAST(n_bpe AS DOUBLE) / n_ws, 6) AS fertility
        FROM t
    """,
    description="BPE-ish regex token counts (GPT-2 pre-tokenizer, lookahead-free) vs whitespace tokens",
    tags=("llm", "text"),
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_bpe = ta.bpe_token_count(text)
    n_ws = ta.token_count(text)
    return docs.select(
        "doc_id", "lang",
        n_bpe.alias("n_bpe"),
        n_ws.alias("n_ws"),
        F.round(n_bpe.cast("double") / n_ws, 6).alias("fertility"),
    )


@register(
    "text_top_ngrams_per_lang",
    oracle=f"""
        WITH grams AS (
          SELECT lang,
                 unnest(list_transform(range(1, len({_SQL_TOKENS})),
                        i -> array_to_string(string_split_regex(
                               {_SQL_NORM}, ' ')[i:i+1], ' '))) AS gram
          FROM documents
        ),
        counted AS (
          SELECT lang, gram, count(*) AS n FROM grams GROUP BY lang, gram
        )
        SELECT lang, gram, n, rnk FROM (
          SELECT lang, gram, n,
                 row_number() OVER (PARTITION BY lang ORDER BY n DESC, gram) AS rnk
          FROM counted
        ) WHERE rnk <= 10
    """,
    description="top-10 bigrams per language: explode-heavy aggregation + per-group top-k",
    tags=("llm", "text", "topk"),
)
def top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "lang",
        F.explode(
            ta.word_shingles(ta.norm_text(F.col("text")), 2)
        ).alias("gram"),
    )
    counted = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("gram"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
        -- distinctive-term extraction. idf is the exact ratio N/df rather
        -- than log(N/df): ranking is identical (log is monotone) and the
        -- arithmetic stays integer-exact across engines (no libm log).
        WITH tok AS (
          SELECT doc_id, unnest(string_split_regex({_SQL_NORM}, ' ')) AS term
          FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, term, tf, df,
                 CAST(tf * n AS DOUBLE) / df AS tfidf
          FROM tf JOIN df USING (term) CROSS JOIN n
          WHERE doc_id < 100
        )
        SELECT doc_id, term, tf, df, tfidf, rnk FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
          FROM scored
        ) WHERE rnk <= 3
    """,
    description="top-3 distinctive terms per doc by tf-idf (exact ratio idf — rank-equivalent to log idf)",
    tags=("llm", "text", "topk"),
    bench=True,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(ta.norm_text(F.col("text")), " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Deliberately THREE scans (allowlisted in the fact-scan budget):
    # tf pass + df pass + a count-only pass for n. The window-over-tf
    # alternative (df riding tf's partitioning) reads the fact once less
    # but SORTS the full (doc, term) stream — measured 86% slower at
    # sf0.1, and at scale a hash aggregate into a vocab-sized table plus
    # a cheap extra tokenize pass beats a full-stream sort.
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            ((F.col("tf") * F.col("n")).cast("double") / F.col("df")).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
        -- corpus-level boilerplate mining (C4/RefinedWeb-style): the 50
        -- trigrams shared by the most documents. Per-doc DISTINCT first so
        -- a phrase repeated inside one doc counts once toward its reach.
        WITH t AS (
          SELECT doc_id, string_split_regex({_SQL_NORM}, ' ') AS tok
          FROM documents
        ),
        g AS (
          SELECT DISTINCT doc_id, ngram FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(tok) - 1),
                          i -> array_to_string(tok[i:i+2], ' '))) AS ngram
            FROM t
          )
        )
        SELECT ngram, count(*) AS doc_freq
        FROM g GROUP BY ngram
        ORDER BY doc_freq DESC, ngram
        LIMIT 50
    """,
    description="corpus-wide boilerplate detection: top-50 trigrams by document "
    "frequency (per-doc distinct explode, one count shuffle, TakeOrdered top-k)",
    tags=("llm", "text", "dedup", "topk"),
    bench=True,
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    # array_distinct per doc BEFORE the explode: the shuffle carries each
    # (doc, ngram) once, and doc_freq is then a plain count — no
    # count-distinct Expand anywhere. At 100 TB this is one map-side-
    # combined shuffle keyed by ngram; hot boilerplate ngrams are exactly
    # the associative-count case salting never needs.
    sh = docs.select(
        F.explode(
            F.array_distinct(ta.word_shingles(ta.norm_text(F.col("text")), 3))
        ).alias("ngram")
    )
    return (
        sh.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "ngram")
        .limit(50)
    )


@register(
    "text_oov_trigram_ratio",
    oracle=f"""
        -- LM-quality stand-in with exact arithmetic: per doc, the fraction
        -- of character trigrams that fall OUTSIDE the corpus's top-100
        -- trigram vocabulary (100, not 1000: the synthetic corpus has only
        -- ~377 distinct trigrams; a larger vocab degenerates to ratio 0).
        -- High ratio = unusual text: gibberish, wrong language, encoding
        -- damage. Counts are integers; the only double is the final
        -- int/int ratio.
        WITH d AS (
          SELECT doc_id, {_SQL_NORM} AS nt FROM documents
        ),
        tri AS (
          SELECT doc_id,
                 unnest(list_transform(range(len(nt) - 2),
                        i -> substr(nt, i + 1, 3))) AS tg
          FROM d WHERE len(nt) >= 3
        ),
        top AS (
          SELECT tg FROM (
            SELECT tg, count(*) AS c FROM tri GROUP BY tg
            ORDER BY c DESC, tg LIMIT 100
          )
        ),
        m AS (
          SELECT doc_id, count(*) AS n_in FROM tri JOIN top USING (tg)
          GROUP BY doc_id
        ),
        tot AS (
          SELECT doc_id, greatest(len(nt) - 2, 0) AS n_tri FROM d
        )
        SELECT t.doc_id,
               CAST(t.n_tri AS BIGINT) AS n_tri,
               CAST(t.n_tri - COALESCE(m.n_in, 0) AS BIGINT) AS n_oov,
               CASE WHEN t.n_tri > 0
                    THEN CAST(t.n_tri - COALESCE(m.n_in, 0) AS DOUBLE) / t.n_tri
                    ELSE 0.0 END AS oov_ratio
        FROM tot t LEFT JOIN m USING (doc_id)
    """,
    description="per-doc out-of-vocabulary char-trigram ratio vs the corpus "
    "top-100 vocabulary (two-pass: tiny vocab aggregate broadcast back over "
    "the trigram stream — the LM-quality filter shape with exact arithmetic)",
    tags=("llm", "text", "quality"),
)
def oov_trigram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    return ta.oov_trigram_ratio_frame(docs, vocab_size=100)


# ---------------------------------------------------------------------------
# BM25 query→document retrieval
# ---------------------------------------------------------------------------

# Fixed retrieval query for the driver check. BM25 needs a log-idf (the
# per-term weights are SUMMED, so the no-log ratio trick used by
# text_tfidf_top_terms — rank-equivalent only for single-term ordering —
# does not apply). Cross-engine parity for ln(): IEEE +,-,*,/ are
# correctly rounded and written in the identical order on both sides, so
# ln's input double is bit-identical; libm ln may differ in the last ulp
# between the JVM and DuckDB, so the idf and each per-(doc,term)
# contribution are ROUNDED to the 1e-6 grid and summed in exact DECIMAL
# (associative — partition-order-independent), per plans/_parity.py.
_BM25_TERMS = ("spark", "join", "window", "stream")
_BM25_SQL_TERMS = "('" + "','".join(_BM25_TERMS) + "')"


@register(
    "text_bm25_search",
    oracle=f"""
        -- BM25 (k1=1.2, b=0.75) for the fixed query {" ".join(_BM25_TERMS)}
        WITH tok AS (
          SELECT doc_id, len(string_split_regex({_SQL_NORM}, ' ')) AS dl,
                 unnest(string_split_regex({_SQL_NORM}, ' ')) AS term
          FROM documents
        ),
        stats AS (
          SELECT count(*) AS n,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM (SELECT doc_id, max(dl) AS dl FROM tok GROUP BY 1)
        ),
        tf AS (
          SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
          FROM tok WHERE term IN {_BM25_SQL_TERMS} GROUP BY 1, 2
        ),
        idf AS (
          SELECT term,
                 round(ln(1.0 + (((CAST(n AS DOUBLE) - df) + 0.5) / (df + 0.5))), 6)
                   AS idf
          FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1)
          CROSS JOIN stats
        ),
        contrib AS (
          SELECT tf.doc_id,
                 CAST(round(
                   idf * ((tf * 2.2) /
                          (tf + (1.2 * (0.25 + ((0.75 * dl) / avgdl))))),
                   6) AS DECIMAL(30,6)) AS c
          FROM tf JOIN idf USING (term) CROSS JOIN stats
        )
        SELECT doc_id, CAST(round(sum(c), 6) AS DOUBLE) AS score
        FROM contrib GROUP BY 1
        ORDER BY score DESC, doc_id LIMIT 15
    """,
    description="BM25 top-15 document retrieval for a fixed 4-term query "
    "(inverted-index shape: terms filtered map-side before the only "
    "data-sized shuffle; df/idf/avgdl are tiny broadcast aggregates; "
    "TakeOrdered top-k, no global sort)",
    tags=("llm", "text", "search", "topk"),
    bench=True,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(ta.norm_text(F.col("text")), " ").alias("tok")
    )
    # dl rides along with the explode (computed map-side, no doc-level
    # join-back against the corpus); the isin filter drops every
    # non-query term BEFORE the groupBy shuffle, so the only data-sized
    # shuffle carries just the matching (doc, term) postings.
    ex = toks.select(
        "doc_id", F.size("tok").alias("dl"), F.explode("tok").alias("term")
    ).filter(F.col("term").isin(*_BM25_TERMS))
    # Persisted: tf feeds both df (per-term doc frequency) and the scoring
    # join; without it Spark plans the full tokenize+explode chain twice.
    # Size is bounded by matched_docs × |query terms| — tiny at any corpus
    # scale. Released by LRU eviction / bench clearCache (same lifecycle as
    # the dedup-family persists — a lazily returned DataFrame has no sound
    # unpersist point inside the builder).
    tf = ex.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    ).persist()
    # 1-row corpus stats, consumed ONCE (broadcast into the scorer below,
    # where the idf is folded inline) — the old shape consumed two
    # different projections of it, and each re-ran the full-corpus
    # doc-length pass (r11 scan audit)
    stats = toks.select("doc_id", F.size("tok").alias("dl")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    # df = count over the term partition of the tiny persisted tf frame
    # (bounded by matched_docs x |query terms|) — no separate df table,
    # and the idf folds inline so the 1-row stats broadcast happens once
    from pyspark.sql import Window as _W

    idf_col = F.round(
        F.log(
            F.lit(1.0)
            + (
                ((F.col("n").cast("double") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
        ),
        6,
    )
    contrib = (
        tf.withColumn("df", F.count(F.lit(1)).over(_W.partitionBy("term")))
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", idf_col)
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (
                    (F.col("tf") * F.lit(2.2))
                    / (
                        F.col("tf")
                        + (
                            F.lit(1.2)
                            * (
                                F.lit(0.25)
                                + ((F.lit(0.75) * F.col("dl")) / F.col("avgdl"))
                            )
                        )
                    )
                ),
                6,
            )
            .cast("decimal(30,6)")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).cast("double").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Corpus-diversity profile: Shannon entropy of the source mix per language
# ---------------------------------------------------------------------------


@register(
    "text_source_entropy",
    oracle="""
        -- Shannon entropy (nats) of each language's source distribution —
        -- the corpus-diversity signal data-mixing recipes balance on.
        -- p is an exact int/int double division; each -p·ln(p) term is
        -- rounded to the 1e-6 grid and summed in exact DECIMAL so the
        -- libm-ln ulp and partition summation order cannot drift the hash
        -- (plans/_parity.py).
        WITH c AS (
          SELECT lang, source, count(*) AS cnt
          FROM documents GROUP BY 1, 2
        ),
        t AS (
          SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot,
                 count(*) AS n_sources
          FROM c GROUP BY 1
        ),
        terms AS (
          SELECT c.lang, t.tot, t.n_sources,
                 CAST(round(-((CAST(cnt AS DOUBLE) / tot)
                              * ln(CAST(cnt AS DOUBLE) / tot)), 6)
                      AS DECIMAL(30,6)) AS term
          FROM c JOIN t USING (lang)
        )
        SELECT lang, CAST(tot AS BIGINT) AS n_docs,
               CAST(n_sources AS BIGINT) AS n_sources,
               CAST(round(sum(term), 6) AS DOUBLE) AS source_entropy
        FROM terms GROUP BY 1, 2, 3
    """,
    description="per-language Shannon entropy of the source mix (data-mixing "
    "diversity report: two tiny hash aggregates + a broadcast join — output "
    "is |lang| rows regardless of corpus size)",
    tags=("llm", "text", "quality"),
)
def source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("tot"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    p = F.col("cnt").cast("double") / F.col("tot")
    terms = c.join(F.broadcast(t), "lang").select(
        "lang",
        "tot",
        "n_sources",
        F.round(-(p * F.log(p)), 6).cast("decimal(30,6)").alias("term"),
    )
    return terms.groupBy("lang", "tot", "n_sources").agg(
        F.round(F.sum("term"), 6).cast("double").alias("source_entropy")
    ).select(
        "lang",
        F.col("tot").cast("bigint").alias("n_docs"),
        F.col("n_sources").cast("bigint").alias("n_sources"),
        "source_entropy",
    )


# ---------------------------------------------------------------------------
# Bigram LM quality score (CCNet-style perplexity-proxy filter)
# ---------------------------------------------------------------------------


@register(
    "text_bigram_lm_score",
    oracle="""
        -- CCNet-style LM quality signal: per-doc mean bigram log-likelihood
        -- (nats) under the corpus's own Laplace-smoothed bigram model,
        -- P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Low scores = text whose
        -- local word transitions are unusual for the corpus (gibberish,
        -- wrong language, boilerplate soup). c(w1) is w1's corpus
        -- occurrence count; V = |vocabulary|. Each ln() is rounded to the
        -- 1e-6 grid and tf-weighted in exact DECIMAL (plans/_parity.py);
        -- the final mean is one double division.
        WITH tok AS (
          SELECT doc_id, string_split_regex(
                   lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS tok
          FROM documents
        ),
        uni AS (
          SELECT term, count(*) AS c1 FROM (
            SELECT unnest(tok) AS term FROM tok
          ) GROUP BY 1
        ),
        v AS (SELECT count(*) AS v FROM uni),
        bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(tok)),
                        i -> array_to_string(tok[i:i+1], ' '))) AS bigram
          FROM tok WHERE len(tok) >= 2
        ),
        doc_bg AS (
          SELECT doc_id, bigram, count(*) AS tf FROM bg GROUP BY 1, 2
        ),
        bgc AS (
          SELECT bigram, count(*) AS c2 FROM bg GROUP BY 1
        ),
        scored AS (
          SELECT doc_bg.doc_id, doc_bg.tf,
                 CAST(round(ln((CAST(c2 + 1 AS DOUBLE)) / (c1 + v)), 6)
                      AS DECIMAL(30,6)) AS logp
          FROM doc_bg
          JOIN bgc USING (bigram)
          JOIN uni ON split_part(doc_bg.bigram, ' ', 1) = uni.term
          CROSS JOIN v
        )
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_bigrams,
               CAST(round(sum(tf * logp), 6) AS DOUBLE) / CAST(sum(tf) AS BIGINT)
                 AS avg_logp
        FROM scored GROUP BY 1
    """,
    description="per-doc mean bigram log-likelihood under the corpus's own "
    "Laplace-smoothed bigram LM (CCNet-style perplexity filter): two "
    "map-side-combined count aggregates, doc side pre-aggregated to "
    "(doc, bigram, tf) before the count-table equi-join, mean via one "
    "double division — docs with <2 tokens are excluded (no bigrams)",
    tags=("llm", "text", "quality"),
    bench=True,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(ta.norm_text(F.col("text")), " ").alias("tok")
    )
    from pyspark.sql import Window

    # unigram model table is vocab-sized — materialized once (it feeds
    # the vocab-size scalar AND the scoring join; re-deriving it cost two
    # extra fact scans in the r11 audit)
    uni = pin(
        toks.select(F.explode("tok").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1")),
        eager=False,
    )
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    bg = toks.select(
        "doc_id", F.explode(ta.word_shingles_from_tokens(F.col("tok"), 2)).alias("bigram")
    )
    # Doc side pre-aggregated to (doc, bigram, tf): the corpus bigram
    # count is sum(tf) over the bigram partition — a window riding the
    # SAME hash distribution, so the corpus-count branch needs no second
    # pass over the bigram stream. Hot boilerplate bigrams skew the raw
    # stream, not this aggregate.
    doc_bg = bg.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        doc_bg.withColumn(
            "c2", F.sum("tf").over(Window.partitionBy("bigram"))
        )
        .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .join(uni.withColumnRenamed("term", "w1"), "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "tf",
            F.round(
                F.log(
                    (F.col("c2") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.col("v"))
                ),
                6,
            )
            .cast("decimal(30,6)")
            .alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_bigrams"),
        (
            F.round(F.sum(F.col("tf") * F.col("logp")), 6).cast("double")
            / F.sum("tf").cast("bigint")
        ).alias("avg_logp"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth / type-token statistics per source (Heaps-law audit)
# ---------------------------------------------------------------------------


@register(
    "text_vocab_growth",
    oracle=f"""
        -- Corpus-linguistics health metrics per source: token volume,
        -- vocabulary size, hapax legomena, and the type-token +
        -- hapax-vocabulary ratios. A source whose TTR collapses is
        -- boilerplate/templated; one whose hapax share explodes is noisy
        -- OCR — the cheap first-line corpus triage before any model runs.
        WITH tok AS (
          SELECT source,
                 unnest(string_split_regex({_SQL_NORM}, ' ')) AS term
          FROM documents
        ),
        c AS (
          SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2
        )
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapax,
               CAST(count(*) AS DOUBLE) / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE)
                 AS type_token_ratio,
               CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*) AS hapax_ratio
        FROM c GROUP BY source
    """,
    description="per-source vocabulary statistics: tokens, types, hapax "
    "legomena, type-token and hapax ratios (Heaps-law corpus triage) — "
    "one (source, term) count aggregate then a source-sized rollup, both "
    "map-side combined",
    tags=("llm", "text", "quality"),
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(F.split(ta.norm_text(F.col("text")), " ")).alias("term")
    )
    c = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
    hapax = F.sum((F.col("cnt") == 1).cast("int"))
    return c.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        hapax.cast("bigint").alias("n_hapax"),
        (
            F.count(F.lit(1)).cast("double")
            / F.sum("cnt").cast("bigint").cast("double")
        ).alias("type_token_ratio"),
        (hapax.cast("double") / F.count(F.lit(1))).alias("hapax_ratio"),
    )


_PHRASES = (("table", "part"), ("fast", "merge", "batch"), ("no", "such", "phrase"))


def _phrase_search_oracle() -> str:
    blocks = []
    for phrase in _PHRASES:
        p0 = phrase[0]
        joins = "".join(
            f"""
          JOIN toks t{k} ON t{k}.doc_id = t0.doc_id
                        AND t{k}.pos = t0.pos + {k}
                        AND t{k}.term = '{w}'"""
            for k, w in enumerate(phrase[1:], start=1)
        )
        blocks.append(f"""
        SELECT '{" ".join(phrase)}' AS phrase,
               CAST(count(DISTINCT t0.doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_hits,
               COALESCE(min(t0.doc_id), -1) AS first_doc
        FROM toks t0{joins}
        WHERE t0.term = '{p0}'""")
    body = "\n        UNION ALL\n".join(blocks)
    return f"""
        -- Positional-index phrase search: terms at adjacent positions
        -- joined on (doc, pos+k). Zero-hit phrases still report a row
        -- (n_docs = 0, first_doc = -1).
        WITH toks AS (
          SELECT doc_id, s.pos AS pos, s.term AS term FROM (
            SELECT doc_id,
                   unnest(list_transform(range(len(arr)),
                          i -> {{'pos': i, 'term': arr[i+1]}})) AS s
            FROM (SELECT doc_id, string_split_regex({_SQL_NORM}, ' ') AS arr
                  FROM documents)
          )
        )
        {body}
    """


@register(
    "text_phrase_search",
    oracle=_phrase_search_oracle(),
    description="positional-inverted-index phrase search: (doc, pos, term) "
    "stream filtered MAP-SIDE to the phrases' terms before any join, then "
    "adjacency self-joins on (doc_id, pos+k) — per-phrase doc counts, "
    "occurrence counts, first match; zero-hit phrases report 0/-1 "
    "(the positional twin of the BM25 term index)",
    tags=("llm", "text", "search"),
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the full position stream is term-filtered at the scan
    (pushdown-friendly IN list over the handful of phrase terms), so the
    adjacency joins see a tiny fraction of the corpus; join keys are
    (doc_id, pos) — no doc x doc products anywhere. A persisted
    positional index (term-bucketed like the IVF lists) would skip even
    the tokenize pass; the join algebra is identical."""
    docs = load_table(spark, sf_dir, "documents")
    needed = sorted({w for p in _PHRASES for w in p})
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(ta.norm_text(F.col("text")), " ")
            ).alias("pos", "term"),
        )
        .filter(F.col("term").isin(needed))
        .persist()
    )
    outs = []
    for phrase in _PHRASES:
        m = toks.filter(F.col("term") == phrase[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for k, w in enumerate(phrase[1:], start=1):
            nxt = toks.filter(F.col("term") == w).select(
                F.col("doc_id").alias("d"), (F.col("pos") - k).alias("p0k")
            )
            m = m.join(
                nxt,
                (m["doc_id"] == nxt["d"]) & (m["p0"] == nxt["p0k"]),
            ).select("doc_id", "p0")
        outs.append(
            m.agg(
                F.lit(" ".join(phrase)).alias("phrase"),
                F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                F.count(F.lit(1)).cast("bigint").alias("n_hits"),
                F.coalesce(F.min("doc_id"), F.lit(-1)).alias("first_doc"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


_CHUNK_K = 16


def _chunk_udtf():
    """Arrow-optimized Python UDTF: fixed-size token chunking — the
    row-expansion shape a training pipeline uses to split documents into
    model-window sequences. Defined lazily so importing this module
    never touches the UDTF machinery."""
    from pyspark.sql.functions import udtf

    k = _CHUNK_K

    @udtf(
        returnType="chunk_idx BIGINT, n_tokens BIGINT, "
        "first_token STRING, last_token STRING",
        useArrow=True,
    )
    class ChunkTokens:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range((len(toks) + k - 1) // k):
                c = toks[i * k : (i + 1) * k]
                yield i, len(c), c[0], c[-1]

    return ChunkTokens


@register(
    "text_udtf_token_chunks",
    oracle=f"""
        -- Restates the chunking rule relationally: tokens by single-space
        -- split, ceil(n/k) chunks per doc, per-chunk size and boundary
        -- tokens. The UDTF must reproduce this exactly.
        WITH d AS (
          SELECT doc_id, string_split(text, ' ') AS toks
          FROM documents WHERE doc_id % 17 = 0
        ),
        n AS (SELECT doc_id, toks, len(toks) AS n FROM d)
        SELECT doc_id, i AS chunk_idx,
               least({_CHUNK_K}, n - i*{_CHUNK_K}) AS n_tokens,
               toks[CAST(i*{_CHUNK_K} + 1 AS INT)] AS first_token,
               toks[CAST(least(n, (i+1)*{_CHUNK_K}) AS INT)] AS last_token
        FROM n CROSS JOIN LATERAL (
          SELECT unnest(range(CAST(ceil(n/{_CHUNK_K}.0) AS BIGINT))) AS i
        ) t
    """,
    description=f"Python UDTF surface attested: an Arrow-optimized "
    f"user-defined TABLE function chunks each sampled document into "
    f"{_CHUNK_K}-token sequences via LATERAL row expansion (the "
    "model-window splitting step of corpus prep); the oracle restates "
    "the chunk rule relationally, so the UDTF eval path itself is "
    "hash-checked",
    tags=("llm", "text", "udtf"),
)
def text_udtf_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: a UDTF is per-row generation — embarrassingly
    parallel, no shuffle, no state; Arrow batches keep the Python
    boundary vectorized (useArrow=True). The 1/17 doc sample bounds the
    attested result; the operator itself streams chunks at corpus scale
    with output size ~n_tokens/k per doc. Chunking is the UDTF-shaped
    sibling of curation_pack_sequences (which packs chunks into fixed
    windows JVM-side)."""
    spark.udtf.register("counsel_chunk_tokens", _chunk_udtf())
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 0)
        .select("doc_id", "text")
    )
    docs.createOrReplaceTempView("counsel_udtf_chunk_docs")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.n_tokens, c.first_token, "
        "c.last_token "
        "FROM counsel_udtf_chunk_docs d, "
        "LATERAL counsel_chunk_tokens(d.text) c"
    )


# ---------------------------------------------------------------------------
# Arrow-native grouped apply: exact discrete-percentile length profile
# ---------------------------------------------------------------------------


def _arrow_profile_fn():
    """Per-(source, lang) profile computed directly on pyarrow arrays —
    no pandas materialization. Discrete percentiles use the SQL
    percentile_disc index ceil(p*n)-1 on the sorted array, so the value
    is an actual population member and bit-identical to the oracle."""
    import math

    import pyarrow as pa
    import pyarrow.compute as pc

    # NOTE: deliberately no type annotations — pyspark's
    # infer_group_arrow_eval_type_from_func calls get_type_hints, which
    # raises on hints referencing function-local imports ("pa.Table"),
    # and applyInArrow then crashes on an unbound eval_type (pyspark
    # group_ops.py:930-936 swallows the exception but still reads the
    # variable). Unannotated functions take the documented default path.
    def profile(key, table):
        lens = pc.array_sort_indices(table.column("n_chars"))
        sorted_lens = table.column("n_chars").take(lens)
        n = len(sorted_lens)

        def disc(p: float) -> int:
            return sorted_lens[max(0, math.ceil(p * n) - 1)].as_py()

        return pa.table(
            {
                "source": pa.array([key[0].as_py()], pa.string()),
                "lang": pa.array([key[1].as_py()], pa.string()),
                "n_docs": pa.array([n], pa.int64()),
                "p25_chars": pa.array([disc(0.25)], pa.int64()),
                "median_chars": pa.array([disc(0.5)], pa.int64()),
                "p75_chars": pa.array([disc(0.75)], pa.int64()),
                "sum_chars": pa.array(
                    [pc.sum(sorted_lens).as_py()], pa.int64()
                ),
            }
        )

    return profile


@register(
    "text_arrow_group_profile",
    oracle="""
        -- percentile_disc returns an actual member of the group (the
        -- ceil(p*n)-1'th of the sorted values) — exact, engine-agnostic
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)
                    AS BIGINT) AS p25_chars,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)
                    AS BIGINT) AS median_chars,
               CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)
                    AS BIGINT) AS p75_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1, 2
    """,
    description="Arrow-native grouped apply attested (Spark 4 "
    "applyInArrow): per-(source, lang) exact discrete-percentile length "
    "profile computed on pyarrow arrays with zero pandas "
    "materialization; percentile_disc indexing makes every output an "
    "actual population member, so the DuckDB twin hash-matches",
    tags=("llm", "text", "arrow", "udf"),
)
def arrow_group_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: applyInArrow ships each group as Arrow record
    batches — one C-level transfer, no pandas conversion (the cheapest
    Python boundary Spark has). Groups here are (source, lang) —
    bounded cardinality, but each group's rows must fit one worker; at
    100 TB the same profile runs as a distributed sort + offset pick
    (window rank = the percentile index) or a mergeable t-digest — this
    query attests the Arrow plumbing and the exact-index semantics.
    Cites ref: quality profiling family (SURVEY §2.14)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars"
    )
    return docs.groupBy("source", "lang").applyInArrow(
        _arrow_profile_fn(),
        schema="source STRING, lang STRING, n_docs BIGINT, p25_chars BIGINT, "
        "median_chars BIGINT, p75_chars BIGINT, sum_chars BIGINT",
    )


_BPE_TOPK = 30


@register(
    "text_bpe_merge_candidates",
    oracle=f"""
        -- BPE tokenizer training, iteration one: corpus-weighted
        -- adjacent character-pair counts; the arg-max pair is the first
        -- merge a learned vocabulary would make. Counted over the
        -- aggregated vocabulary (pair occurrences x word frequency) so
        -- the expensive explode is vocab-sized, not corpus-sized;
        -- overlapping pairs count once per position ('aaa' -> 'aa' twice
        -- per occurrence), per the BPE definition. (n_occurrences, pair)
        -- is unique, so the top-{_BPE_TOPK} set is deterministic.
        WITH tok AS (
          SELECT unnest(string_split_regex({{_SQL_NORM}}, ' ')) AS word
          FROM documents
        ),
        vocab AS (
          SELECT word, count(*) AS wcount FROM tok GROUP BY 1
        ),
        pairs AS (
          SELECT word, wcount,
                 unnest(list_transform(range(1, length(word)),
                        i -> substr(word, i, 2))) AS pair
          FROM vocab WHERE length(word) >= 2
        )
        SELECT pair,
               CAST(sum(wcount) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT word) AS BIGINT) AS n_words
        FROM pairs
        GROUP BY pair
        ORDER BY n_occurrences DESC, pair
        LIMIT {_BPE_TOPK}
    """.format(_SQL_NORM=_SQL_NORM),
    description="BPE first-merge candidates: corpus-weighted adjacent "
    "character-pair counts aggregated vocab-first (pair explode is "
    f"vocabulary-sized, never corpus-sized), top {_BPE_TOPK} by weighted "
    "occurrences with the pair string as the deterministic tiebreak",
    tags=("llm", "text", "tokenizer"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: two map-side-combined hash aggregates and ONE fact
    scan. The vocabulary aggregate collapses the corpus to distinct
    words before any pair explodes, so the explode + combine-hash work
    is O(vocab chars), not O(corpus chars) — same counts by
    distributivity of the weighted sum, measured ~2-3x faster at 10x
    scale (SCALE.md, "Round-12 BPE merge-candidate counting"). Top-k is
    TakeOrderedAndProject over the unique (n desc, pair) key — no
    global sort materializes.
    A full BPE trainer iterates this plan with a merge-table broadcast
    per round; iteration one is the oracle-able unit (the merge
    arg-max), same one-iteration attestation pattern as the k-means and
    PageRank families."""
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(F.split(ta.norm_text(F.col("text")), " ")).alias("word")
    )
    return (
        ta.bpe_pair_counts(words)
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(_BPE_TOPK)
    )


@register(
    "text_bpe_train_iter2",
    oracle=f"""
        -- BPE tokenizer training, iteration TWO: learn the arg-max merge
        -- from iteration one, apply it greedily to every vocabulary word
        -- (greedy left-to-right non-overlapping replacement IS the
        -- built-in replace(): 'aaa' under merge 'aa' -> ['aa','a']), and
        -- re-count adjacent SYMBOL pairs over the merged sequences. The
        -- merged symbol is written as chr(1) inside the re-paired word
        -- (inputs are scrubbed of chr(1) first, so the marker is
        -- unambiguous) and mapped back on output. Pair identity is TWO
        -- columns: concatenation would collide, e.g. ('a','aa') and
        -- ('aa','a') both read 'aaa'. (left_sym, right_sym) is unique,
        -- so the top-{_BPE_TOPK} set is deterministic.
        WITH tok AS (
          SELECT unnest(string_split_regex(
                   replace({_SQL_NORM}, chr(1), ''), ' ')) AS word
          FROM documents
        ),
        vocab AS (
          SELECT word, count(*) AS wcount FROM tok GROUP BY 1
        ),
        pairs1 AS (
          SELECT word, wcount,
                 unnest(list_transform(range(1, length(word)),
                        i -> substr(word, i, 2))) AS pair
          FROM vocab WHERE length(word) >= 2
        ),
        cnt1 AS (
          SELECT pair, sum(wcount) AS n FROM pairs1 GROUP BY pair
        ),
        merge1 AS (
          SELECT pair AS merge_pair FROM cnt1
          ORDER BY n DESC, pair LIMIT 1
        ),
        merged AS (
          SELECT word, wcount, merge_pair,
                 replace(word, merge_pair, chr(1)) AS rword
          FROM vocab, merge1
        ),
        pos AS (
          SELECT word, wcount, merge_pair, rword,
                 unnest(range(1, length(rword))) AS i
          FROM merged WHERE length(rword) >= 2
        ),
        pairs2 AS (
          SELECT word, wcount, merge_pair,
                 CASE WHEN substr(rword, i, 1) = chr(1)
                      THEN merge_pair ELSE substr(rword, i, 1)
                 END AS left_sym,
                 CASE WHEN substr(rword, i + 1, 1) = chr(1)
                      THEN merge_pair ELSE substr(rword, i + 1, 1)
                 END AS right_sym
          FROM pos
        )
        SELECT merge_pair, left_sym, right_sym,
               CAST(sum(wcount) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT word) AS BIGINT) AS n_words
        FROM pairs2
        GROUP BY merge_pair, left_sym, right_sym
        ORDER BY n_occurrences DESC, left_sym, right_sym
        LIMIT {_BPE_TOPK}
    """,
    description="BPE trainer iteration two: apply the learned arg-max "
    "merge to the vocabulary (greedy replace, marker-encoded symbol) and "
    f"re-count adjacent symbol pairs; top {_BPE_TOPK} second-merge "
    "candidates with (left_sym, right_sym) as the deterministic tiebreak",
    tags=("llm", "text", "tokenizer"),
)
def bpe_train_iter2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: ONE fact scan into the corpus-sized vocab aggregate,
    lazily pinned (ops/materialize.pin eager=False) because two
    consumers need it — the iteration-one arg-max subtree and the
    re-pair explode; the cached subtree executes once inside the first
    consuming job. The iteration-one winner folds to a 1-row aggregate
    (min over the (-n, pair) struct — no global sort, no SinglePartition
    funnel) broadcast onto the vocabulary, the same per-iteration
    broadcast shape the k-means and PageRank loop families use. All
    re-pair work is vocab-sized string algebra (see
    ops/text_analysis.bpe_second_merge_pair_counts); a production
    trainer to vocab size V repeats this body with a V-row merge-table
    broadcast, O(vocab chars) per iteration, never O(corpus). Top-k is
    TakeOrderedAndProject over the unique (n desc, left, right) key."""
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(
            F.split(
                F.replace(
                    ta.norm_text(F.col("text")),
                    F.lit(ta.BPE_MARKER),
                    F.lit(""),
                ),
                " ",
            )
        ).alias("word")
    )
    vocab = pin(ta.bpe_vocab(words), eager=False)
    return (
        ta.bpe_second_merge_pair_counts(vocab)
        .orderBy(F.col("n_occurrences").desc(), "left_sym", "right_sym")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# Full BPE train -> segment round trip (r14 registration): learn
# _BPE_SEG_MERGES merges with the production trainer
# (ops/text_analysis.bpe_train — the r13 family whose per-iteration body
# text_bpe_train_iter2 already attests), segment the vocabulary under the
# learned table (ops/text_analysis.bpe_segment), and return corpus-weighted
# symbol counts. The DuckDB oracle replays every argmax+replace round as
# chained CTEs built by _bpe_oracle_rounds below, then decodes and counts
# symbols the same way — so a divergence in ANY round's argmax, tiebreak,
# greedy replace, or the segmenter's decode shows up as a hash mismatch.
_BPE_SEG_MERGES = 4
#: Marker code points mirror ops/text_analysis.BPE_TRAIN_MARKER_BASE
#: (U+E000 + merge_idx): using the SAME markers in both engines makes the
#: argmax tiebreak (binary UTF-8 order over encoded pairs) identical by
#: construction.
_BPE_SEG_MARKER0 = 0xE000


def _bpe_oracle_rounds(k: int) -> str:
    """Chained CTEs replaying k BPE training rounds over the ``vocab``
    CTE (columns orig, word, wcount): per round r, pair counts cnt{r}
    over encoded words, the (count desc, encoded-pair asc) argmax m{r},
    the re-encoded vocabulary v{r} (greedy left-to-right replace, marker
    chr(base+r-1)), and the DECODED merged-symbol string d{r} (earlier
    markers inside the winning pair expand through d1..d{r-1})."""
    base = _BPE_SEG_MARKER0
    parts = []
    for r in range(1, k + 1):
        prev = "vocab" if r == 1 else f"v{r - 1}"
        decode_branches = "".join(
            f" WHEN chr({base + j - 1}) THEN (SELECT merged FROM d{j})"
            for j in range(1, r)
        )

        def dec(expr: str) -> str:
            if not decode_branches:
                return expr
            return f"CASE {expr}{decode_branches} ELSE {expr} END"

        parts.append(f"""
        cnt{r} AS (
          SELECT pair, sum(wcount) AS n
          FROM (SELECT wcount,
                       unnest(list_transform(range(1, length(word)),
                              i -> substr(word, i, 2))) AS pair
                FROM {prev} WHERE length(word) >= 2)
          GROUP BY pair
        ),
        m{r} AS (SELECT pair FROM cnt{r} ORDER BY n DESC, pair LIMIT 1),
        d{r} AS (
          SELECT concat({dec("substr(pair, 1, 1)")},
                        {dec("substr(pair, 2, 1)")}) AS merged
          FROM m{r}
        ),
        v{r} AS (
          SELECT orig, wcount,
                 -- COALESCE guards the early-stop case: if round r found
                 -- no pair (m{r} empty), the scalar subquery is NULL and
                 -- replace(word, NULL, ..) would NULL the whole
                 -- vocabulary; an unused 2-char PUA string (inputs are
                 -- PUA-scrubbed, markers ascend from the base) matches
                 -- nothing, so v{r} = {prev} — exactly the trainer's
                 -- early-stop fixed point.
                 replace(word,
                         COALESCE((SELECT pair FROM m{r}),
                                  chr(63743) || chr(63743)),
                         chr({base + r - 1})) AS word
          FROM {prev}
        )""")
    return ",".join(parts)


def _bpe_seg_decode_case(k: int) -> str:
    """symbol decode for the final segmentation: marker i -> d{i}.merged,
    any other char stands for itself."""
    base = _BPE_SEG_MARKER0
    branches = "".join(
        f" WHEN chr({base + j - 1}) THEN (SELECT merged FROM d{j})"
        for j in range(1, k + 1)
    )
    return f"CASE substr(word, i, 1){branches} ELSE substr(word, i, 1) END"


@register(
    "text_bpe_train_segment",
    oracle=f"""
        -- Full BPE train->segment round trip: {_BPE_SEG_MERGES} training
        -- rounds (pair count -> (n desc, pair asc) argmax -> greedy
        -- replace with a PUA marker, the same markers the Spark trainer
        -- assigns so the encoded-pair tiebreak is byte-identical), then
        -- segment the final encoded vocabulary into symbols, decode the
        -- markers back through the learned table, and count
        -- corpus-weighted symbol occurrences. Inputs are scrubbed of
        -- the whole PUA range first, exactly like the trainer, so
        -- marker k can only mean "the symbol merge k produced".
        -- (n_occurrences, symbol) is unique -> deterministic top-{_BPE_TOPK}.
        WITH tok AS (
          SELECT unnest(string_split_regex(
                   regexp_replace({_SQL_NORM},
                     '[' || chr(57344) || '-' || chr(63743) || ']',
                     '', 'g'), ' ')) AS word
          FROM documents
        ),
        vocab AS (
          SELECT word AS orig, word, count(*) AS wcount
          FROM tok GROUP BY 1, 2
        ),
        {_bpe_oracle_rounds(_BPE_SEG_MERGES)},
        seg AS (
          SELECT orig, wcount, word,
                 unnest(range(1, length(word) + 1)) AS i
          FROM v{_BPE_SEG_MERGES}
        ),
        sym AS (
          SELECT orig, wcount,
                 {_bpe_seg_decode_case(_BPE_SEG_MERGES)} AS symbol
          FROM seg
        )
        SELECT symbol,
               CAST(sum(wcount) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT orig) AS BIGINT) AS n_words
        FROM sym
        GROUP BY symbol
        ORDER BY n_occurrences DESC, symbol
        LIMIT {_BPE_TOPK}
    """,
    description=f"full BPE round trip: train {_BPE_SEG_MERGES} merges with "
    "the production trainer (vocab-first aggregation, 1-row argmax per "
    "round), segment the vocabulary with the learned table (pure codegen "
    f"replace chain), top {_BPE_TOPK} corpus-weighted symbols with the "
    "symbol string as the deterministic tiebreak",
    tags=("llm", "text", "tokenizer"),
)
def bpe_train_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the corpus is scanned twice, each time straight into
    a map-side-combined hash aggregate (the trainer's initial vocab
    build, then the segmentation-side vocab — both O(vocab) after the
    combine). All 4 training rounds run over the vocabulary with a
    1-row argmax collect per round (the merge table IS the model
    artifact, same bounded-collect class as the PCA moment pull); the
    segmenter is a literal replace chain + char-level decode map, pure
    whole-stage codegen, zero shuffles — it fuses into the vocab scan.
    Nothing here is corpus-sized except the two initial aggregates, so
    the plan survives a 100x corpus scale-up with the vocabulary (not
    the corpus) as the iteration working set; at a 10M-word vocabulary
    the incremental twin (ops/text_analysis.bpe_train_incremental)
    learns the identical table with per-merge deltas. Reference parity:
    the reference repo has no tokenizer trainer — this is part of the
    LLM-pipeline surface beyond it (SURVEY.md addendum)."""
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    scrub = "[\\ue000-\\uf8ff]"
    words = docs.select(
        F.explode(
            F.split(
                F.regexp_replace(ta.norm_text(F.col("text")), scrub, ""),
                " ",
            )
        ).alias("word")
    )
    table = ta.bpe_train(words, n_merges=_BPE_SEG_MERGES)
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("wcount"))
    seg = vocab.select(
        "word",
        "wcount",
        F.explode(ta.bpe_segment(F.col("word"), table)).alias("symbol"),
    )
    return (
        seg.groupBy("symbol")
        .agg(
            F.sum("wcount").cast("bigint").alias("n_occurrences"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy(F.col("n_occurrences").desc(), "symbol")
        .limit(_BPE_TOPK)
    )


# Incremental-trainer round trip (r15 registration): the same
# train->segment composition as text_bpe_train_segment, but the merge
# table is learned by ops/text_analysis.bpe_train_incremental — the
# delta-maintained twin the 100 TB tokenizer story leans on (per-merge
# aggregate input = only the words containing the winning pair). One
# merge deeper than the sequential row (5 vs 4) so the two rows hash
# differently, and pin_every=2 so the driver row attests BOTH
# amortization regimes: two mid-chain counts/enc pins AND a trailing
# unpinned replace window (5 % 2 = 1).
_BPE_INC_MERGES = 5
_BPE_INC_PIN_EVERY = 2


@register(
    "text_bpe_train_incremental_segment",
    oracle=f"""
        -- Same round-replaying oracle as text_bpe_train_segment, one
        -- merge deeper ({_BPE_INC_MERGES} rounds): the incremental
        -- trainer learns the IDENTICAL table as the sequential form
        -- (delta fold is exact by construction), so replaying the
        -- sequential definition is the correct oracle for the
        -- delta-maintenance path — any divergence in the maintained
        -- (pair, n) state surfaces as a wrong argmax and a hash miss.
        WITH tok AS (
          SELECT unnest(string_split_regex(
                   regexp_replace({_SQL_NORM},
                     '[' || chr(57344) || '-' || chr(63743) || ']',
                     '', 'g'), ' ')) AS word
          FROM documents
        ),
        vocab AS (
          SELECT word AS orig, word, count(*) AS wcount
          FROM tok GROUP BY 1, 2
        ),
        {_bpe_oracle_rounds(_BPE_INC_MERGES)},
        seg AS (
          SELECT orig, wcount, word,
                 unnest(range(1, length(word) + 1)) AS i
          FROM v{_BPE_INC_MERGES}
        ),
        sym AS (
          SELECT orig, wcount,
                 {_bpe_seg_decode_case(_BPE_INC_MERGES)} AS symbol
          FROM seg
        )
        SELECT symbol,
               CAST(sum(wcount) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT orig) AS BIGINT) AS n_words
        FROM sym
        GROUP BY symbol
        ORDER BY n_occurrences DESC, symbol
        LIMIT {_BPE_TOPK}
    """,
    description=f"BPE round trip through the INCREMENTAL trainer: learn "
    f"{_BPE_INC_MERGES} merges with delta-maintained pair counts "
    f"(pin_every={_BPE_INC_PIN_EVERY} — mid-chain pins plus a trailing "
    "unpinned window), segment the vocabulary, top corpus-weighted "
    "symbols with the symbol string as the deterministic tiebreak",
    tags=("llm", "text", "tokenizer"),
)
def bpe_train_incremental_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale notes: identical composition to text_bpe_train_segment
    except the trainer — bpe_train_incremental maintains the (pair, n)
    table as state and feeds each merge's aggregate ONLY the words the
    last merge changed (retraction + assertion delta rows, exact by
    construction; 8.3% of the sequential form's exploded-pair input at
    a 300k-word vocabulary, wall win 16.8s vs 24.4s at 32 merges —
    SCALE.md, "Round-13 full BPE trainer"). This row driver-attests the
    delta-maintenance path end-to-end: a wrong maintained count would
    flip some round's argmax and hash-mismatch the replayed oracle.
    pin_every=2 with 5 merges exercises both the amortized-pin window
    and the trailing unpinned replace chain. Segmenter and final
    aggregate are the attested pure-codegen shapes (see
    text_bpe_train_segment)."""
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    docs = _spread(load_table(spark, sf_dir, "documents"))
    scrub = "[\\ue000-\\uf8ff]"
    words = docs.select(
        F.explode(
            F.split(
                F.regexp_replace(ta.norm_text(F.col("text")), scrub, ""),
                " ",
            )
        ).alias("word")
    )
    table = ta.bpe_train_incremental(
        words, n_merges=_BPE_INC_MERGES, pin_every=_BPE_INC_PIN_EVERY
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("wcount"))
    seg = vocab.select(
        "word",
        "wcount",
        F.explode(ta.bpe_segment(F.col("word"), table)).alias("symbol"),
    )
    return (
        seg.groupBy("symbol")
        .agg(
            F.sum("wcount").cast("bigint").alias("n_occurrences"),
            F.countDistinct("word").alias("n_words"),
        )
        .orderBy(F.col("n_occurrences").desc(), "symbol")
        .limit(_BPE_TOPK)
    )
