"""Corpus-quality, sampling, and conversion-analytics queries (round 2).

The second tranche of north-star LLM-pipeline operators: Gopher-style
repetition signals, C4-style filter flags, TF-IDF term ranking,
deterministic decimation/stratified sampling, PII scrubbing, int8
embedding quantization, and the stream-stream interval join. Every
query is DuckDB-oracle-checked (same column names, aligned dtypes,
engine-independent hashing/ordering).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pmp_analytics_spark import memo
from pmp_analytics_spark.functions.pii import (
    EMAIL_RE,
    PHONE_RE,
    SSN_RE,
    count_pattern,
    duck_scrub_sql,
    scrub_pii,
)
from pmp_analytics_spark.functions.text import (
    mean_token_len,
    punct_ratio,
    stopword_ratio,
    token_count,
    tokens,
    word_ngrams,
)
from pmp_analytics_spark.operators.partitioning import ensure_parallelism
from pmp_analytics_spark.queries.registry import DUCK_TOKENS, ORACLE, query
from pmp_analytics_spark.sources.reader import load_table


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table with its narrow scan repartitioned up to the
    core count (``ensure_parallelism`` — a no-op once the scan already
    has that many splits, i.e. at any real deployment size). Used by the
    queries whose dominant cost is a heavy per-row text projection
    (tokenize / n-grams / quality features): an under-split local scan
    (one small parquet file) would otherwise run that projection on one
    task while the rest of the cores idle — guide §2.5 ("repartition
    immediately after the read" when the input under-splits)."""
    return ensure_parallelism(load_table(spark, sf_dir, "documents"))


_DUCK_2GRAMS = (
    "LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1), "
    "i -> ARRAY_TO_STRING(toks[i:i+1], ' '))"
)


# --------------------------------------------------------------------------
# Q: docs_repetition_stats — Gopher-style repetition quality signals: the
# fraction of tokens that are the single most frequent token, and the
# most-frequent / duplicate fractions of word 2-grams. High values mark
# boilerplate/spam documents a training pipeline drops. Two explode →
# two-level aggregate trees (partial aggregation map-side both times),
# joined on doc_id — no driver state, scales linearly in corpus size.
# --------------------------------------------------------------------------
@query(
    "docs_repetition_stats",
    f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    w AS (SELECT doc_id, UNNEST(toks) AS w FROM tk),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
    wstat AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(MAX(c) AS BIGINT) AS top_word_count,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_words
        FROM wc GROUP BY doc_id
    ),
    g AS (
        SELECT doc_id, UNNEST({_DUCK_2GRAMS}) AS gm
        FROM tk WHERE LEN(toks) >= 2
    ),
    gc AS (SELECT doc_id, gm, COUNT(*) AS c FROM g GROUP BY doc_id, gm),
    gstat AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_grams,
               CAST(MAX(c) AS BIGINT) AS top_gram_count,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_grams
        FROM gc GROUP BY doc_id
    )
    SELECT w.doc_id,
           w.n_words,
           ROUND(w.top_word_count * 1.0 / w.n_words, 6) AS top_word_frac,
           ROUND(COALESCE(g.top_gram_count * 1.0 / g.n_grams, 0.0), 6) AS top_2gram_frac,
           ROUND(COALESCE(1.0 - g.n_distinct_grams * 1.0 / g.n_grams, 0.0), 6) AS dup_2gram_frac
    FROM wstat w LEFT JOIN gstat g ON w.doc_id = g.doc_id
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id", tokens("text").alias("toks")
    )
    words = docs.select("doc_id", F.explode("toks").alias("w"))
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    wstat = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_word_count"),
        F.count(F.lit(1)).alias("n_distinct_words"),
    )
    grams = docs.select("doc_id", F.explode(word_ngrams(F.col("toks"), 2)).alias("gm"))
    gc = grams.groupBy("doc_id", "gm").agg(F.count(F.lit(1)).alias("c"))
    gstat = gc.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("top_gram_count"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
    )
    return wstat.join(gstat, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.round(F.col("top_word_count") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(
            F.coalesce(F.col("top_gram_count") / F.col("n_grams"), F.lit(0.0)), 6
        ).alias("top_2gram_frac"),
        F.round(
            F.coalesce(
                F.lit(1.0) - F.col("n_distinct_grams") / F.col("n_grams"), F.lit(0.0)
            ),
            6,
        ).alias("dup_2gram_frac"),
    )


# --------------------------------------------------------------------------
# Q: docs_c4_filters — C4-style composite cleaning flags: every heuristic
# is a pure-JVM expression over integer counts + one division, so the
# booleans are bit-identical across engines (no float-boundary risk).
# The keep decision is the conjunction — the corpus pre-filter shape.
# The thresholds and the scored-features SQL fragment are module
# constants: docs_pretrain_pipeline composes the SAME gate, so tuning a
# threshold here cannot silently diverge the funnel from this stage.
# --------------------------------------------------------------------------
C4_MIN_WORDS = 50
C4_MWL_LO = 3
C4_MWL_HI = 10
C4_SYM_MAX = 0.1
C4_STOP_MIN = 0.05

# CTE fragment: `c4_scored` = (doc_id, toks, n_words, mwl, sym_ratio,
# stop_ratio) over the documents table — shared by this query's oracle
# and the pretraining funnel's.
DUCK_C4_SCORED = f"""__c4_feats AS (
        SELECT doc_id,
               {DUCK_TOKENS} AS toks,
               LENGTH(text) AS n,
               LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_sym
        FROM documents
    ), c4_scored AS (
        SELECT doc_id, toks,
               CAST(LEN(toks) AS BIGINT) AS n_words,
               CASE WHEN LEN(toks) > 0
                    THEN LIST_SUM(LIST_TRANSFORM(toks, t -> LENGTH(t))) * 1.0 / LEN(toks)
                    ELSE 0.0 END AS mwl,
               CASE WHEN n > 0 THEN n_sym * 1.0 / n ELSE 0.0 END AS sym_ratio,
               CASE WHEN LEN(toks) > 0
                    THEN LEN(LIST_FILTER(toks, t -> LIST_CONTAINS(
                        ['the','and','of','to','in','is','that','for','with','as'], t))) * 1.0 / LEN(toks)
                    ELSE 0.0 END AS stop_ratio
        FROM __c4_feats
    )"""

DUCK_C4_KEEP = (
    f"n_words >= {C4_MIN_WORDS} AND mwl >= {C4_MWL_LO} AND mwl <= {C4_MWL_HI} "
    f"AND sym_ratio < {C4_SYM_MAX} AND stop_ratio >= {C4_STOP_MIN}"
)


@query(
    "docs_c4_filters",
    f"""
    WITH {DUCK_C4_SCORED}
    SELECT doc_id, n_words,
           ROUND(mwl, 4) AS mean_word_len,
           ROUND(sym_ratio, 6) AS symbol_ratio,
           ROUND(stop_ratio, 6) AS stop_ratio,
           n_words >= {C4_MIN_WORDS} AS flag_min_words,
           mwl >= {C4_MWL_LO} AND mwl <= {C4_MWL_HI} AS flag_word_len,
           sym_ratio < {C4_SYM_MAX} AS flag_symbols,
           stop_ratio >= {C4_STOP_MIN} AS flag_stopwords,
           ({DUCK_C4_KEEP}) AS keep
    FROM c4_scored
    """,
)
def docs_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    base = _c4_scored(docs)
    flag_min_words = F.col("n_words") >= C4_MIN_WORDS
    flag_word_len = (F.col("mwl") >= C4_MWL_LO) & (F.col("mwl") <= C4_MWL_HI)
    flag_symbols = F.col("sym_ratio") < C4_SYM_MAX
    flag_stopwords = F.col("stop_ratio") >= C4_STOP_MIN
    return base.select(
        "doc_id",
        "n_words",
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("sym_ratio", 6).alias("symbol_ratio"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        flag_min_words.alias("flag_min_words"),
        flag_word_len.alias("flag_word_len"),
        flag_symbols.alias("flag_symbols"),
        flag_stopwords.alias("flag_stopwords"),
        # keep = conjunction of the PUBLISHED flag expressions (they are
        # the same predicates _c4_keep() states) so keep can never
        # desynchronize from the flags this query prints
        (flag_min_words & flag_word_len & flag_symbols & flag_stopwords).alias(
            "keep"
        ),
    )


def _c4_scored(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Map-side C4 feature frame (doc_id [, *extra], n_words, mwl,
    sym_ratio, stop_ratio) — the Spark twin of DUCK_C4_SCORED, shared by
    docs_c4_filters and the corpus datasheet (one definition, no
    drift). ``extra`` columns pass through untouched."""
    return docs.select(
        "doc_id",
        *extra,
        token_count("text").cast("long").alias("n_words"),
        mean_token_len("text").alias("mwl"),
        punct_ratio("text").alias("sym_ratio"),
        stopword_ratio("text").alias("stop_ratio"),
    )


def _c4_keep() -> F.Column:
    """The C4 keep conjunction over ``_c4_scored`` aliases — the Spark
    twin of DUCK_C4_KEEP."""
    return (
        (F.col("n_words") >= C4_MIN_WORDS)
        & (F.col("mwl") >= C4_MWL_LO)
        & (F.col("mwl") <= C4_MWL_HI)
        & (F.col("sym_ratio") < C4_SYM_MAX)
        & (F.col("stop_ratio") >= C4_STOP_MIN)
    )


# --------------------------------------------------------------------------
# Q: docs_stratified_sample — exact-N-per-stratum deterministic sample
# (20 per source): one shuffle on the stratum key, md5 draw reproducible
# across engines and across task retries (rand() is not).
# --------------------------------------------------------------------------
_STRAT_N = 20


@query(
    "docs_stratified_sample",
    f"""
    SELECT source, doc_id, sample_rank FROM (
        SELECT source, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS sample_rank
        FROM documents
    ) WHERE sample_rank <= {_STRAT_N}
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sample import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "source", "doc_id", _STRAT_N).select(
        "source", "doc_id", "sample_rank"
    )


# --------------------------------------------------------------------------
# Q: docs_hash_decimation — deterministic corpus decimation audit: bucket
# every doc by md5(doc_id) mod 10, keep buckets < 3, report per-source
# retention. Map-side only (no shuffle before the tiny per-source agg);
# the 100 TB story is the same expression as a scan filter.
# --------------------------------------------------------------------------
@query(
    "docs_hash_decimation",
    """
    WITH b AS (
        SELECT source,
               CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10 AS bucket
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN bucket < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN bucket < 3 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS keep_rate
    FROM b GROUP BY source
    """,
)
def docs_hash_decimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sample import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    kept = F.when(hash_bucket("doc_id", 10) < 3, 1).otherwise(0)
    return (
        docs.select("source", kept.alias("kept"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 4).alias("keep_rate"),
        )
    )


# --------------------------------------------------------------------------
# Q: pii_scrub_extract — PII redaction end-to-end: synthesize a contact
# blob with a deterministic email/phone/SSN per customer (the engine op
# under test is the scrubber, not the data), redact with the shared
# Java/RE2 pattern set, count each entity class. The oracle applies the
# IDENTICAL patterns in the identical order — the scrubbed strings must
# match byte-for-byte.
# --------------------------------------------------------------------------
_DUCK_CONTACT = (
    "c_name || ' ph 555-' || LPAD(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') "
    "|| ' user' || CAST(c_custkey AS VARCHAR) || '@example.com ssn ' "
    "|| LPAD(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' "
    "|| LPAD(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || '-' "
    "|| LPAD(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
)


@query(
    "pii_scrub_extract",
    f"""
    WITH c AS (SELECT c_custkey, {_DUCK_CONTACT} AS contact FROM customer)
    SELECT c_custkey,
           {duck_scrub_sql("contact")} AS scrubbed,
           CAST(LEN(REGEXP_EXTRACT_ALL(contact, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(contact, '{SSN_RE}')) AS BIGINT) AS n_ssns,
           CAST(LEN(REGEXP_EXTRACT_ALL(contact, '{PHONE_RE}')) AS BIGINT) AS n_phones
    FROM c
    """,
)
def pii_scrub_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    contact = F.concat(
        F.col("c_name"),
        F.lit(" ph 555-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" user"),
        key.cast("string"),
        F.lit("@example.com ssn "),
        F.lpad((key % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((key % 100).cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
    )
    blob = customer.select("c_custkey", contact.alias("contact"))
    return blob.select(
        "c_custkey",
        scrub_pii("contact").alias("scrubbed"),
        count_pattern("contact", EMAIL_RE).alias("n_emails"),
        count_pattern("contact", SSN_RE).alias("n_ssns"),
        count_pattern("contact", PHONE_RE).alias("n_phones"),
    )


# --------------------------------------------------------------------------
# Q: embedding_quantize_int8 — symmetric int8 scalar quantization with
# reconstruction diagnostics. floor(x*127/m + 0.5) double math is
# IEEE-identical across engines, so the oracle checks the CODES (via
# their checksum) — not just an error bound — plus rmse to 6 decimals.
# --------------------------------------------------------------------------
@query(
    "embedding_quantize_int8",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (SELECT vec_id, v, LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) AS mx FROM e),
    q AS (
        SELECT vec_id, v, mx,
               CASE WHEN mx > 0 THEN LIST_TRANSFORM(
                   v, x -> CAST(FLOOR(x * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        FROM m
    )
    SELECT vec_id,
           ROUND(mx, 6) AS max_abs,
           CAST(LIST_SUM(qv) AS BIGINT) AS q_sum,
           ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v, qv),
                 p -> POWER(p[1] - p[2] * mx / 127.0, 2))) / LEN(v)), 6) AS rmse
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.quantize import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb)


# --------------------------------------------------------------------------
# Q: docs_tfidf_topterms — per-document top-3 TF-IDF terms: term
# frequency (explode + count), document frequency (second-level count —
# tf is already distinct per (doc, term)), smoothed idf via a broadcast
# 1-row corpus count. Ranking key is ROUND(tfidf, 6) then term — pinned
# to 6 decimals so a 1-ulp ln() difference between engines cannot flip
# the order.
# --------------------------------------------------------------------------
_TFIDF_K = 3


@query(
    "docs_tfidf_topterms",
    f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    w AS (SELECT doc_id, UNNEST(toks) AS term FROM tk),
    tf AS (SELECT doc_id, term, COUNT(*) AS c FROM w GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(tf.c AS BIGINT) AS tf_count,
               dfreq.dfc AS doc_freq,
               ROUND(tf.c * LN((n.nd + 1.0) / (dfreq.dfc + 1.0)), 6) AS tfidf
        FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    )
    SELECT doc_id, term, tf_count, doc_freq, tfidf, rk FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
        FROM scored
    ) WHERE rk <= {_TFIDF_K}
    """,
)
def docs_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_parallel(spark, sf_dir)
    w = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfc"))
    nd = docs.agg(F.count(F.lit(1)).alias("nd"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "term",
            F.col("c").alias("tf_count"),
            F.col("dfc").alias("doc_freq"),
            F.round(
                F.col("c") * F.log((F.col("nd") + 1.0) / (F.col("dfc") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    )
    return (
        scored.withColumn("rk", rk.cast("long"))
        .where(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "term", "tf_count", "doc_freq", "tfidf", "rk")
    )


# --------------------------------------------------------------------------
# Q: streaming_conversion_lag — stream-stream interval join as a declared
# query: two file streams (views, purchases) joined on user within a
# 4-hour event-time window, drained append-mode into a memory sink, then
# aggregated per user. An inner interval join emits exactly the batch
# join's rows, so the batch SQL oracle fully checks the streaming plan.
# --------------------------------------------------------------------------
_CONV_LAG_MIN = 240


@query(
    "streaming_conversion_lag",
    f"""
    WITH pr AS (
        SELECT v.user_id, EPOCH_US(p.ts) - EPOCH_US(v.ts) AS lag_us
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL {_CONV_LAG_MIN} MINUTES
    )
    SELECT user_id,
           COUNT(*) AS n_pairs,
           MIN(lag_us) AS min_lag_us,
           MAX(lag_us) AS max_lag_us,
           CAST(SUM(lag_us) AS BIGINT) AS total_lag_us
    FROM pr GROUP BY user_id
    """,
)
def streaming_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.streaming import (
        read_event_stream,
        run_to_memory,
        view_purchase_pairs,
    )

    views = read_event_stream(spark, sf_dir).where(F.col("event_type") == "view")
    purchases = read_event_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    pairs = view_purchase_pairs(views, purchases, max_lag_minutes=_CONV_LAG_MIN)
    name = f"stream_conv_{uuid.uuid4().hex[:12]}"
    run_to_memory(pairs, name, output_mode="append", state_partitions=8)
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("lag_us").alias("min_lag_us"),
            F.max("lag_us").alias("max_lag_us"),
            F.sum("lag_us").alias("total_lag_us"),
        )
    )


# --------------------------------------------------------------------------
# Q: streaming_source_quota — per-source admission caps on the document
# ingest stream: admit each source's first _QUOTA_N docs (doc_id order)
# and refuse the rest, with the admitted count carried as operator state
# ACROSS micro-batches — a per-batch row_number cannot enforce a
# cross-batch cap. Runs on the Spark 4 transformWithStateInPandas API
# (StatefulProcessor + named ValueState) where its protobuf dependency
# exists, else the applyInPandasWithState form of the same state machine
# (streaming/quota.py; identical _admit step, cross-checked in tests).
# The cap binds at every SF (15 < 25 docs/source at sf0.01). Oracle = the
# batch row_number form; multi-batch ≡ one-batch is pinned in
# tests/test_streaming.py.
# --------------------------------------------------------------------------
_QUOTA_N = 15


@query(
    "streaming_source_quota",
    f"""
    SELECT doc_id, source, rn AS admit_rank
    FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    )
    WHERE rn <= {_QUOTA_N}
    """,
)
def streaming_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.streaming import run_to_memory
    from pmp_analytics_spark.streaming.quota import source_quota_stream_auto
    from pmp_analytics_spark.streaming.sessions import read_doc_stream

    name = f"stream_quota_{uuid.uuid4().hex[:12]}"
    admitted = source_quota_stream_auto(
        read_doc_stream(spark, sf_dir).select("doc_id", "source"), _QUOTA_N
    )
    run_to_memory(admitted, name, output_mode="append", state_partitions=8)
    return spark.table(name)


# --------------------------------------------------------------------------
# Q: streaming_quarantine — dead-letter routing AT the ingest door
# (streaming/ingest.py::quarantine_ingest_stream): every micro-batch is
# split by quality.quarantine before landing — clean rows into the
# corpus sink, failing rows into the dead-letter sink with their
# ``reasons`` array — so the corpus only ever contains admitted rows
# (validate at the door, not after landing). The split is one map-side
# projection per batch (stateless, row-local), hence deterministic under
# ANY micro-batch slicing and oracle-checked by the full batch-replay
# SQL. Both sinks are per-batch-id idempotent (dynamic partition
# overwrite). Multi-batch ≡ batch pinned in tests/test_streaming.py.
# Rules: docs shorter than 60 chars and the one unsupported language are
# refused; both rule classes fire at every SF.
# --------------------------------------------------------------------------
@query(
    "streaming_quarantine",
    """
    WITH tagged AS (
        SELECT doc_id,
               LIST_FILTER([
                   CASE WHEN NOT COALESCE(n_chars >= 60, FALSE) THEN 'too_short' END,
                   CASE WHEN NOT COALESCE(lang IN ('en', 'es', 'de', 'fr'), FALSE) THEN 'unsupported_lang' END
               ], x -> x IS NOT NULL) AS reasons
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN LEN(reasons) = 0 THEN 'clean' ELSE 'dead' END AS disposition,
           COALESCE(ARRAY_TO_STRING(reasons, ','), '') AS reason_list
    FROM tagged
    """,
)
def streaming_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.operators.quality import RowRule
    from pmp_analytics_spark.streaming import stream_workdir
    from pmp_analytics_spark.streaming.ingest import quarantine_ingest_stream
    from pmp_analytics_spark.streaming.sessions import read_doc_stream

    rules = [
        RowRule("too_short", F.col("n_chars") >= 60),
        RowRule("unsupported_lang", F.col("lang").isin("en", "es", "de", "fr")),
    ]

    def side(path: str, schema: str, disposition: str, reason_expr) -> DataFrame:
        if not os.path.isdir(path):  # no micro-batch ran
            return spark.createDataFrame(
                [], "doc_id long, disposition string, reason_list string"
            )
        # the declared schema reads a side no batch wrote rows to (an
        # all-clean corpus) as empty
        return spark.read.schema(schema).parquet(path).select(
            "doc_id",
            F.lit(disposition).alias("disposition"),
            reason_expr.alias("reason_list"),
        )

    with stream_workdir("pmp_quarantine_ingest") as work:
        clean_p, dead_p = f"{work}/clean", f"{work}/dead"
        quarantine_ingest_stream(
            read_doc_stream(spark, sf_dir).select("doc_id", "n_chars", "lang"),
            rules,
            clean_p,
            dead_p,
            f"{work}/ckpt",
        )
        return (
            side(clean_p, "doc_id long", "clean", F.lit(""))
            .unionByName(
                side(
                    dead_p,
                    "doc_id long, reasons array<string>",
                    "dead",
                    F.array_join("reasons", ","),
                )
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Q: docs_export_shards — the corpus-export step through the CUSTOM
# Python DataSource WRITER (sources/pydatasource.py::JsonlShardDataSource):
# documents round-trip Spark → manifest-committed JSONL shards → Spark,
# then aggregate per source. The oracle computes the same aggregate from
# the parquet directly, so a pass proves the sink+reader pair is lossless
# (row counts, text char lengths, metadata) under the manifest commit
# protocol. The export is written once per version of the documents files.
# --------------------------------------------------------------------------
_JSONL_EXPORT_VERSION = 2
"""Bump when the jsonlshard writer's serialization changes (v2: ISO-us
timestamps + ArrowDtype int fidelity) — the memoized export below is
keyed on it, so a writer change can never serve a stale export to the
oracle gate."""


def jsonl_export_path(spark: SparkSession, sf_dir: str) -> str:
    import os

    from pmp_analytics_spark.sources import pydatasource

    def write(path: str) -> None:
        pydatasource.register(spark)
        docs = load_table(spark, sf_dir, "documents")
        (
            docs.repartition(8)
            .write.format("jsonlshard")
            .option("path", path)
            .mode("overwrite")
            .save()
        )

    return memo.extract(
        spark,
        f"pmp_docs_jsonl_v{_JSONL_EXPORT_VERSION}",
        [os.path.join(sf_dir, "documents.parquet")],
        write,
    )


@query(
    "docs_export_shards",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS text_chars,
           CAST(SUM(n_chars) AS BIGINT) AS meta_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY source
    """,
)
def docs_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.sources.pydatasource import read_jsonl_shards

    schema = load_table(spark, sf_dir, "documents").schema
    back = read_jsonl_shards(spark, jsonl_export_path(spark, sf_dir), schema)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("text_chars"),
        F.sum("n_chars").alias("meta_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# Q: docs_adaptive_quality_filter — per-SOURCE adaptive quality gate: keep
# each source's top 75% of documents by the composite quality score
# (exact interpolated P25 per source, not one global threshold — a fixed
# cutoff over-prunes clean sources and under-prunes noisy ones; the
# per-domain adaptive form is what large corpus pipelines actually run).
# Quality values are 6-decimal-quantized on BOTH engines (quality_score
# rounds, the oracle rounds), so the percentile interpolates identical
# inputs and the boundary comparison is engine-exact. Scale shape: one
# groupBy over ~#sources rows for the thresholds, broadcast back, map-side
# filter — the corpus shuffles nowhere.
# --------------------------------------------------------------------------
from pmp_analytics_spark.functions.text import quality_score  # noqa: E402


@query("docs_adaptive_quality_filter")
def docs_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.quantiles import (
        interpolated_group_percentile,
    )

    docs = _docs_parallel(spark, sf_dir)
    # lazy localCheckpoint, not cache(): the per-source thresholds (two
    # passes below) and the final join both consume q — unmaterialized
    # the quality scoring re-executes per consumer; the checkpoint form
    # needs no unpersist owner (VERDICT r12 #2).
    q = docs.select(
        "doc_id", "source", quality_score("text").alias("quality")
    ).localCheckpoint(eager=False)
    # bounded-memory per-source P25 — bit-identical to the groupBy
    # F.percentile but no per-reducer value map (operators/quantiles.py;
    # guide §5)
    thr = interpolated_group_percentile(
        q, "source", "quality", 0.25, out_col="p25"
    )
    return (
        q.join(F.broadcast(thr), on="source")
        .where(F.col("quality") >= F.col("p25"))
        .select(
            "doc_id",
            "source",
            "quality",
            F.round("p25", 6).alias("src_p25"),
        )
    )


def _adaptive_quality_oracle() -> str:
    # Lazily embeds the docs_quality oracle as a CTE (resolved at check
    # time by all_oracles, so the packs' import order does not matter).
    return f"""
    WITH q AS (
        {ORACLE["docs_quality"]}
    ), j AS (
        SELECT q.doc_id, s.source, q.quality
        FROM q JOIN (SELECT doc_id, source FROM documents) s
          ON q.doc_id = s.doc_id
    ), thr AS (
        SELECT source, QUANTILE_CONT(quality, 0.25) AS p25
        FROM j GROUP BY source
    )
    SELECT j.doc_id, j.source, j.quality, ROUND(thr.p25, 6) AS src_p25
    FROM j JOIN thr ON j.source = thr.source
    WHERE j.quality >= thr.p25
    """


ORACLE["docs_adaptive_quality_filter"] = _adaptive_quality_oracle


# --------------------------------------------------------------------------
# Q: docs_gopher_filters — Gopher-style quality rules (Rae et al. 2021,
# App. A), the standard complement to docs_c4_filters: word-count bounds,
# mean word length, symbol-to-word ratio (# and ellipses), the fraction
# of words containing an alphabetic character, stopword PRESENCE (>= 2
# distinct from the Gopher list — a different signal from C4's stopword
# RATIO), and the line-level bullet / ellipsis-ending ratios. Every
# feature is integer counts + one division (bit-identical across
# engines); the whole query is a single map-side projection — the 100 TB
# shape is this expression as a scan-time filter, no shuffle at all.
# Words are WHITESPACE-split (not punct-stripped) per Gopher, so the
# alphabetic-character and symbol rules see real punctuation.
# --------------------------------------------------------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO = 3
GOPHER_MWL_HI = 10
GOPHER_SYM_MAX = 0.1
GOPHER_ALPHA_MIN = 0.8
GOPHER_STOP_MIN = 2
GOPHER_BULLET_MAX = 0.9
GOPHER_ELLIPSIS_MAX = 0.3
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# Explicit whitespace class for every Gopher regex: Java's \s includes
# \x0B (vertical tab) while RE2's does not — an implicit \s would make
# Spark and the DuckDB oracle split words differently on adversarial
# input. One class, spelled out, used verbatim on both sides.
GOPHER_WS = r"[ \t\n\r\f\x0B]"

_DUCK_GOPHER_STOPS = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"

_DUCK_GOPHER_KEEP = (
    f"n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS} "
    f"AND mwl >= {GOPHER_MWL_LO} AND mwl <= {GOPHER_MWL_HI} "
    f"AND sym_ratio <= {GOPHER_SYM_MAX} AND alpha_frac >= {GOPHER_ALPHA_MIN} "
    f"AND n_stop >= {GOPHER_STOP_MIN} AND bullet_frac <= {GOPHER_BULLET_MAX} "
    f"AND ellipsis_frac <= {GOPHER_ELLIPSIS_MAX}"
)


# CTE fragment: `gopher_scored` = (doc_id, n_words, mwl, sym_ratio,
# alpha_frac, n_stop, bullet_frac, ellipsis_frac) over the documents
# table — shared by this query's oracle and the corpus datasheet's
# (the DUCK_C4_SCORED pattern: one definition, no drift).
DUCK_GOPHER_SCORED = f"""__gopher_words AS (
        SELECT doc_id,
               LIST_FILTER(STRING_SPLIT_REGEX(text, '{GOPHER_WS}+'), x -> x <> '') AS words,
               STRING_SPLIT(text, CHR(10)) AS lines,
               (LENGTH(text) - LENGTH(REPLACE(text, '#', '')))
                 + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3
                 + (LENGTH(text) - LENGTH(REPLACE(text, '…', ''))) AS n_sym
        FROM documents
    ), gopher_scored AS (
        SELECT doc_id,
               CAST(LEN(words) AS BIGINT) AS n_words,
               CASE WHEN LEN(words) > 0
                    THEN LIST_SUM(LIST_TRANSFORM(words, x -> LENGTH(x))) * 1.0 / LEN(words)
                    ELSE 0.0 END AS mwl,
               CASE WHEN LEN(words) > 0 THEN n_sym * 1.0 / LEN(words) ELSE 0.0 END AS sym_ratio,
               CASE WHEN LEN(words) > 0
                    THEN LEN(LIST_FILTER(words, x -> REGEXP_MATCHES(x, '[a-zA-Z]'))) * 1.0 / LEN(words)
                    ELSE 0.0 END AS alpha_frac,
               CAST(LEN(LIST_INTERSECT(LIST_TRANSFORM(words, x -> LOWER(x)),
                                       {_DUCK_GOPHER_STOPS})) AS BIGINT) AS n_stop,
               LEN(LIST_FILTER(lines, l -> REGEXP_MATCHES(l, '^{GOPHER_WS}*[-*•]'))) * 1.0 / LEN(lines) AS bullet_frac,
               LEN(LIST_FILTER(lines, l -> REGEXP_MATCHES(l, '(\\.\\.\\.|…){GOPHER_WS}*$'))) * 1.0 / LEN(lines) AS ellipsis_frac
        FROM __gopher_words
    )"""


@query(
    "docs_gopher_filters",
    f"""
    WITH {DUCK_GOPHER_SCORED}
    SELECT doc_id, n_words,
           ROUND(mwl, 4) AS mean_word_len,
           ROUND(sym_ratio, 6) AS symbol_ratio,
           ROUND(alpha_frac, 6) AS alpha_word_frac,
           n_stop AS n_stopwords_present,
           ROUND(bullet_frac, 6) AS bullet_line_frac,
           ROUND(ellipsis_frac, 6) AS ellipsis_line_frac,
           ({_DUCK_GOPHER_KEEP}) AS keep
    FROM gopher_scored
    """,
)
def docs_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT wrapped in _docs_parallel: the plan gate pins this query to
    # zero exchanges (pure per-row projection — the 100 TB shape is a
    # scan-time filter), and at 0.7 s it has no parallelism problem to
    # fix; a repartition would add the only shuffle in the plan.
    docs = load_table(spark, sf_dir, "documents")
    feats = _gopher_scored(docs)
    return feats.select(
        "doc_id",
        "n_words",
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("sym_ratio", 6).alias("symbol_ratio"),
        F.round("alpha_frac", 6).alias("alpha_word_frac"),
        F.col("n_stop").alias("n_stopwords_present"),
        F.round("bullet_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_frac", 6).alias("ellipsis_line_frac"),
        _gopher_keep().alias("keep"),
    )


def _gopher_scored(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Map-side Gopher feature frame (doc_id [, *extra], n_words, mwl,
    sym_ratio, alpha_frac, n_stop, bullet_frac, ellipsis_frac) — the
    Spark twin of DUCK_GOPHER_SCORED, shared by docs_gopher_filters and
    the corpus datasheet. ``extra`` columns pass through untouched."""
    words = F.filter(F.split(F.col("text"), GOPHER_WS + "+"), lambda x: x != "")
    lines = F.split(F.col("text"), "\n")
    n_sym = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
        + (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."), F.lit(""))))
            / F.lit(3)
        ).cast("long")
        + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("…"), F.lit(""))))
    )
    base = docs.select(
        "doc_id",
        *extra,
        words.alias("words"),
        lines.alias("lines"),
        n_sym.alias("n_sym"),
    )
    n = F.size("words")
    sum_len = F.aggregate(
        F.col("words"), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    n_alpha = F.size(F.filter(F.col("words"), lambda x: x.rlike("[a-zA-Z]")))
    n_stop = F.size(
        F.array_intersect(
            F.transform(F.col("words"), F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    n_lines = F.size("lines")
    n_bullet = F.size(F.filter(F.col("lines"), lambda l: l.rlike("^" + GOPHER_WS + "*[-*•]")))
    n_ell = F.size(F.filter(F.col("lines"), lambda l: l.rlike(r"(\.\.\.|…)" + GOPHER_WS + "*$")))
    return base.select(
        "doc_id",
        *extra,
        n.cast("long").alias("n_words"),
        F.when(n > 0, sum_len * 1.0 / n).otherwise(0.0).alias("mwl"),
        F.when(n > 0, F.col("n_sym") * 1.0 / n).otherwise(0.0).alias("sym_ratio"),
        F.when(n > 0, n_alpha * 1.0 / n).otherwise(0.0).alias("alpha_frac"),
        n_stop.cast("long").alias("n_stop"),
        (n_bullet * 1.0 / n_lines).alias("bullet_frac"),
        (n_ell * 1.0 / n_lines).alias("ellipsis_frac"),
    )


def _gopher_keep() -> F.Column:
    """The Gopher keep conjunction over ``_gopher_scored`` aliases — the
    Spark twin of _DUCK_GOPHER_KEEP."""
    return (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mwl") >= GOPHER_MWL_LO)
        & (F.col("mwl") <= GOPHER_MWL_HI)
        & (F.col("sym_ratio") <= GOPHER_SYM_MAX)
        & (F.col("alpha_frac") >= GOPHER_ALPHA_MIN)
        & (F.col("n_stop") >= GOPHER_STOP_MIN)
        & (F.col("bullet_frac") <= GOPHER_BULLET_MAX)
        & (F.col("ellipsis_frac") <= GOPHER_ELLIPSIS_MAX)
    )


# --------------------------------------------------------------------------
# Q: docs_dsir_sample — DSIR-shaped data selection (Xie et al., "Data
# Selection for Language Models via Importance Resampling", NeurIPS
# 2023): score every document by how target-like its hashed-n-gram
# profile is, then draw a without-replacement sample proportional to the
# importance weights via the Gumbel-top-k trick with a deterministic
# md5-uniform (engine-reproducible — rand() is not).
#
# Movement (the 100 TB story): features are hashed unigrams+bigrams into
# B=256 buckets, so BOTH distributions (target = lang='en' slice, raw =
# full corpus) collapse to one B-row table in a single shuffle — the
# feature space is fixed-size no matter the corpus. The per-bucket
# log-ratio table broadcasts into the per-doc score join (B rows), doc
# scores are one more explode→groupBy, and selection is a global top-k
# (TakeOrderedAndProject — never a full sort). Published doubles are
# rounded (log/summation order differs at the ulp level across engines);
# the add-1-smoothed ratio formula is stated identically on both sides.
# --------------------------------------------------------------------------
_DSIR_B = 256
_DSIR_N = 64
_TWO60 = float(1 << 60)


@query(
    "docs_dsir_sample",
    f"""
    WITH tk AS (
        SELECT doc_id, lang, {DUCK_TOKENS} AS toks FROM documents
    ), f AS (
        SELECT doc_id, is_tgt,
               CAST(('0x' || SUBSTRING(MD5(feat), 1, 15)) AS BIGINT) % {_DSIR_B} AS b
        FROM (
            SELECT doc_id, lang = 'en' AS is_tgt,
                   UNNEST(toks || {_DUCK_2GRAMS}) AS feat
            FROM tk
        )
    ), dc AS (
        SELECT doc_id, is_tgt, b, COUNT(*) AS c FROM f GROUP BY doc_id, is_tgt, b
    ), bc AS (
        SELECT b, SUM(c) AS raw_c, COALESCE(SUM(c) FILTER (WHERE is_tgt), 0) AS tgt_c
        FROM dc GROUP BY b
    ), tot AS (
        SELECT SUM(raw_c) AS rtot, SUM(tgt_c) AS ttot FROM bc
    ), lr AS (
        SELECT b,
               LN((tgt_c + 1.0) / (ttot + {_DSIR_B}.0))
                 - LN((raw_c + 1.0) / (rtot + {_DSIR_B}.0)) AS lw
        FROM bc, tot
    ), score AS (
        SELECT dc.doc_id, SUM(dc.c * lr.lw) AS logw
        FROM dc JOIN lr ON dc.b = lr.b GROUP BY dc.doc_id
    ), g AS (
        SELECT d.doc_id,
               COALESCE(s.logw, 0.0) AS logw,
               COALESCE(s.logw, 0.0) - LN(-LN(
                   (CAST(('0x' || SUBSTRING(MD5('dsir|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                   / {_TWO60!r}
               )) AS gk
        FROM documents d LEFT JOIN score s ON d.doc_id = s.doc_id
    )
    SELECT doc_id, ROUND(logw, 4) AS log_weight, ROUND(gk, 4) AS gumbel_key
    FROM g ORDER BY ROUND(gk, 4) DESC, doc_id LIMIT {_DSIR_N}
    """,
)
def docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.text import shingle_hash60, word_ngrams
    from pmp_analytics_spark.operators.agg import with_global_agg

    docs = _docs_parallel(spark, sf_dir).select(
        "doc_id", "lang", tokens("text").alias("toks")
    )
    f = docs.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_tgt"),
        F.explode(
            F.concat(F.col("toks"), word_ngrams(F.col("toks"), 2))
        ).alias("feat"),
    ).select(
        "doc_id",
        "is_tgt",
        (shingle_hash60(F.col("feat")) % _DSIR_B).alias("b"),
    )
    # dc is the shared base of BOTH branches: the bucket distribution
    # (bc) re-aggregates dc's partials and the per-doc score consumes dc
    # directly, so the one corpus-sized explode+exchange is planned once
    # and reused (ReusedExchange) instead of the explode running twice —
    # is_tgt rides in the grouping key (it is functionally determined by
    # doc_id) so bc can split target counts without a second pass.
    # lazily checkpointed: the lr materialization below splits the query
    # into a fit ACTION and a score ACTION, and without a materialization
    # boundary the score pass re-ran the corpus explode+hash from scratch
    # (profiled as a second 24-77 s summed-CPU stage). dc is the compact
    # per-doc bucket-count frame (≤ _DSIR_B rows per doc — strictly
    # smaller than the exploded feature stream it aggregates), so storing
    # it beats recomputing it at any scale; ContextCleaner frees the
    # blocks when the frame goes out of scope.
    dc = (
        f.groupBy("doc_id", "is_tgt", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    bc = dc.groupBy("b").agg(
        F.sum("c").alias("raw_c"),
        F.coalesce(
            F.sum(F.when(F.col("is_tgt"), F.col("c"))), F.lit(0)
        ).alias("tgt_c"),
    )
    tot = with_global_agg(
        bc, {"rtot": F.sum("raw_c"), "ttot": F.sum("tgt_c")}
    )
    lr = tot.select(
        "b",
        (
            F.log((F.col("tgt_c") + 1.0) / (F.col("ttot") + float(_DSIR_B)))
            - F.log((F.col("raw_c") + 1.0) / (F.col("rtot") + float(_DSIR_B)))
        ).alias("lw"),
    )
    # Materialize the B-row ratio table: this pins the query to exactly
    # TWO corpus passes — a fit pass (dc→bc→totals→lr, bc's two
    # consumers share one exchange via ReuseExchange) and a score pass —
    # instead of the lr broadcast subtree replaying the corpus explode a
    # third time inside the score join. 256 rows; the natural fit+score
    # split of any importance-weighting pipeline.
    lr = lr.localCheckpoint(eager=True)
    score = (
        dc.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lw")).alias("logw"))
    )
    u = (
        shingle_hash60(F.concat(F.lit("dsir|"), F.col("doc_id").cast("string")))
        + F.lit(0.5)
    ) / F.lit(_TWO60)
    g = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(score, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("logw"), F.lit(0.0)).alias("logw"),
            (
                F.coalesce(F.col("logw"), F.lit(0.0)) - F.log(-F.log(u))
            ).alias("gk"),
        )
    )
    # selection orders on the ROUNDED key (the published value): the
    # unrounded float sum differs at the ulp level across engines and
    # partition merge orders, so an unrounded cutoff could swap rank-64
    # membership between engines; doc_id breaks rounded ties exactly
    return (
        g.orderBy(F.desc(F.round("gk", 4)), F.asc("doc_id"))
        .limit(_DSIR_N)
        .select(
            "doc_id",
            F.round("logw", 4).alias("log_weight"),
            F.round("gk", 4).alias("gumbel_key"),
        )
    )


# --------------------------------------------------------------------------
# Q: docs_corpus_datasheet — the per-source "datasheet for the dataset"
# (Gebru et al., CACM 2021): one row per source with volume (docs,
# tokens, chars), both quality-gate pass rates (C4 and Gopher — the
# SHARED module constants/fragments, so the datasheet can never drift
# from the stage queries), the exact-duplicate rate, and language
# spread. Movement: every per-doc feature is map-side (both quality
# gates are pure projections); the only corpus-sized shuffles are the
# fingerprint groupBy for the dup flag and the doc_id-keyed feature
# joins; the final per-source aggregate is tiny. This is the artifact a
# data curator reads before a training run.
# --------------------------------------------------------------------------
@query(
    "docs_corpus_datasheet",
    f"""
    WITH {DUCK_C4_SCORED}, {DUCK_GOPHER_SCORED},
    __c4k AS (
        SELECT doc_id, n_words, ({DUCK_C4_KEEP}) AS c4_keep FROM c4_scored
    ), __gk AS (
        SELECT doc_id, ({_DUCK_GOPHER_KEEP}) AS g_keep FROM gopher_scored
    ), __fp AS (
        SELECT doc_id, MD5(ARRAY_TO_STRING({DUCK_TOKENS}, ' ')) AS fp
        FROM documents
    ), __fpc AS (
        SELECT fp, COUNT(*) AS c FROM __fp GROUP BY fp
    ), __dup AS (
        SELECT f.doc_id, (c.c > 1) AS is_dup FROM __fp f JOIN __fpc c USING (fp)
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(k.n_words) AS BIGINT) AS n_tokens,
           ROUND(AVG(d.n_chars), 2) AS avg_chars,
           ROUND(AVG(CASE WHEN k.c4_keep THEN 1.0 ELSE 0.0 END), 4) AS c4_keep_rate,
           ROUND(AVG(CASE WHEN g.g_keep THEN 1.0 ELSE 0.0 END), 4) AS gopher_keep_rate,
           ROUND(AVG(CASE WHEN u.is_dup THEN 1.0 ELSE 0.0 END), 4) AS dup_rate,
           CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs
    FROM documents d
    JOIN __c4k k USING (doc_id)
    JOIN __gk g USING (doc_id)
    JOIN __dup u USING (doc_id)
    GROUP BY d.source
    """,
)
def docs_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.text import fingerprint

    # NOT wrapped in _docs_parallel: the scan feeds two consumer branches
    # (the stacked projection chain and the fingerprint join), so the
    # parallelism repartition would appear under BOTH subtrees (+2
    # exchanges against the gate's corpus-sized-exchange budget).
    docs = load_table(spark, sf_dir, "documents")
    # ONE stacked map-side projection chain carries every per-doc
    # feature (C4 scored → C4 keep + fingerprint → Gopher scored →
    # Gopher keep) — the per-doc features are all pure projections of
    # the same scan, so joining separately-derived frames back on
    # doc_id would shuffle the corpus three extra times for nothing.
    # The only corpus-sized exchange is the fingerprint hash (count +
    # co-partitioned join, one exchange reused) before the tiny
    # per-source aggregate.
    s1 = _c4_scored(docs, extra=("source", "lang", "n_chars", "text"))
    s2 = s1.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "text",
        F.col("n_words").alias("c4_n_words"),
        _c4_keep().alias("c4_keep"),
        fingerprint("text").alias("fp"),
    )
    s3 = _gopher_scored(
        s2, extra=("source", "lang", "n_chars", "c4_n_words", "c4_keep", "fp")
    )
    per_doc = s3.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "c4_n_words",
        "c4_keep",
        "fp",
        _gopher_keep().alias("g_keep"),
    )
    # the count branch derives from a NARROW fingerprint projection, not
    # from per_doc: the exchanges' children differ so ReusedExchange
    # cannot fold them, and hanging the count off per_doc would run the
    # whole C4+Gopher feature chain twice — this way the second pass
    # recomputes only the md5
    fpc = (
        docs.select(fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    j = per_doc.join(fpc, "fp").withColumn("is_dup", F.col("c") > 1)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("c4_n_words").alias("n_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(F.when(F.col("c4_keep"), 1.0).otherwise(0.0)), 4).alias(
            "c4_keep_rate"
        ),
        F.round(F.avg(F.when(F.col("g_keep"), 1.0).otherwise(0.0)), 4).alias(
            "gopher_keep_rate"
        ),
        F.round(F.avg(F.when(F.col("is_dup"), 1.0).otherwise(0.0)), 4).alias(
            "dup_rate"
        ),
        F.countDistinct("lang").alias("n_langs"),
    )


# --------------------------------------------------------------------------
# Q: docs_quality_classifier — model-BASED quality filtering (north-star
# surface; no reference analog: the GPT-3 / CCNet / FineWeb pipelines all
# gate the corpus with a tiny linear classifier over hashed features): a
# hashing-trick logistic regression is fit by 8 full-batch GD iterations
# on weak labels (doc contains the stop token), class-balanced so the
# 382/118 label skew doesn't collapse the threshold into the majority
# class, then scores the corpus; output is the confusion summary of
# sign-of-margin predictions vs the weak labels (96.6%% accuracy at
# sf0.01). The oracle unrolls the EXACT iterations as MATERIALIZED SQL
# CTEs (inlined CTEs re-evaluate the w-chain exponentially); in-engine
# gradient rounding (1e-8) pins the two engines' trajectories together
# (operators/classifier.py module docstring). lr/iters chosen by A/B at
# sf0.01: lr 3.0 x 8 separates cleanly; longer training at this fixed
# step oscillates (documented full-batch-GD behavior, not a bug).
# --------------------------------------------------------------------------
_CLF_DIM = 64
_CLF_LR = 3.0
_CLF_ITERS = 8
_CLF_GRAD_DP = 8


def _clf_oracle_prefix() -> str:
    b = f"CAST(CAST(('0x' || SUBSTRING(MD5(t), 1, 15)) AS BIGINT) % {_CLF_DIM} AS INT)"
    M = "AS MATERIALIZED"
    parts = [
        f"WITH tk {M} (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents)",
        f"lab {M} (SELECT doc_id, CASE WHEN LIST_CONTAINS(toks, 'the')"
        " THEN 1 ELSE 0 END AS y FROM tk)",
        # class-balanced sample weight n/(2*n_y): a ratio of integers,
        # exact-deterministic in every engine
        f"cw {M} (SELECT l.doc_id, l.y, (SELECT COUNT(*) * 1.0 FROM lab)"
        " / (2.0 * COUNT(*) OVER (PARTITION BY y)) AS sw FROM lab l)",
        "tok AS (SELECT doc_id, UNNEST(toks) AS t FROM tk)",
        f"feats {M} (SELECT DISTINCT doc_id, {b} AS bucket, 1.0 AS x FROM tok"
        f" UNION ALL SELECT doc_id, {_CLF_DIM} AS bucket, 1.0 AS x"
        " FROM documents)",
        "nn AS (SELECT COUNT(*) * 1.0 AS n FROM documents)",
        # iteration 1: w = 0 -> sigmoid(0) = 0.5 exactly
        f"g1 {M} (SELECT f.bucket, ROUND(SUM(f.x * c.sw * (0.5 - c.y))"
        f" / (SELECT n FROM nn), {_CLF_GRAD_DP}) AS g"
        " FROM feats f JOIN cw c USING (doc_id) GROUP BY 1)",
        f"w1 {M} (SELECT bucket, -{_CLF_LR} * g AS w FROM g1)",
    ]
    for t in range(2, _CLF_ITERS + 1):
        parts += [
            f"m{t} {M} (SELECT f.doc_id, SUM(f.x * w.w) AS m"
            f" FROM feats f JOIN w{t-1} w USING (bucket) GROUP BY 1)",
            f"e{t} {M} (SELECT c.doc_id,"
            " c.sw * (1.0 / (1.0 + EXP(-m.m)) - c.y) AS e"
            f" FROM cw c JOIN m{t} m USING (doc_id))",
            f"g{t} {M} (SELECT f.bucket, ROUND(SUM(f.x * e.e)"
            f" / (SELECT n FROM nn), {_CLF_GRAD_DP}) AS g"
            f" FROM feats f JOIN e{t} e USING (doc_id) GROUP BY 1)",
            f"w{t} {M} (SELECT w.bucket, w.w - {_CLF_LR} * g.g AS w"
            f" FROM w{t-1} w JOIN g{t} g USING (bucket))",
        ]
    parts.append(
        f"mf {M} (SELECT f.doc_id, SUM(f.x * w.w) AS m"
        f" FROM feats f JOIN w{_CLF_ITERS} w USING (bucket) GROUP BY 1)"
    )
    return ",\n".join(parts)


def _clf_oracle() -> str:
    return (
        _clf_oracle_prefix()
        + '''
    SELECT l.y, CASE WHEN mf.m > 0 THEN 1 ELSE 0 END AS pred,
           COUNT(*) AS n_docs, ROUND(AVG(mf.m), 4) AS avg_margin
    FROM lab l JOIN mf USING (doc_id)
    GROUP BY 1, 2
    '''
    )


def _clf_labels(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.array_contains(tokens("text"), "the").cast("int").alias("y"),
    )


@memo.on_tables("documents")
def _clf_fit(spark: SparkSession, sf_dir: str) -> list[float]:
    """The trained weight vector, memoized per (session, sf_dir, documents
    files) in ``memo`` — the in-session model of the classifier artifact
    a deployment trains once and ships (same contract as the memoized
    BPE fit): the batch confusion query and the streaming scorer share
    ONE fit."""
    from pmp_analytics_spark.operators.classifier import (
        fit_logistic,
        hashed_features,
    )

    docs = _docs_parallel(spark, sf_dir)
    labels = _clf_labels(docs)
    # class weights via the 1-row-agg broadcast-crossJoin pattern
    # (A7), then broadcast the 2-row weight table onto the labels
    tot = labels.agg(F.count(F.lit(1)).alias("__n"))
    cls_w = (
        labels.groupBy("y")
        .agg(F.count(F.lit(1)).alias("__ny"))
        .crossJoin(F.broadcast(tot))
        .select("y", (F.col("__n") / (2.0 * F.col("__ny"))).alias("sw"))
    )
    # cached only through the fit: every GD iteration joins the
    # weighted labels, and uncached each of the 8 iterations
    # re-ran the scan + tokenize THREE times through this frame's
    # lineage (labels + the two class-count aggregates) — measured
    # as the whole 9.6 s cold-vs-warm gap of
    # docs_quality_classifier (guide §5: cache what is reused,
    # unpersist when done)
    weighted = (
        labels.join(F.broadcast(cls_w), "y")
        .select("doc_id", "y", "sw")
        .cache()
    )
    # cached only through the fit: consumed twice per GD iteration
    feats = hashed_features(
        docs, "text", "doc_id", _CLF_DIM, binary=True
    ).cache()
    w = fit_logistic(
        spark,
        feats,
        weighted,
        weight_col="sw",
        dim=_CLF_DIM,
        lr=_CLF_LR,
        iters=_CLF_ITERS,
        grad_dp=_CLF_GRAD_DP,
    )
    feats.unpersist()
    weighted.unpersist()
    return w


@query("docs_quality_classifier", _clf_oracle())
def docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.classifier import margin_expression

    docs = _docs_parallel(spark, sf_dir)
    labels = _clf_labels(docs)
    w = _clf_fit(spark, sf_dir)
    # score via the row-local margin projection (exactly score_logistic
    # over binary hashed features — equivalence pinned in tests): the
    # scoring pass is map-only instead of a second tokenize + explode +
    # per-doc aggregate over the corpus
    scored = docs.select(
        "doc_id", margin_expression(w, "text", _CLF_DIM).alias("m")
    )
    return (
        labels.join(scored, "doc_id")
        .groupBy("y", (F.col("m") > 0).cast("int").alias("pred"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("m"), 4).alias("avg_margin"),
        )
    )


# --------------------------------------------------------------------------
# Q: streaming_classifier_scores — the train-batch / score-stream split
# every production quality filter ships: the memoized batch fit above is
# the model artifact; the document STREAM is scored by a ROW-LOCAL
# margin expression (operators/classifier.py::margin_expression — the
# weight vector folded as a literal array, distinct-bucket weights
# summed per row). No state, no shuffle, no join in the streaming plan,
# so the result is deterministic under ANY micro-batch slicing and the
# full batch-replay SQL (fit CTEs + per-doc margins) is the oracle.
# --------------------------------------------------------------------------
@query(
    "streaming_classifier_scores",
    lambda: _clf_oracle_prefix()
    + """
    SELECT doc_id, ROUND(m, 4) AS margin,
           CASE WHEN m > 0 THEN 1 ELSE 0 END AS pred
    FROM mf
    """,
)
def streaming_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.operators.classifier import margin_expression
    from pmp_analytics_spark.streaming import run_to_memory
    from pmp_analytics_spark.streaming.sessions import read_doc_stream

    w = _clf_fit(spark, sf_dir)
    m = margin_expression(w, "text", _CLF_DIM)
    scored = read_doc_stream(spark, sf_dir).select(
        "doc_id",
        F.round(m, 4).alias("margin"),
        (m > 0).cast("int").alias("pred"),
    )
    name = f"clf_scores_{uuid.uuid4().hex[:12]}"
    run_to_memory(scored, name, output_mode="append")
    return spark.table(name)


# --------------------------------------------------------------------------
# Q: docs_bigram_heavy_hitters — EXACT frequent-bigram mining at bounded
# shuffle (operators/frequent.py): per-partition Misra-Gries summaries
# (capacity 800 < the ~916-bigram vocabulary, so evictions really run)
# union into a lossless candidate set, then ONE broadcast-pruned exact
# count pass. The output is exactly GROUP BY + HAVING cnt*800 > total —
# which is what the oracle states — but the full vocabulary never
# crosses an exchange: the shuffle carries <= capacity rows per
# partition in pass 1 and only candidate keys in pass 2. Threshold
# phi = 1/800 in exact integer arithmetic (no float boundary).
# --------------------------------------------------------------------------
_HH_DEN = 800


@query(
    "docs_bigram_heavy_hitters",
    f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    bg AS (
        SELECT UNNEST({_DUCK_2GRAMS}) AS item
        FROM tk WHERE LEN(toks) >= 2
    ),
    tot AS (SELECT COUNT(*) AS total FROM bg)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt,
           (SELECT total FROM tot) AS total
    FROM bg GROUP BY item
    HAVING COUNT(*) * {_HH_DEN} > (SELECT total FROM tot)
    """,
)
def docs_bigram_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.frequent import heavy_hitters

    docs = _docs_parallel(spark, sf_dir)
    toks = tokens("text")
    items = docs.select(
        F.explode(word_ngrams(toks, 2)).alias("item")
    )
    return heavy_hitters(items, "item", 1, _HH_DEN)


# --------------------------------------------------------------------------
# Q: customer_card_luhn_audit — checksum-gated PAN detection: bare
# 13-16-digit runs are mostly ids/timestamps, so the PII pack validates
# candidates with the Luhn mod-10 check (functions/pii.py::luhn_valid,
# a pure JVM sequence+transform HOF) before treating them as card
# numbers. Fixture: a deterministic 15-digit payload per customer gets
# its REAL check digit (luhn_check_digit) on even keys and a corrupted
# one (+5 mod 10, never valid) on odd keys — so validation splits the
# extract exactly in half and a lazy always-true/false implementation
# fails the oracle. Scrubbing now covers [CARD] via the shared order.
# --------------------------------------------------------------------------
def _card_audit_oracle() -> str:
    from pmp_analytics_spark.functions.pii import (
        CARD_RE,
        duck_luhn_sum_sql,
        duck_scrub_sql,
    )

    payload = (
        "'4' || LPAD(CAST((c_custkey * 48271) % 100000000000000 AS VARCHAR), 14, '0')"
    )
    psum = duck_luhn_sum_sql("payload", 15, payload_mode=True)
    vsum = duck_luhn_sum_sql("card", 16, payload_mode=False)
    return f"""
    WITH p AS (SELECT c_custkey, c_name, {payload} AS payload FROM customer),
    cd AS (
        SELECT *, (10 - {psum} % 10) % 10 AS good FROM p
    ),
    blob AS (
        SELECT c_custkey,
               c_name || ' pays ' || payload ||
               CAST(CASE WHEN c_custkey % 2 = 0 THEN good
                         ELSE (good + 5) % 10 END AS VARCHAR) || ' today'
               AS contact
        FROM cd
    ),
    x AS (
        SELECT c_custkey, contact,
               REGEXP_EXTRACT_ALL(contact, '{CARD_RE}') AS cards
        FROM blob
    ),
    v AS (
        SELECT c_custkey, contact, LEN(cards) AS n_cards, cards[1] AS card
        FROM x
    )
    SELECT c_custkey, CAST(n_cards AS BIGINT) AS n_cards,
           CAST(CASE WHEN {vsum} % 10 = 0 THEN 1 ELSE 0 END AS INT) AS luhn_ok,
           {duck_scrub_sql("contact")} AS scrubbed
    FROM v
    """


@query("customer_card_luhn_audit", _card_audit_oracle())
def customer_card_luhn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.pii import (
        CARD_RE,
        luhn_check_digit,
        luhn_valid,
    )

    customer = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    payload = F.concat(
        F.lit("4"),
        F.lpad(((key * 48271) % F.lit(10**14)).cast("string"), 14, "0"),
    )
    good = luhn_check_digit(payload)
    digit = F.when(key % 2 == 0, good).otherwise((good + 5) % 10)
    blob = customer.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" pays "),
            payload,
            digit.cast("string"),
            F.lit(" today"),
        ).alias("contact"),
    )
    cards = F.regexp_extract_all(F.col("contact"), F.lit(CARD_RE), 0)
    return blob.select(
        "c_custkey",
        F.size(cards).cast("long").alias("n_cards"),
        # No candidate => not luhn-ok (0), never NULL: the oracle's CASE
        # maps a NULL Luhn sum to 0, so the engine must pin the same
        # semantics explicitly rather than rely on the fixture always
        # embedding a PAN.
        F.coalesce(
            luhn_valid(F.element_at(cards, 1)), F.lit(False)
        ).cast("int").alias("luhn_ok"),
        scrub_pii("contact").alias("scrubbed"),
    )


# --------------------------------------------------------------------------
# Q: docs_drift_psi — population-stability-index drift monitor between
# corpus snapshots (the standard production data-drift gate): for each
# monitored feature (lang, source, and a fixed-width length bucket),
# category shares in the OLD snapshot vs the mutated NEW snapshot
# (the CDC fixture's delete/edit split), Laplace-smoothed so empty
# categories are defined without epsilon games, PSI = sum((q-p)*ln(q/p)).
# Determinism: each category's term is rounded to integer NANOS and
# SUMMED AS BIGINT — float summation order can never move the result —
# then scaled back and rounded. All map-side: two scans, three tiny
# category aggregates, no windows.
# --------------------------------------------------------------------------
def _psi_feature_sql(cat_expr: str, name: str) -> str:
    return f"""
    SELECT '{name}' AS feature, {cat_expr} AS cat, snap, COUNT(*) AS cnt
    FROM snaps GROUP BY 1, 2, 3"""


@query(
    "docs_drift_psi",
    f"""
    WITH old AS (
        SELECT lang, source, n_chars FROM documents WHERE doc_id % 11 <> 7
    ),
    newc AS (
        SELECT lang, source,
               CASE WHEN doc_id % 17 = 2 THEN n_chars + 12 ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 13 <> 4
    ),
    snaps AS (
        SELECT 'old' AS snap, * FROM old
        UNION ALL SELECT 'new' AS snap, * FROM newc
    ),
    cats AS (
        {_psi_feature_sql("lang", "lang")}
        UNION ALL {_psi_feature_sql("source", "source")}
        UNION ALL {_psi_feature_sql(
            "CAST(LEAST(n_chars // 100, 19) AS VARCHAR)", "len_bucket")}
    ),
    tot AS (
        SELECT feature, snap, SUM(cnt) AS n FROM cats GROUP BY 1, 2
    ),
    univ AS (SELECT DISTINCT feature, cat FROM cats),
    ncat AS (SELECT feature, COUNT(*) AS b FROM univ GROUP BY 1),
    shares AS (
        SELECT u.feature, u.cat,
               (COALESCE(o.cnt, 0) + 1.0) / (ot.n + nc.b) AS p,
               (COALESCE(ne.cnt, 0) + 1.0) / (nt.n + nc.b) AS q
        FROM univ u
        JOIN ncat nc ON nc.feature = u.feature
        JOIN tot ot ON ot.feature = u.feature AND ot.snap = 'old'
        JOIN tot nt ON nt.feature = u.feature AND nt.snap = 'new'
        LEFT JOIN cats o ON o.feature = u.feature AND o.cat = u.cat AND o.snap = 'old'
        LEFT JOIN cats ne ON ne.feature = u.feature AND ne.cat = u.cat AND ne.snap = 'new'
    ),
    terms AS (
        SELECT feature,
               CAST(ROUND((q - p) * LN(q / p) * 1e9) AS BIGINT) AS t_nanos
        FROM shares
    )
    SELECT feature, ROUND(SUM(t_nanos) / 1e9, 6) AS psi
    FROM terms GROUP BY feature
    """,
)
def docs_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 11 != 7).select(
        "lang", "source", "n_chars"
    )
    new = docs.where(F.col("doc_id") % 13 != 4).select(
        "lang",
        "source",
        F.when(F.col("doc_id") % 17 == 2, F.col("n_chars") + 12)
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    snaps = old.select(F.lit("old").alias("snap"), "*").unionByName(
        new.select(F.lit("new").alias("snap"), "*")
    )
    feats = [
        ("lang", F.col("lang")),
        ("source", F.col("source")),
        (
            "len_bucket",
            F.least(F.floor(F.col("n_chars") / 100), F.lit(19)).cast("string"),
        ),
    ]
    cats = None
    for name, expr in feats:
        part = snaps.groupBy(expr.alias("cat"), "snap").agg(
            F.count(F.lit(1)).alias("cnt")
        ).select(F.lit(name).alias("feature"), "cat", "snap", "cnt")
        cats = part if cats is None else cats.unionByName(part)
    tot = cats.groupBy("feature", "snap").agg(F.sum("cnt").alias("n"))
    univ = cats.select("feature", "cat").distinct()
    ncat = univ.groupBy("feature").agg(F.count(F.lit(1)).alias("b"))
    o = cats.where(F.col("snap") == "old").select(
        "feature", "cat", F.col("cnt").alias("ocnt")
    )
    ne = cats.where(F.col("snap") == "new").select(
        "feature", "cat", F.col("cnt").alias("ncnt")
    )
    ot = tot.where(F.col("snap") == "old").select(
        "feature", F.col("n").alias("on")
    )
    nt = tot.where(F.col("snap") == "new").select(
        "feature", F.col("n").alias("nn")
    )
    shares = (
        univ.join(F.broadcast(ncat), "feature")
        .join(F.broadcast(ot), "feature")
        .join(F.broadcast(nt), "feature")
        .join(F.broadcast(o), ["feature", "cat"], "left")
        .join(F.broadcast(ne), ["feature", "cat"], "left")
        .select(
            "feature",
            (
                (F.coalesce(F.col("ocnt"), F.lit(0)) + 1.0)
                / (F.col("on") + F.col("b"))
            ).alias("p"),
            (
                (F.coalesce(F.col("ncnt"), F.lit(0)) + 1.0)
                / (F.col("nn") + F.col("b"))
            ).alias("q"),
        )
    )
    terms = shares.select(
        "feature",
        F.round((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p")) * 1e9)
        .cast("long")
        .alias("t_nanos"),
    )
    return terms.groupBy("feature").agg(
        F.round(F.sum("t_nanos") / 1e9, 6).alias("psi")
    )
