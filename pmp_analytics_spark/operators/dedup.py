"""Deduplication operators: exact, keep-first-by-order, MinHash-LSH near-dup.

Reference parity: whole-row ``unique()`` (delinquent_data_submitters.py:67)
and ordering-sensitive keep-first dedup (mm2.py:37-39 — sort by Active desc,
keep first per DEA). Polars' ``maintain_order=True`` has no distributed
equivalent, so keep-first REQUIRES explicit order keys: we implement it as
``row_number`` over (partition, order) and document that an order-free
keep-first is non-deterministic on any parallel engine.

Extension surface (north star): near-duplicate detection for LLM corpus
cleaning — exact (fingerprint groupBy), MinHash+LSH banding, and n-gram
Jaccard verification. All shuffle-aware:

- exact dedup shuffles once on the fingerprint (a uniform md5 → no skew);
- LSH candidate generation explodes each doc into ``bands`` rows and
  shuffles on (band_id, band_hash) — uniform by construction, and the
  self-join per bucket touches only colliding docs, never |D|²;
- Jaccard verification runs only on candidate pairs.

Cache lifecycle: operator-local ``.cache()`` calls (shared subtrees with
two+ consumers inside one returned plan) are deliberately NOT unpersisted
before return — the cache exists precisely so the consumers inside the
returned DataFrame share one evaluation, and that evaluation happens
after the operator returns. Lifetime is therefore registry-session:
entries are evicted LRU under memory pressure (the session factory sizes
the heap to the machine), and long multi-query harnesses bound
accumulation by clearing between queries (tools/check_oracle.py).

Cross-pass reuse of these entries is deliberate: the CacheManager
matches them by plan, so a repeated question in the same session (the
same query over the same path) is served from the cached exploded hash
stream, signatures and candidates. That is the warm path of a
long-lived analyst session. The match compares a scan by its root path,
not its files, so the star-schema reader keeps it honest: every
``load_table`` observes its table in ``pmp_analytics_spark.memo``'s path
registry, which refreshes the entries over a path when its files change
and leaves them alone while they do not. A caller reading an input some
other way, then rewriting it in place, must refresh that path itself.
Derived artifacts that outlive one plan (fits, edge frames, bucket
stores, the decoded image fixture) are not cached here; the memo owns
them and rebuilds them when their inputs change.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pmp_analytics_spark.functions.text import (
    MINHASH_P,
    fingerprint,
    simhash64,
)
from pmp_analytics_spark.operators.partitioning import ensure_parallelism


def _bucket_pairs(keyed: DataFrame, id_col: str, key_cols: list[str]) -> DataFrame:
    """Distinct (id_a, id_b) pairs of ids sharing a bucket key: groupBy the
    key, expand in-bucket pairs with array HOFs (sorted → id_a < id_b).
    One shuffle, never a corpus×corpus self-join (which would evaluate the
    upstream subtree once per join branch). The expressions are SQL text:
    one gateway call each to build.
    """
    buckets = keyed.groupBy(*key_cols).agg(F.expr(f"sort_array(collect_set(`{id_col}`)) AS __ids"))
    buckets = buckets.where("size(__ids) >= 2")
    pairs = (
        "flatten(transform(__ids, (x, i) -> transform(slice(__ids, i + 2, size(__ids)),"
        " y -> struct(x AS id_a, y AS id_b))))"
    )
    return buckets.selectExpr(f"explode({pairs}) AS p").select("p.id_a", "p.id_b").distinct()


def keep_first(df: DataFrame, partition_by: list[str], order_by: list[Column]) -> DataFrame:
    """Deterministic keep-first dedup (reference: mm2.py:37-39).

    ``order_by`` must be a total order within each partition for stable
    results (callers append a unique tiebreaker key).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_by_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-dup (normalization-invariant) dedup: keep the min-id doc
    per token-normalized md5 fingerprint. Shuffles once on the fingerprint."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    signature (num_hashes md5-minima) → split into ``bands`` bands of
    ``num_hashes/bands`` rows → hash each band → explode to (band_id,
    band_key) → groupBy bucket → expand in-bucket pairs. Returns distinct
    (id_a, id_b) pairs with id_a < id_b.

    Cost: ONE pass over the corpus for signatures (a self-join would
    evaluate the MinHash subtree once per join branch), one shuffle on the
    uniform band key, and pair expansion local to each bucket via array
    ops — never a corpus×corpus join. A pathological bucket (b identical
    docs) still expands b²/2 pairs; that is inherent to LSH.
    """
    ex = exploded_shingle_hashes(df, text_col, id_col, shingle_k)
    sig = minhash_signatures(ex, id_col, num_hashes)
    return lsh_candidates_from_sig(sig, id_col, num_hashes, bands)


def exploded_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int = 5
) -> DataFrame:
    """(id, __h) stream — ONE ROW per shingle position, hashed per row —
    the shared base of the near-dup pipeline.

    Hashing AT THE BASE is the pipeline's cost structure: each shingle is
    md5'd exactly once; MinHash components are integer transforms of the
    hash, and the Jaccard verify intersects sets of the same ints —
    integer ops beat 5-char string ops everywhere downstream. (Jaccard
    over hashed shingles equals Jaccard over shingles modulo 60-bit
    collisions — negligible, and the DuckDB oracle hashes identically so
    the check is exact either way.)

    Formulation: explode + per-row hash runs inside whole-stage codegen;
    the array formulation (``transform(char_shingles(...),
    shingle_hash)``) evaluates every lambda element through the
    interpreted expression path — measured 3.4x slower at sf0.1.

    The frame is NARROW (no shuffle): explode preserves the input split,
    so a doc's hashes stay inside one partition. That makes the signature
    aggregation downstream collapse each doc map-side (see
    ``minhash_signatures``) — the full hash stream never crosses the
    network.

    Order matters: repartition the (narrow) input FIRST, then project the
    hashes. ``repartition`` applied on top of the projection would put
    the expensive compute on the shuffle's MAP side — i.e. still on the
    single input split it was meant to escape.
    """
    base = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.lower(F.col(text_col)).alias("__t"))
        .where(F.length("__t") >= shingle_k)
    )
    pos = base.select(
        id_col,
        "__t",
        F.explode(
            F.sequence(F.lit(1), F.length("__t") - (shingle_k - 1))
        ).alias("__i"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.expr(f"substring(__t, __i, {shingle_k})")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % MINHASH_P
    )
    return pos.select(F.col(id_col), h.alias("__h"))


def hashed_shingle_frame(df: DataFrame, text_col: str, id_col: str, shingle_k: int = 5) -> DataFrame:
    """(id, __hs) frame of k-shingle 60-bit integer hash ARRAYS — the
    exploded stream collected back per doc. Kept for callers that need
    whole-doc hash arrays; the near-dup pipeline itself now stays on the
    exploded form (``ngram_jaccard_dedup``) so the corpus-wide shuffle
    carries 16 signature longs per doc, not the full hash list. Every
    consumer (MinHash min, Jaccard set ops) is order-insensitive, so the
    collect_list's nondeterministic order is immaterial.
    """
    return (
        exploded_shingle_hashes(df, text_col, id_col, shingle_k)
        .groupBy(id_col)
        .agg(F.collect_list("__h").alias("__hs"))
    )


def minhash_signatures(
    ex: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, __sig) MinHash signatures from the EXPLODED hash stream: one
    codegen ``min((a_i*h + b_i) % P)`` aggregate per component, all in a
    single groupBy.

    This is the 100 TB shape of MinHash: hash-aggregate partial
    aggregation collapses each doc to one 16-long row ON THE MAP SIDE
    (the exploded frame is narrow, so a doc's shingles sit in one input
    partition) — the shuffle moves ~128 bytes per doc instead of the full
    hash list (~2 KB+ per doc), and nothing here touches the interpreted
    HOF path. ``a*h`` stays under 2^62 (a, h < 2^31), exact int64. The
    signature array is one SQL expression, which the optimizer folds into
    the same aggregate as 16 aliased minima under an ``array`` projection.
    """
    from pmp_analytics_spark.functions.text import minhash_params

    mins = ", ".join(
        f"min(({a} * __h + {b}) % {MINHASH_P})" for a, b in minhash_params(num_hashes)
    )
    return ex.groupBy(id_col).agg(F.expr(f"array({mins}) AS __sig"))


def lsh_candidates_from_sig(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH banding over a precomputed (id, __sig) signature frame: slice
    the signature into ``bands`` equal bands, hash each band to a bucket
    key, expand in-bucket pairs. Band keys are byte-identical to the
    historical formulation (md5 of the '|'-joined component longs), so
    the DuckDB oracles reproduce bucket assignment exactly."""
    banded = band_key_frame(sig, id_col, num_hashes, bands)
    return _bucket_pairs(banded, id_col, ["band_id", "band_key"])


def band_key_frame(
    sig: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band_id, band_key) LSH band-bucket rows from a (id, __sig)
    signature frame — md5 of the '|'-joined component longs per band,
    byte-identical to the SQL-replay oracles' formulation. This frame IS
    the persistable bucket store of an incremental dedup pipeline: at
    100 TB the historical side lives as a table partitioned/bucketed on
    (band_id, band_key) and each ingest batch joins against it."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    return _band_rows(
        sig,
        id_col,
        [
            f"md5(array_join(transform(slice(__sig, {b * rows_per_band + 1}, {rows_per_band}),"
            " x -> CAST(x AS STRING)), '|'))"
            for b in range(bands)
        ],
    )


def _bit_band_rows(
    sigs: DataFrame, id_col: str, hash_col: str, bands: int, bits_per_band: int
) -> DataFrame:
    """(id, band_id, band_key) Hamming-LSH rows: band b of a bit signature
    is its ``bits_per_band`` bits from bit ``b * bits_per_band`` up."""
    mask = (1 << bits_per_band) - 1
    return _band_rows(
        sigs,
        id_col,
        [f"shiftright(`{hash_col}`, {b * bits_per_band}) & {mask}" for b in range(bands)],
    )


def _band_rows(frame: DataFrame, id_col: str, band_keys: list[str]) -> DataFrame:
    """One (id, band_id, band_key) row per band; ``band_keys[b]`` is the
    SQL of band b's key. The whole explode is one SQL expression, so
    building it costs one gateway call, not one per Column node."""
    structs = ", ".join(
        f"struct({b} AS band_id, {key} AS band_key)" for b, key in enumerate(band_keys)
    )
    return frame.selectExpr(f"`{id_col}`", f"explode(array({structs})) AS band").select(
        id_col, "band.band_id", "band.band_key"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 4,
    max_hamming: int = 6,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs: 60-bit md5-family signature →
    Hamming-LSH banding (``bands`` equal bit-slices as bucket keys) →
    exact Hamming verify (``bit_count(xor) <= max_hamming``).

    Candidate recall is < 1 by design: ``max_hamming`` differing bits can
    touch every band (pigeonhole guarantees a clean band only when
    max_hamming < bands) — the standard SimHash-dedup trade; raise
    ``bands`` for stronger recall at more shuffle volume. Signatures are
    computed once, cached, and re-joined for the verify (two hash joins on
    the tiny candidate set, never corpus-wide).
    """
    from pmp_analytics_spark.functions.text import SIMHASH_BITS

    bits_per_band = SIMHASH_BITS // bands
    # Repartition BEFORE the signature projection (see
    # exploded_shingle_hashes).
    sigs = (
        ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), simhash64(text_col, shingle_k).alias("__sim"))
        .cache()
    )
    banded = _bit_band_rows(sigs, id_col, "__sim", bands, bits_per_band)
    cand = _bucket_pairs(banded, id_col, ["band_id", "band_key"])
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("__sim").alias("__sim_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("__sim").alias("__sim_b"))
    return (
        cand.join(a, on="id_a")
        .join(b, on="id_b")
        .withColumn("hamming", F.bit_count(F.col("__sim_a").bitwiseXOR(F.col("__sim_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def jaccard_pairs_from_exploded(
    candidates: DataFrame,
    ex: DataFrame,
    id_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """Jaccard verification fed by the EXPLODED hash stream: broadcast
    semi-join the candidate ids into the stream (narrow — no corpus-wide
    shuffle), then ``collect_set`` builds distinct-hash arrays ONLY for
    docs that appear in some candidate pair. At 100 TB the candidate set
    is orders of magnitude smaller than the corpus, so this is the only
    shuffle of shingle data anywhere in the pipeline — and it is
    candidate-sized, not corpus-sized."""
    cand_ids = _candidate_ids(candidates, id_col)
    # Cached because the pair join consumes it TWICE (a-side and b-side):
    # without the cache each side re-runs the semi-join + collect_set
    # aggregation — measured ~2x the whole verify stage at sf0.1.
    sets = (
        ex.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__sh"))
        .cache()
    )
    return _jaccard_verify(candidates, sets, threshold)


def _candidate_ids(candidates: DataFrame, id_col: str) -> DataFrame:
    return (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )


def _jaccard_verify(
    candidates: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """|∩|/|∪| over (id, __sh) distinct-hash arrays, joined to both sides
    of the candidate pairs; the id column of ``sh`` must be its first.

    The union size is derived as |A| + |B| - |∩| (sizes precomputed once
    per DOC, intersection once per PAIR) rather than ``array_union`` —
    the union would build a second per-pair hash set just to measure it,
    doubling the verify stage's set work for a number already in hand.
    """
    id_col = sh.columns[0]
    sized = sh.select(F.col(id_col), "__sh", F.size("__sh").alias("__n"))
    out = (
        candidates.join(
            sized.withColumnsRenamed({id_col: "id_a", "__sh": "__sh_a", "__n": "__n_a"}), on="id_a"
        )
        .join(
            sized.withColumnsRenamed({id_col: "id_b", "__sh": "__sh_b", "__n": "__n_b"}), on="id_b"
        )
        .withColumn("__inter", F.size(F.array_intersect("__sh_a", "__sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__inter").cast("double")
                / (F.col("__n_a") + F.col("__n_b") - F.col("__inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verify → pairs
    above threshold.

    Data movement at a glance (the 100 TB story): the exploded hash
    stream is NARROW; signatures collapse map-side to 16 longs per doc
    before their one corpus-wide shuffle (``minhash_signatures``); the
    band-bucket shuffle moves (id, 2 keys) per band; and shingle SETS are
    materialized & shuffled only for candidate-involved docs
    (``jaccard_pairs_from_exploded``). Nothing ever shuffles the full
    per-doc hash list.

    Caching strategy: the exploded stream is the expensive compute stage
    (one md5 per shingle) and has two consumers (signatures; verify
    sets), and the candidate set is tiny but also has two consumers (id
    semi-join; pair join) — cache both so each subtree evaluates exactly
    once per run instead of once per consumer.
    """
    ex = exploded_shingle_hashes(df, text_col, id_col, shingle_k).cache()
    sig = minhash_signatures(ex, id_col, num_hashes)
    cand = lsh_candidates_from_sig(sig, id_col, num_hashes, bands).cache()
    return jaccard_pairs_from_exploded(cand, ex, id_col, threshold)


def incremental_neardup(
    history: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup check of an INCOMING batch against an EXISTING corpus —
    the continuous-ingestion shape of a training-data pipeline: before
    new documents enter the corpus, find which ones duplicate something
    already there. Returns (id_a = batch doc, id_b = historical match,
    jaccard ≥ threshold). Batch-INTERNAL duplicates are out of scope
    here (the regular self-dedup handles a batch before/after ingest).

    100 TB shape: the historical side's band-bucket rows
    (``band_key_frame``) are exactly what a persisted bucket-store table
    holds — computed ONCE per corpus doc at its own ingest time, stored
    partitioned on (band_id, band_key), never recomputed per batch (here
    it is derived inline because the declared query owns no state
    between runs). The batch side is bounded by ingestion rate, so its
    band keys are always the BROADCAST build side and the probe into the
    bucket store is a map-side join — no shuffle of the historical
    corpus at all. Verification then touches shingle sets only for
    candidate-involved docs, exactly like the self-join pipeline
    (``jaccard_pairs_from_exploded``).

    Reference parity: the reference dedups only within one extract
    (SURVEY.md §2.8 W2 keep-first); batch-vs-corpus near-dup ingest is
    part of the LLM-pipeline extension surface.
    """
    ex_h = exploded_shingle_hashes(history, text_col, id_col, shingle_k)
    keys_h = band_key_frame(minhash_signatures(ex_h, id_col, num_hashes), id_col, num_hashes, bands)
    ex_b = exploded_shingle_hashes(batch, text_col, id_col, shingle_k)
    return neardup_probe(
        ex_h,
        keys_h,
        ex_b,
        id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
    )


def neardup_probe(
    history_ex: DataFrame,
    history_keys: DataFrame,
    batch_ex: DataFrame,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """One batch's probe into a PRECOMPUTED bucket store, all inputs as
    (id, __h) exploded hash streams / (id, band_id, band_key) rows:
    ``history_ex``/``history_keys`` are per-CORPUS state (at scale,
    persisted tables computed once per doc at its own ingest — and a
    caller probing many batches caches them ONCE instead of re-deriving
    the corpus per micro-batch); ``batch_ex`` is the incoming docs'
    stream. Callers that hold the corpus-wide exploded stream derive
    both sides as filters of ONE frame — a single explode pass, and
    plan-identical to the self-dedup pipeline's cached subtree.

    PRECONDITION: ids are globally unique ACROSS the two frames (the
    standard doc-id contract). An id present in both would merge two
    documents' shingle sets in the verify stage and corrupt every
    jaccard involving it — re-ingesting an id the corpus already holds
    is exact-dedup's job (fingerprint anti-join), not this probe's.
    Identical-id band collisions are excluded structurally below so a
    violation can at least never emit a self-pair."""
    ex_b = batch_ex
    keys_b = band_key_frame(minhash_signatures(ex_b, id_col, num_hashes), id_col, num_hashes, bands)
    cand = (
        F.broadcast(keys_b)
        .select(F.col(id_col).alias("id_a"), "band_id", "band_key")
        .join(
            history_keys.select(F.col(id_col).alias("id_b"), "band_id", "band_key"),
            on=["band_id", "band_key"],
        )
        .where(F.col("id_a") != F.col("id_b"))  # precondition backstop
        .select("id_a", "id_b")
        .distinct()
        # Two consumers downstream (id semi-join + pair join): without
        # the cache each re-derives the batch band keys — and when the
        # batch arrives through a custom source, re-READS the source.
        .cache()
    )
    return jaccard_pairs_from_exploded(cand, ex_b.union(history_ex), id_col, threshold)


_DF_SALT = 16
"""Salt fan-out for the token-df attach join in ``_ranked_tokens``."""


def _ranked_tokens(toks: DataFrame, id_col: str) -> DataFrame:
    """Shared front half of the exact set-similarity joins: the distinct
    (id, __h) stream annotated with the global ascending-df token rank
    ``__rn`` within each doc and the doc's set size ``__n``. Reused by
    the Jaccard and containment prefix joins (their prefix CONDITIONS
    differ; the order must not — the positional filters' losslessness
    argument needs one shared global token order).

    Skew posture: the df counts themselves are safe at any skew
    (partial/map-side combine bounds each reducer at one row per
    distinct token), but ATTACHING df back to the token stream is a join
    keyed on the token — on a natural corpus a stop-word-grade token
    puts its entire postings list on one reducer. The attach is
    therefore SALTED two-phase: count per (token, salt-of-doc-id),
    total per token over the salt partials (tiny — ``_DF_SALT`` rows per
    token), and join the stream on (token, salt) so a hot token's rows
    spread across ``_DF_SALT`` reducers. Same pattern as
    event_value_salted_rollup; AQE's skew-join remains as backstop."""
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    salted = toks.withColumn(
        "__salt", F.pmod(F.hash(F.col(id_col)), F.lit(_DF_SALT))
    )
    part = salted.groupBy("__h", "__salt").agg(F.count(F.lit(1)).alias("__c"))
    tot = part.groupBy("__h").agg(F.sum("__c").alias("__df"))
    df_tok = part.join(tot, on="__h").select("__h", "__salt", "__df")
    w_doc = Window.partitionBy(id_col).orderBy("__df", "__h")
    return (
        salted.join(df_tok, on=["__h", "__salt"])
        .drop("__salt")
        .withColumn("__rn", F.row_number().over(w_doc))
        .join(sizes, on=id_col)  # corpus-sized (one row per doc): plain join
    )


def _candidate_pair_sets(cand: DataFrame, toks: DataFrame, id_col: str) -> DataFrame:
    """Shared verify plumbing: attach each candidate pair's full hash
    sets and sizes — built ONLY for candidate-involved docs (semi-join
    first) — plus the intersection size ``__inter``. Callers apply their
    own score (Jaccard / containment) on top."""
    cand_ids = _candidate_ids(cand, id_col)
    sets = (
        toks.join(F.broadcast(cand_ids), on=id_col, how="left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__sh"))
        .withColumn("__n", F.size("__sh"))
        # cached: TWO consumers (the id_a and id_b join arms) — uncached,
        # each arm re-runs the semi-join + collect_set over the full
        # token stream; measured 2.3x on the declared exact-Jaccard
        # query at sf0.1 (14.5 -> 6.2 s, interleaved warmed A/B)
        .cache()
    )
    return (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("__sh").alias("__sh_a"),
                F.col("__n").alias("__n_a"),
            ),
            on="id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("__sh").alias("__sh_b"),
                F.col("__n").alias("__n_b"),
            ),
            on="id_b",
        )
        .withColumn("__inter", F.size(F.array_intersect("__sh_a", "__sh_b")))
    )


_PREFIX_Q = 8
"""q-extension of the prefix filters: prefixes carry q−1 extra tokens
and a candidate must collide on ≥ q of them (capped per pair at the
minimum required overlap, so tiny sets still use q = 1). q = 8 measured
best on the ADVERSARIAL sf-x10 soak corpus (the round-6 suffix-relabel
variant, PERFORMANCE.md round-6 soak notes — boilerplate-grade shared
shingles across replicas, the worst case for prefix joins): vs q = 4 it
adds ~36% pair-shuffle rows but cuts surviving containment candidates
another 5.4x (1.95M -> 359k), and end-to-end wall improved at every
scale; q = 12 prunes further but its row volume brings GC pressure at
32 local threads. On the final cipher soak corpus (linear truth, no
boilerplate class) the filter costs nothing measurable either way.

Lossless (the multi-prefix generalization of the AllPairs argument —
Xiao et al.'s PPJoin era): list the common tokens of a qualifying pair
in the global ascending-df order as c₁ < … < c_o. For i ≤ q, at least
o − i common tokens follow c_i inside X, so c_i sits at rank
≤ |X| − (o − i) ≤ |X| − ⌈t·|X|⌉ + q — inside the q-extended prefix of
BOTH sides. Hence every true pair collides on at least min(q, o)
extended-prefix tokens, and pairs with fewer collisions are safely
dropped BEFORE the verify ever materializes their sets.

Why it earns its +q−1 rows/doc of join input: boilerplate-grade shared
shingles produce pair collisions quadratic in their posting length, and
the size/positional filters cannot see how FEW tokens such a pair
actually shares. The round-6 sf-x10 scale soak measured the containment
join's candidate set growing ~2× super-linear purely from cross-snapshot
common-shingle pairs sharing 1-3 tokens; the count filter kills exactly
that class. The count runs on the same pair-keyed shuffle the old
``distinct`` already paid (map-side combine either way)."""


def jaccard_prefix_candidates(
    toks: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for the exact Jaccard join, from a
    distinct (id, __h) token stream: ascending-df q-extended prefix
    self-join with the lossless size filter, PPJoin's positional filter,
    and the ≥ q collision-count filter (q = ``_PREFIX_Q``). See
    ``jaccard_prefix_join`` for semantics and citations.
    """
    q = _PREFIX_Q
    q_doc = F.least(F.lit(q), F.ceil(F.lit(threshold) * F.col("__n")))
    pref = (
        _ranked_tokens(toks, id_col)
        .where(
            F.col("__rn")
            <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + q_doc
        )
        .select(F.col(id_col), F.col("__h").alias("__tok"), "__n", "__rn")
        # cached: BOTH sides of the prefix self-join consume this frame;
        # uncached, the df join + rank window recompute per side
        # (measured ~17% on the declared exact-Jaccard query at sf0.1)
        .cache()
    )
    joined = pref.select(
        F.col(id_col).alias("id_a"),
        "__tok",
        F.col("__n").alias("__na"),
        F.col("__rn").alias("__ra"),
    ).join(
        pref.select(
            F.col(id_col).alias("id_b"),
            "__tok",
            F.col("__n").alias("__nb"),
            F.col("__rn").alias("__rb"),
        ),
        on="__tok",
    )
    keep = (
        (F.col("id_a") < F.col("id_b"))
        # lossless size filter: J >= t forces t·|A| <= |B| <= |A|/t
        & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
        & (F.col("__na") >= F.lit(threshold) * F.col("__nb"))
    )
    # PPJoin positional filter: overlap through THIS collision is at
    # most 1 + min(|A|−p_a, |B|−p_b); J ≥ t needs overlap ≥
    # t·(|A|+|B|)/(1+t). Lossless via the first-shared-token
    # argument (see jaccard_prefix_join docstring); the 1e-6 slack
    # keeps float representation error from dropping an
    # exact-boundary integer overlap (a hair loose ≠ lossy). A
    # boundary pair's LATER common tokens may fail this bound, so it
    # is aggregated as any-row-passes below, never conjoined with
    # the count requirement per row.
    ubound = F.lit(1) + F.least(
        F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb")
    )
    alpha = (
        F.lit(threshold / (1.0 + threshold))
        * (F.col("__na") + F.col("__nb"))
        - F.lit(1e-6)
    )
    pos_ok = ubound >= alpha
    # Weakened per-row form (see containment_prefix_join): the i-th
    # common token (i ≤ q) keeps bound ≥ alpha − (q−1), so this
    # row-level prune can run BEFORE the pair-count shuffle without
    # starving the count — only rows no witness set ever needs die.
    keep = keep & (ubound >= alpha - F.lit(q - 1))
    # Pair-level aggregation replaces the old distinct (same pair-keyed
    # shuffle, map-side combined): count extended-prefix collisions and
    # keep pairs with ≥ min(q, required-overlap) of them AND at least
    # one positional pass. q_pair caps at both sides' minimum overlap
    # requirement so the filter never demands more commons than t does.
    q_pair = F.least(
        F.lit(q),
        F.ceil(F.lit(threshold) * F.col("__min_n")),
    )
    return (
        joined.where(keep)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max(pos_ok.cast("int")).alias("__pos"),
            F.min(F.least("__na", "__nb")).alias("__min_n"),
        )
        .where((F.col("__cnt") >= q_pair) & (F.col("__pos") == 1))
        .select("id_a", "id_b")
    )


def jaccard_prefix_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-duplicate pairs — no sketch, no recall
    loss — via prefix filtering (the AllPairs/PPJoin family of set-
    similarity joins: Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW 2007). Complements the probabilistic paths: MinHash+LSH
    (``ngram_jaccard_dedup``) trades recall for candidate volume; this
    operator is lossless and returns EVERY pair with Jaccard ≥ t.

    Why it scales: under any global token order, two sets with
    J(A,B) ≥ t must share their smallest common token within both
    PREFIXES of length |X| − ⌈t·|X|⌉ + 1 (if the intersection avoided
    A's prefix it would have to fit inside A's suffix of size
    ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B|). So the self-join runs on exploded
    PREFIX tokens only — never full sets, never all pairs.

    The global order is ASCENDING DOCUMENT FREQUENCY (ties by token
    value) — the canonical AllPairs order, and on real corpora not an
    optional nicety: prefixes then hold each doc's RAREST shingles, so
    the token self-join meets few docs per key. (A hash-value order
    needs no df pass but was measured to blow the candidate set up by
    orders of magnitude on template-heavy corpora — boilerplate
    shingles land in prefixes and every boilerplate pair collides.)
    The df computation is two narrow shuffles over (id, token) rows.

    A second lossless prune runs at candidate time: J ≥ t implies
    t·|A| ≤ |B| ≤ |A|/t, so size-incompatible collisions are dropped
    before the distinct and before any set is materialized.

    On top of the size filter runs PPJoin's POSITIONAL filter (Xiao et
    al., "Efficient Similarity Joins for Near Duplicate Detection",
    WWW 2008): a colliding prefix token sits at rank p_a of A's ordered
    tokens and p_b of B's, so the overlap can reach at most
    1 + min(|A| − p_a, |B| − p_b) — everything shared beyond this token
    lies in both suffixes. Any truly-similar pair passes the bound at
    its FIRST shared token (all other shared tokens follow it in both
    docs), so keeping pairs where ANY colliding row passes is lossless;
    on template-heavy corpora it prunes collisions the size filter
    can't (equal-sized docs sharing one late boilerplate shingle).

    Movement: distinct (id, token) stream → df counts (token-keyed
    shuffle) → per-doc rank window (id-keyed shuffle, 3-long rows) →
    prefix-token self-join (uniform keys by construction) → verify
    joins sized by the candidate set, with the full hash sets built
    ONLY for candidate-involved docs (semi-join first), exactly like
    the MinHash pipeline's verify. The filter compares the UNROUNDED
    ratio (rounding only for display) so the threshold semantics are
    identical to the SQL replay oracle's.
    """
    ex = exploded_shingle_hashes(df, text_col, id_col, shingle_k)
    toks = ex.distinct().cache()  # (id, __h): prefix source + verify sets
    cand = jaccard_prefix_candidates(toks, id_col, threshold).cache()
    # cached: two consumers (id semi-join + pair join)
    return (
        _candidate_pair_sets(cand, toks, id_col)
        .withColumn(
            "__j",
            F.col("__inter").cast("double")
            / (F.col("__n_a") + F.col("__n_b") - F.col("__inter")),
        )
        .where(F.col("__j") >= threshold)
        .select("id_a", "id_b", F.round("__j", 6).alias("jaccard"))
    )


def containment_prefix_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT asymmetric CONTAINMENT join: directional pairs (id_a, id_b)
    with C(A,B) = |A∩B| / |A| ≥ t — "A's shingles are (mostly) inside
    B". The case symmetric Jaccard structurally misses: a paragraph
    quoted inside a much longer document has high containment but
    Jaccard ≈ |A|/|B| → 0, yet it is exactly what contamination audits
    and quote/inclusion detection need.

    Prefix theory (the ProbeCount/prefix-filter shape of set joins —
    same family as ``jaccard_prefix_join``, Bayardo et al. WWW 2007):
    C ≥ t needs overlap o ≥ ⌈t·|A|⌉; if the intersection avoided A's
    first |A| − ⌈t·|A|⌉ + 1 tokens (ascending-df order), it would fit in
    a suffix of ⌈t·|A|⌉ − 1 < o tokens. So only the CONTAINED side (A)
    prunes to a prefix; the containing side (B) is indexed in full —
    containment puts no upper bound on |B|, so the only size prune is
    the one-sided ``|B| ≥ ⌈t·|A|⌉``. Join keys stay rare because A's
    prefix holds its rarest shingles (the measured df-ascending order
    argument in ``jaccard_prefix_join``). Verify is candidate-sized:
    full hash sets built only for candidate-involved docs (semi-join
    first), intersection compared UNROUNDED against t·|A|.
    """
    ex = exploded_shingle_hashes(df, text_col, id_col, shingle_k)
    toks = ex.distinct().cache()  # (id, __h): prefix source + verify sets
    # one ranked frame feeds BOTH sides (A's prefix filter, B's full
    # index with positions) — cached so the df join and per-doc rank
    # window run once, not per side (measured ~10% on the declared
    # query; the Jaccard path applies the same cache to its prefix
    # frame inside jaccard_prefix_candidates)
    ranked = _ranked_tokens(toks, id_col).cache()
    q_doc = F.least(F.lit(_PREFIX_Q), F.ceil(F.lit(threshold) * F.col("__n")))
    pref_a = ranked.where(
        F.col("__rn")
        <= F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")) + q_doc
    ).select(
        F.col(id_col).alias("id_a"),
        F.col("__h").alias("__tok"),
        F.col("__n").alias("__na"),
        F.col("__rn").alias("__ra"),
    )
    index_b = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__h").alias("__tok"),
        F.col("__n").alias("__nb"),
        F.col("__rn").alias("__rb"),
    )
    # positional bound (PPJoin adapted to containment): through a
    # collision at ranks (ra, rb), overlap <= 1 + min(|A|-ra, |B|-rb);
    # both sides share ONE global token order, so every other shared
    # token follows the first shared token in both docs — keeping pairs
    # where ANY collision meets ceil(t·|A|) is lossless, and the bound
    # is pure integer math (no float slack needed). Aggregated as
    # any-row-passes (a boundary pair's later common tokens may fail).
    need = F.ceil(F.lit(threshold) * F.col("__na"))
    pos_ok = (
        F.lit(1)
        + F.least(F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb"))
        >= need
    )
    # q-extended prefix + collision-count filter (see _PREFIX_Q): the
    # first min(q, ⌈t·|A|⌉) common tokens provably land in A's extended
    # prefix, and B indexes everything — so a true pair collides ≥ that
    # many times, and the common-boilerplate pairs sharing 1-3 shingles
    # (the sf-x10 soak's quadratic class) die without a verify.
    # Weakened per-row positional prune: for a true pair the i-th common
    # token (i ≤ q) still has ≥ need − i + 1 commons after it, so ALL q
    # witness rows satisfy bound ≥ need − (q−1) — rows failing even that
    # can be dropped BEFORE the pair-count shuffle without ever starving
    # the count. (The full-strength bound stays as the any-row flag.)
    weak_pos = (
        F.lit(1)
        + F.least(F.col("__na") - F.col("__ra"), F.col("__nb") - F.col("__rb"))
        >= need - F.lit(_PREFIX_Q - 1)
    )
    cand = (
        pref_a.join(index_b, on="__tok")
        .where(
            (F.col("id_a") != F.col("id_b"))
            # one-sided lossless size prune: |B| >= ceil(t·|A|)
            & (F.col("__nb") >= need)
            & weak_pos
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.max(pos_ok.cast("int")).alias("__pos"),
            F.min("__na").alias("__na"),
        )
        .where(
            (
                F.col("__cnt")
                >= F.least(
                    F.lit(_PREFIX_Q),
                    F.ceil(F.lit(threshold) * F.col("__na")),
                )
            )
            & (F.col("__pos") == 1)
        )
        .select("id_a", "id_b")
        .cache()  # two consumers: id semi-join + pair join
    )
    return (
        _candidate_pair_sets(cand, toks, id_col)
        .withColumn(
            "__c", F.col("__inter").cast("double") / F.col("__n_a")
        )
        .where(F.col("__c") >= threshold)
        .select("id_a", "id_b", F.round("__c", 6).alias("containment"))
    )


_MAX_STAR_ROUNDS = 20  # star rounds before _alternating_star_components raises


def canonical_edges(df: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """The undirected edge set of ``df``'s (id_a, id_b) pairs as distinct
    ``(u, v)`` rows with ``u < v``: each pair once whichever way round it
    came, self-loops dropped."""
    a, b = F.col(id_a), F.col(id_b)
    return (
        df.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Connected components over near-dup pairs → (id, component) where
    component = min id reachable. Near-dup PAIRS are not dedup GROUPS:
    A~B and B~C must collapse {A,B,C} to one canonical doc even when A~C
    was never emitted — that closure is exactly connected components.
    Self-loop pairs are dropped on every path (``canonical_edges``), so a
    node that only loops to itself gets no label on either.

    Two physical strategies, chosen by EDGE COUNT (the broadcast-join
    pattern applied to graph closure):

    - **Driver union-find fast path** (edges ≤ ``driver_edge_limit``):
      verified near-dup edges are orders of magnitude fewer than corpus
      rows even at 100 TB (they are the *output* of the dedup funnel), so
      the usual case fits the driver easily; union-find with the smaller
      root as parent runs in O(E·α) and yields min-id components exactly.
      This replaces ~6 fixed-overhead Spark jobs PER ITERATION with one
      collect.
    - **Alternating large-star/small-star rounds** (bigger edge sets):
      the public MapReduce-CC method (Kiveris et al., SoCC 2014) —
      O(log n) rounds on ANY topology, including the adversarial long
      chain where plain min-label propagation needs O(diameter) rounds
      and a truncating iteration bound would silently leave
      non-canonical labels. Two node-keyed shuffles per round, lineage
      cut per round, fixpoint detected by an edge-set signature, and a
      RAISE (not a warning) if ``_MAX_STAR_ROUNDS`` is ever hit. See
      ``_alternating_star_components``.
    """
    return _components(canonical_edges(pairs, id_a, id_b), driver_edge_limit)


def _components(edges: DataFrame, driver_edge_limit: int) -> DataFrame:
    """``connected_components`` of ``canonical_edges`` output."""
    # ONE-action dispatch: collect at most limit+1 edges. In the common
    # small case that single collect IS the driver path's input (the old
    # count-then-collect pair cost two jobs over the same plan — per-call
    # fixed overhead the CDC maintenance loop pays every micro-batch); in
    # the rare giant case the discarded partial collect is bounded by
    # limit+1 rows, noise next to the star rounds that follow.
    head = edges.limit(driver_edge_limit + 1).collect()
    if len(head) <= driver_edge_limit:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in head:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # smaller root becomes parent → the final root of every
                # tree is the MIN member of its component
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(x, find(x)) for x in parent]
        id_type = dict(edges.dtypes)["u"]
        from pmp_analytics_spark.sources.local import local_df

        return local_df(edges.sparkSession, out, f"id {id_type}, component {id_type}")
    return _alternating_star_components(edges)


def _alternating_star_components(edges: DataFrame) -> DataFrame:
    """Distributed connected components of ``canonical_edges`` output by
    alternating large-star / small-star rounds (the public MapReduce-CC
    method: Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014).

    Each round:

    - **large-star**: per node ``u`` over its FULL neighborhood, every
      strictly-larger neighbor ``v`` re-attaches to
      ``m = min(neighborhood ∪ {u})``;
    - **small-star**: per node ``l`` over its SMALLER neighbors ``N``,
      every member of ``N ∪ {l}`` except the minimum re-attaches to
      ``min(N)``.

    Both operations preserve connectivity and never create cross-
    component edges; the fixpoint is a star forest whose centers are
    the component minima, reached in O(log n) rounds on ANY topology —
    including the adversarial long chain that makes plain min-label
    propagation (O(diameter) rounds) silently non-canonical when an
    iteration bound truncates it. Each round is two node-keyed
    shuffles; lineage is cut per round with an eager localCheckpoint
    (the iteration-invariant-frame rule).

    Convergence is detected by an order-insensitive edge-set signature
    (count + sum of xxhash64(u, v) over the distinct canonical edge
    set): one bounded 1-row aggregate per round instead of a set
    subtract. Hitting ``_MAX_STAR_ROUNDS`` without the fixpoint RAISES
    — with O(log n) convergence that means a pathological input, and a
    loud failure beats silently non-canonical dedup groups downstream.
    """
    e = edges.localCheckpoint(eager=True)

    def sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            # decimal(38,0) sum: a long sum of 64-bit hashes overflows
            # under ANSI mode after a handful of edges
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    prev = sig(e)
    w_u = Window.partitionBy("u")
    w_v = Window.partitionBy("v")
    for _ in range(_MAX_STAR_ROUNDS):
        # large-star: full neighborhoods, larger neighbors re-attach to
        # the neighborhood minimum (m <= u < v, so (m, v) is canonical).
        # Window-min over the partition key instead of groupBy+join: one
        # exchange per star phase, not two.
        nbrs = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        ls = (
            nbrs.withColumn("mn", F.min("v").over(w_u))
            .where(F.col("v") > F.col("u"))
            .select(
                F.least("mn", F.col("u")).alias("u"), F.col("v").alias("v")
            )
        )
        # small-star: group by the LARGER endpoint v, everyone but the
        # minimum smaller-neighbor re-attaches to it; the (mn, v) center
        # edge is emitted per row and collapsed by the round's single
        # deduplicating shuffle below.
        sm = ls.withColumn("mn", F.min("u").over(w_v))
        e_next = (
            sm.select(F.col("mn").alias("u"), F.col("v").alias("v"))
            .unionAll(
                sm.where(F.col("u") != F.col("mn")).select(
                    F.col("mn").alias("u"), F.col("u").alias("v")
                )
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            # lazy: the sig() aggregate right below materializes the
            # checkpoint — eager would submit a second, redundant job
            # per round just to compute the same frame
            .localCheckpoint(eager=False)
        )
        cur = sig(e_next)
        e = e_next
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"alternating star connected-components did not reach its "
            f"fixpoint within {_MAX_STAR_ROUNDS} rounds — O(log n) "
            "convergence makes this a pathological input"
        )
    # Fixpoint = star forest rooted at component minima: leaves map to
    # their center, centers map to themselves.
    return (
        e.select(F.col("v").alias("id"), F.col("u").alias("component"))
        .unionAll(
            e.select(F.col("u").alias("id"), F.col("u").alias("component"))
        )
        .distinct()
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus-clean step: given near-dup pairs, drop every doc that is in
    a component but is not its canonical (min-id) member. Docs in no pair
    survive untouched — only pair members join the component table
    (broadcast; the component table is candidate-sized, not corpus-sized).
    """
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.where(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    return df.join(F.broadcast(losers), on=id_col, how="left_anti")


def lsh_index_refresh(
    index: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
) -> DataFrame:
    """Incrementally maintain the persistable LSH band-bucket store
    (``band_key_frame``'s (id, band_id, band_key) table) from a
    ``snapshot_delta`` of the corpus — the index-maintenance half of
    production near-dup at 100 TB: when documents are deleted or
    edited, their stale band rows must LEAVE the index or every future
    ingest batch probes ghosts; re-shingling the whole corpus to get
    there is the thing this avoids.

    Movement: removed/changed ids evict their band rows via one
    anti-join against the index (the touched-id set is delta-bounded,
    so it is the broadcast build side and the index is never shuffled);
    added/changed docs re-shingle/sign/band ONLY their own new text.
    The refreshed index is bit-identical to a fresh rebuild on the new
    corpus (the declared query's oracle) because signatures are pure
    per-document functions — no cross-document state to repair. The
    evict/recompute skeleton is ``diff.cdc_index_refresh`` (shared with
    the IVF-cell and PQ-code refreshes).
    """
    from pmp_analytics_spark.operators.diff import cdc_index_refresh

    def band(fresh: DataFrame) -> DataFrame:
        ex = exploded_shingle_hashes(fresh, text_col, id_col, shingle_k)
        sig = minhash_signatures(ex, id_col, num_hashes)
        return band_key_frame(sig, id_col, num_hashes, bands)

    return cdc_index_refresh(index, delta, id_col, text_col, band)


def dedup_pair_eval(
    truth: DataFrame,
    methods: dict[str, DataFrame],
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Dedup-quality harness — the pair-set counterpart of
    ``similarity_search.index_eval``: grade each method's candidate /
    verified PAIR SET against the exact ground truth with
    (method, n_pairs, n_true, precision, recall, f1). Exact integer
    counts + two int/int divisions, so the whole evaluation replays in
    SQL; the truth side is broadcast (pair sets are output-sized, not
    corpus-sized), the truth total arrives via the 1-row-agg crossJoin.
    A method whose pair set is EMPTY produces no row (identically on
    both engines) rather than a fabricated zero."""
    t = F.broadcast(
        truth.select(F.col(id_a), F.col(id_b), F.lit(1).alias("__rel"))
    )
    cand = None
    for name, df in methods.items():
        part = df.select(
            F.lit(name).alias("method"), F.col(id_a), F.col(id_b)
        )
        cand = part if cand is None else cand.unionByName(part)
    hits = cand.join(t, [id_a, id_b], "left").select(
        "method", F.coalesce(F.col("__rel"), F.lit(0)).alias("rel")
    )
    n_truth_row = truth.agg(F.count(F.lit(1)).alias("__n_truth"))
    hits = hits.crossJoin(F.broadcast(n_truth_row))
    p = F.col("n_true") / F.col("n_pairs")
    r = F.col("n_true") / F.col("__n_truth")
    agg = (
        hits.groupBy("method", "__n_truth")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("rel").alias("n_true"),
        )
    )
    return agg.select(
        "method",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_true").cast("long").alias("n_true"),
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.when(F.col("n_true") == 0, F.lit(0.0))
        .otherwise(F.round(2 * p * r / (p + r), 6))
        .alias("f1"),
    )


def connected_components_refresh(
    old_edges: DataFrame,
    labels: DataFrame,
    added: DataFrame,
    deleted: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """CDC maintenance of connected-component labels in
    O(delta + affected components) — the index-maintenance discipline
    (LSH bands / IVF cells / PQ codes / BM25 postings / substring
    grams) applied to dedup GROUP LABELS, so a streaming near-dup
    ingest never re-closes the whole pair graph when edges arrive or
    retract.

    Inputs: the OLD canonical edge set (the stored index), its ``labels``
    ((id, component) — a prior ``connected_components`` output), and the
    delta as ``added``/``deleted`` edge frames. Semantics are pinned to
    the FULL REBUILD: the result equals
    ``connected_components((old ∪ added) − deleted)`` row-for-row —
    merges (an added bridge), splits (a deleted cut edge), brand-new
    nodes, and nodes isolated by deletion (they leave the labeling, as
    a rebuild drops non-endpoints) all fall out of one rule:

    - affected components = labels of any delta edge endpoint
      (delta-bounded: ≤ 2|delta| components — broadcast);
    - re-close ONLY the subgraph of surviving old edges inside affected
      components plus the added edges — through the same two-strategy
      dispatch as ``connected_components`` (driver union-find when the
      affected subgraph is small, O(log n) star rounds beyond
      ``driver_edge_limit``);
    - every untouched component's labels pass through verbatim.

    An edge is "inside an affected component" iff its id_a's label is
    affected — both endpoints of an old edge share one component, so
    one side decides. Deleting an edge never present and adding an
    edge already present are harmless (set semantics throughout).
    """
    old = canonical_edges(old_edges, id_a, id_b)
    add = canonical_edges(added, id_a, id_b)
    dele = canonical_edges(deleted, id_a, id_b)
    delta_nodes = (
        add.select(F.col("u").alias("id"))
        .unionAll(add.select(F.col("v").alias("id")))
        .unionAll(dele.select(F.col("u").alias("id")))
        .unionAll(dele.select(F.col("v").alias("id")))
        .distinct()
    )
    affected = (
        labels.join(F.broadcast(delta_nodes), "id")
        .select("component")
        .distinct()
    )
    keep = old.join(dele, ["u", "v"], "left_anti")
    lbl_a = labels.select(
        F.col("id").alias("u"), F.col("component").alias("__c")
    )
    sub_old = (
        keep.join(lbl_a, "u")
        .join(
            F.broadcast(affected.withColumnRenamed("component", "__c")),
            "__c",
        )
        .select("u", "v")
    )
    sub = sub_old.unionAll(add.join(dele, ["u", "v"], "left_anti")).distinct()
    relabeled = _components(sub, driver_edge_limit)
    untouched = labels.join(
        F.broadcast(affected), "component", "left_anti"
    ).select("id", "component")
    return untouched.unionByName(relabeled)
