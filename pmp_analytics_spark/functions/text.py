"""Text-analysis expression library (LLM-data-pipeline extension surface).

Beyond reference parity (SURVEY.md §7.1): tokenization, character shingles,
md5-based MinHash primitives, language-ID heuristics, quality scoring, and
document fingerprinting — all built from JVM-side higher-order functions so
they run inside whole-stage codegen with zero Python in the hot path, and all
expressible in ANSI SQL for DuckDB oracle validation.

Design note for 100 TB: every function here is a narrow per-row expression
(no shuffle, no driver state). MinHash seeds are compile-time constants
folded into the plan; md5 is used as the hash family because it is
deterministic and identical across engines (same value in Spark, DuckDB,
and any verifier) — at cluster scale you'd swap in xxhash64 for speed, which
is also built-in (``F.xxhash64``) but engine-specific.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"[^a-z0-9]+"

# Tiny embedded stopword lists for the language-ID heuristic. Deliberately
# small: this is an n-gram/stopword heuristic, not a model.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "une", "du"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"],
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(c: Column | str) -> Column:
    """Lowercased word tokens (whitespace+punct split), empties removed."""
    arr = F.split(F.lower(_col(c)), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda x: x != "")


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c))


def _let(bound: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``bound`` ONCE and feed
    the bound value to ``body``.

    Implemented as ``transform(array(bound), v -> body(v))[1]`` — lambda
    variables are evaluated values, so ``body`` referencing ``v`` n times
    costs one evaluation of ``bound``, not n. Embedding an expression
    directly in a per-element lambda re-evaluates it per element (e.g.
    lower(text) inside a shingle lambda turns shingling O(n²)).
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


BPE_SPLIT_RE = r"'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"


def bpe_tokens(c: Column | str) -> Column:
    """GPT-2-style pre-tokenization (the BPE-ish regex): contraction
    suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    whitespace runs — the standard first pass of byte-pair tokenizers.
    Whitespace-only tokens are dropped from counts (they carry no BPE
    merges); leading spaces are kept on word tokens, as BPE does."""
    arr = F.regexp_extract_all(F.lower(_col(c)), F.lit(BPE_SPLIT_RE), 0)
    return F.filter(arr, lambda t: ~t.rlike(r"^\s+$"))


def bpe_token_count(c: Column | str) -> Column:
    return F.size(bpe_tokens(c))


def char_shingles(c: Column | str, k: int = 5) -> Column:
    """All k-character shingles of the lowercased text as an array.
    Built with sequence+transform (JVM-side); empty array for short docs.
    The lowercased text is let-bound so it is computed once per row, not
    once per shingle."""

    def build(t: Column) -> Column:
        n = F.length(t) - (k - 1)
        return F.when(
            n >= 1,
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(t, i, k)),
        ).otherwise(F.array().cast("array<string>"))

    return _let(F.lower(_col(c)), build)


# Universal-hash MinHash parameters. P is the Mersenne prime 2^31-1; the
# (a, b) pairs are fixed literals generated once from a seeded PRNG and
# baked into BOTH the Spark plan and the DuckDB oracle SQL, so signatures
# stay engine-independent.
MINHASH_P = 2147483647


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(1234567)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def shingle_hash(s: Column) -> Column:
    """Engine-independent 60-bit integer hash of one shingle: first 15 hex
    chars of md5, parsed base-16, reduced mod P. DuckDB computes the
    identical value via ``CAST('0x' || SUBSTRING(MD5(s),1,15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long") % MINHASH_P


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """Array of MinHash components.

    One md5 per SHINGLE (let-bound hash array), then ``num_hashes`` affine
    transforms ``(a_i·x + b_i) mod P`` over the integer array — the
    classic universal-hash MinHash. The earlier formulation hashed
    md5(seed||shingle) per (seed, shingle): 16× the md5 work plus a
    string concat/alloc per pair; integer min beats string min on top.
    ``a·x`` stays under 2^62 (a, x < 2^31), so the arithmetic is exact
    int64 on both engines.
    """
    return _let(F.transform(shingles, shingle_hash), lambda hs: minhash_signature_from_hashes(hs, num_hashes))


def minhash_signature_from_hashes(hs: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from a PRECOMPUTED ``shingle_hash`` int array —
    the zero-rehash path for pipelines that materialize the hashed
    shingle frame once and feed both LSH banding and Jaccard verify from
    it (operators/dedup.py::hashed_shingle_frame)."""
    params = minhash_params(num_hashes)
    return F.array(
        *[
            F.array_min(F.transform(hs, lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_P))
            for a, b in params
        ]
    )


SIMHASH_BITS = 60


def shingle_hash60(s: Column) -> Column:
    """Engine-independent 60-bit integer hash (first 15 md5 hex chars,
    base-16) — the unreduced form of ``shingle_hash``. DuckDB:
    ``CAST('0x' || SUBSTRING(MD5(s),1,15) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def simhash64(c: str, k: int = 4) -> Column:
    """60-bit SimHash over k-shingles of column ``c`` with md5-derived
    integer hashes and bit-voting. (Name kept for API stability; the
    signature occupies the low 60 bits of a long.)

    The hash family is the engine-independent ``shingle_hash60`` so the
    whole signature — and therefore the banded near-dup pipeline built on
    it — is reproducible in ANSI SQL for the DuckDB oracle. (xxhash64
    would be ~2× faster per shingle at cluster scale but is
    Spark-specific; the md5 path is what keeps docs_simhash_pairs
    oracle-checked rather than rows-only.)

    Single-pass vote: aggregate over the hash array with a 60-wide
    accumulator (votes[b] += bit b of each hash), then fold the majority
    bits into one long. An earlier formulation did one filter-and-count
    pass per bit — ~7× slower from the per-bit array allocations. The
    lowercased text and the hash array are let-bound (the ``_let``
    idiom) so each is computed once, not once per consumer. The whole
    signature is one SQL expression: the same plan as ``char_shingles``
    + ``shingle_hash60`` + a Column-DSL vote, for one gateway call
    instead of one per Column node.
    """
    top = SIMHASH_BITS - 1
    shingles = (
        f"element_at(transform(array(lower(`{c}`)), t -> CASE WHEN length(t) - {k - 1} >= 1"
        f" THEN transform(sequence(1, length(t) - {k - 1}), i -> substring(t, i, {k}))"
        " ELSE CAST(array() AS ARRAY<STRING>) END), 1)"
    )
    hashes = f"transform({shingles}, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT))"
    votes = (
        f"aggregate(hs, array_repeat(CAST(0 AS BIGINT), {SIMHASH_BITS}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {top}), (a, b) -> a + (shiftright(h, b) & 1)))"
    )
    vote = (
        f"aggregate(zip_with({votes}, sequence(0, {top}), (v, b) -> CASE WHEN v * 2 > size(hs)"
        " THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END),"
        " CAST(0 AS BIGINT), (acc, x) -> acc | x)"
    )
    return F.expr(f"element_at(transform(array({hashes}), hs -> {vote}), 1)")


def stopword_hits(c: Column | str, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(c), lambda t: F.array_contains(sw, t)))


def langid_guess(c: Column | str) -> Column:
    """Heuristic language ID: the language whose stopword list hits most
    tokens; 'und' when nothing hits. Pure when-cascade over per-language
    hit counts (greatest-of with deterministic tie-break by language
    order en < es < fr < de via strictly-greater comparisons)."""
    hits = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang in STOPWORDS:  # first language attaining the max wins
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    t = _col(c)
    total = F.length(t)
    punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    n = token_count(c)
    return F.when(n > 0, stopword_hits(c, lang).cast("double") / n).otherwise(F.lit(0.0))


def mean_token_len(c: Column | str) -> Column:
    tk = tokens(c)
    total = F.aggregate(tk, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    return F.when(F.size(tk) > 0, total.cast("double") / F.size(tk)).otherwise(F.lit(0.0))


def quality_score(c: Column | str) -> Column:
    """Composite document-quality heuristic in [0,1]: rewards moderate
    length, low punctuation density, and presence of stopwords — the
    standard cheap pre-filter shape for LLM corpus cleaning."""
    length_component = F.least(F.length(_col(c)).cast("double") / 500.0, F.lit(1.0))
    punct_component = 1.0 - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    sw_component = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    return F.round((length_component + punct_component + sw_component) / 3.0, 6)


def winnow_fingerprints(c: Column | str, k: int = 5, window: int = 4) -> Column:
    """Winnowing document fingerprints (the MOSS rolling-hash scheme):
    hash every k-gram, slide a ``window`` over the hash sequence, keep
    each window's minimum, dedupe. Guarantees any shared substring of
    length >= k + window - 1 contributes a shared fingerprint — the
    local-sampling property plain min-hash lacks.

    All JVM HOFs (md5 as the engine-independent hash family; the hash
    array is let-bound so it is computed once, not once per window).
    """

    def build(hashes: Column) -> Column:
        n_windows = F.size(hashes) - (window - 1)
        return F.when(
            n_windows >= 1,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n_windows),
                        lambda i: F.array_min(F.slice(hashes, i, window)),
                    )
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(F.transform(char_shingles(c, k), lambda s: F.md5(s)), build)


def ordinal_expr(n: Column) -> Column:
    """'1st'/'2nd'/'3rd'/'Nth' label — replaces the reference's one scalar
    Python UDF (mu_extras.py:140 ``map_elements(num_and_dt.ordinal)``) with
    a pure CASE expression (whole-stage codegen, no Python)."""
    s = n.cast("string")
    return (
        F.when((n % 100).isin(11, 12, 13), F.concat(s, F.lit("th")))
        .when(n % 10 == 1, F.concat(s, F.lit("st")))
        .when(n % 10 == 2, F.concat(s, F.lit("nd")))
        .when(n % 10 == 3, F.concat(s, F.lit("rd")))
        .otherwise(F.concat(s, F.lit("th")))
    )


def fingerprint(c: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the token-normalized
    text (casefolded, punctuation collapsed). Two documents differing only
    in whitespace/punct/case share a fingerprint — the exact-dedup key."""
    return F.md5(F.array_join(tokens(c), " "))


def word_ngrams(toks: Column, n: int) -> Column:
    """All word n-grams of a token array, space-joined — the unit of
    Gopher-style repetition signals and n-gram contamination checks.
    sequence+transform+slice is pure JVM map-side fan-out (no shuffle,
    no Python); empty array when the doc has fewer than n tokens."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
