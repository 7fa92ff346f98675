"""Scale soak: measure how the heavy dedup/ANN/DSIR queries scale.

The 100 TB posture of the heavy family (docs_neardup_pairs,
docs_jaccard_exact_pairs, docs_containment_pairs, docs_incremental_neardup,
docs_dsir_sample, embedding_pq_topk) has so far rested on plan shape at
sf0.1. This tool converts those design claims into measured scaling slopes:

    python tools/scale_soak.py gen 3           # build /tmp/.../sfx3
    python tools/scale_soak.py gen 10          # build /tmp/.../sfx10
    python tools/scale_soak.py run 1 3 10      # measure; writes SOAK.json

For each scale it records, per query: wall seconds, shuffle write/read
bytes, input bytes, and output rows — the shuffle volume is the number
that matters at cluster scale (PERFORMANCE.md note 12): wall-clock on one
32-thread host hides the network cost that dominates at 1000 executors,
but shuffle bytes scale the same way there.

## How the scaled corpora are built (gen)

Replication with a per-replica transformation, derived only from sf0.1
inputs (deterministic — no RNG):

- documents: replica ``r`` applies a character-substitution CIPHER (a
  deterministic permutation of [a-z0-9], applied with ``translate``).
  A cipher is bijective and length-preserving, so every within-replica
  relation — word sets, n-grams, character shingles, lengths — is
  preserved EXACTLY: each replica's ground truth is replica 0's, true
  pair count is exactly linear in k (the output_rows column witnesses
  it), and cross-replica similarity collapses to ~0 at both the word
  and the char-shingle level, far under every declared threshold
  (PPJoin 0.5, MinHash 0.6, containment 0.9). No quadratic
  cross-replica pair inflation: the scaled problem is honestly linear,
  like ingesting k crawl snapshots in k different languages.
- embeddings: replica vectors get deterministic per-(vec_id, rep, dim)
  noise at 3x the vector's own scale — cosine to the source vector
  ~0.3, below the semantic threshold (0.4), so replicas are new points,
  not echoes. vec_ids offset by rep * (max_id + 1); replica 0 verbatim,
  keeping the PQ/IVF query vectors identical across scales.
- orders / customer: k replicas with the key offset by a multiple of
  _KEYMOD — the MV/CDC/SCD2/join-MV queries derive snapshots and
  mutations from the key modulo constants _KEYMOD covers, so every
  replica's delta is exactly replica 0's (linear delta, linear
  dimension). lineitem chains orders' exact offset for l_orderkey, so
  each replica's lines join its own orders and the nation-trade graph's
  PageRank vector is identical at every scale.
- events: replicas add DISJOINT users (user_id/event_id offset), so
  per-user state runs replicate exactly — the SCD2 compression's
  interval count is exactly linear.
- every other table is symlinked from sf0.1 (the soak queries never
  read them; the symlink keeps load_table working).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/sparkgraft_scale"
HEAVY = [
    "docs_neardup_pairs",
    "docs_jaccard_exact_pairs",
    "docs_containment_pairs",
    "docs_incremental_neardup",
    "docs_dsir_sample",
    "embedding_pq_topk",
]


def _get_spark():
    from pmp_analytics_spark.session import get_spark

    # The status REST API is the shuffle-metrics source; the engine
    # default disables the UI, so re-enable it for the soak process only.
    return get_spark(
        "scale-soak",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )


# Key-offset modulus for the orders/customer replicas: the MV / CDC /
# SCD2 / join-MV queries derive their snapshots and mutations from the
# key modulo {13, 17, 9, 23, 21, 11, 19, 29}; an offset ≡ 0 mod lcm of
# all of them (21 = 3·7 and 9 = 3² fold into 9·7) keeps every replica's
# delta EXACTLY replica 0's at every one of those moduli.
_KEYMOD = 9 * 7 * 11 * 13 * 17 * 19 * 23 * 29


def _replicate_keyed(
    spark,
    out: str,
    table: str,
    key_cols: list[str],
    k: int,
    offset_multiple_of: int = 1,
    explicit_offsets: dict[str, int] | None = None,
    nparts: int = 4,
) -> dict[str, int]:
    """k replicas of BASE/``table``, each key column offset per replica
    by (max_key+1) rounded up to ``offset_multiple_of`` (the
    modulo-preserving scheme; 1 = plain disjoint offset), or by
    ``explicit_offsets`` when a foreign key must track ANOTHER table's
    offset (lineitem.l_orderkey must move exactly as orders.o_orderkey
    did, or replica r's lines would join replica 0's orders). Non-key
    columns are carried verbatim in their original positions.
    Incremental: a pre-existing symlink is replaced; an existing
    materialization is kept ONLY if its sidecar ``<table>.offsets.json``
    records the offsets being requested now — a corpus built by an
    earlier round under a different modulus would otherwise be silently
    reused while dependent tables (lineitem chains orders' offset) get
    the NEW offsets, producing replicas whose joins are empty and soak
    verdicts that are quietly wrong. Returns the per-column offsets."""
    import shutil

    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{BASE}/{table}.parquet")
    if explicit_offsets is None:
        maxes = df.agg(*[F.max(c) for c in key_cols]).first()  # ONE scan
        offs = {
            c: -(-(m + 1) // offset_multiple_of) * offset_multiple_of
            for c, m in zip(key_cols, maxes)
        }
    else:
        offs = dict(explicit_offsets)
    path = f"{out}/{table}.parquet"
    sidecar = f"{out}/{table}.offsets.json"
    if os.path.islink(path):
        os.unlink(path)  # earlier-round corpora symlinked this table
    if os.path.exists(path):
        recorded = None
        if os.path.exists(sidecar):
            with open(sidecar) as f:
                recorded = json.load(f)
        if recorded == {c: int(v) for c, v in offs.items()}:
            return offs
        print(f"stale offsets for {path} (recorded {recorded}); rebuilding")
        shutil.rmtree(path)
    parts = [
        df.select(
            *[
                (F.col(c) + F.lit(r * offs[c]).cast("bigint")).alias(c)
                if c in offs
                else F.col(c)
                for c in df.columns
            ]
        )
        for r in range(k)
    ]
    scaled = parts[0]
    for p in parts[1:]:
        scaled = scaled.unionByName(p)
    scaled.repartition(max(4, nparts)).write.mode("overwrite").parquet(path)
    with open(sidecar, "w") as f:
        json.dump({c: int(v) for c, v in offs.items()}, f)
    return offs


def gen(k: int) -> str:
    """Materialize the x``k`` corpus under OUT_ROOT/sfx{k}."""
    from pyspark.sql import functions as F

    spark = _get_spark()
    out = f"{OUT_ROOT}/sfx{k}"
    os.makedirs(out, exist_ok=True)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    # Replica r applies a CHARACTER-SUBSTITUTION CIPHER: a deterministic
    # per-replica permutation of [a-z0-9] via F.translate. A cipher is
    # bijective on strings and length-preserving, so EVERY within-replica
    # relation — word sets, word n-grams, character shingles, doc lengths
    # — is preserved exactly: replica r's ground truth IS replica 0's,
    # and the scaled corpus's true pair count is exactly linear (the
    # output_rows column witnesses it). Cross-replica similarity
    # collapses to ~0: two permutations agree on a 5-gram only with
    # probability ~36^-|distinct chars|. Two earlier schemes failed in
    # instructive ways the row counts exposed: token-suffix relabeling
    # (tok -> tok·r) left char-5-gram Jaccard ~0.65 across replicas
    # (quadratic replica-clique pairs: 7731 at x10 vs 2560 linear), and
    # hash-token replacement changed WITHIN-replica char-gram similarity
    # (substitution is not gram-invariant when token lengths change),
    # inflating some replicas' truth 300x. The cipher has neither
    # failure mode by construction.
    import hashlib

    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

    def _cipher(r: int) -> str:
        if r == 0:
            return alphabet
        chars = list(alphabet)
        # deterministic Fisher-Yates keyed on md5(rep, position)
        for i in range(len(chars) - 1, 0, -1):
            h = hashlib.md5(f"{r}|{i}".encode()).hexdigest()
            j = int(h[:8], 16) % (i + 1)
            chars[i], chars[j] = chars[j], chars[i]
        return "".join(chars)

    parts = []
    for r in range(k):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r).cast("bigint") * n).alias("doc_id"),
                F.translate(F.col("text"), alphabet, _cipher(r)).alias("text"),
                "lang",
                "source",
                "n_chars",  # cipher is 1:1 per char: length unchanged
            )
        )
    scaled = parts[0]
    for p in parts[1:]:
        scaled = scaled.unionByName(p)
    if not os.path.exists(f"{out}/documents.parquet"):
        (
            scaled.repartition(max(4, 4 * k))
            .write.mode("overwrite")
            .parquet(f"{out}/documents.parquet")
        )

    # keyed-table replication, one scheme serving four tables:
    #
    # - orders / customer use offset_multiple_of = _KEYMOD (≡ 0 mod
    #   every modulus the MV/CDC/SCD2/join-MV snapshot derivations use),
    #   so every replica's CDC delta is EXACTLY replica 0's: delta and
    #   dimension exactly linear in k while the MV view stays 6 groups
    #   (priorities collide across replicas) — precisely the
    #   O(delta)+O(view) regime the refresh claims.
    # - lineitem chains ORDERS' offset for l_orderkey (a replica's lines
    #   must join its own replica's orders); l_suppkey/l_partkey stay,
    #   so every replica reproduces replica 0's nation-trade edges
    #   exactly — the aggregated graph's edge weights scale uniformly by
    #   k and the PageRank vector is IDENTICAL at every scale (the
    #   soak's invariance witness), while edge-derivation input grows
    #   linearly.
    # - events offsets BOTH event_id and user_id plainly (multiple 1):
    #   replicas add disjoint users, so per-user state runs replicate
    #   exactly — the SCD2 compression's interval count is exactly
    #   linear and no cross-replica window ever forms.
    o_offs = _replicate_keyed(spark, out, "orders", ["o_orderkey"], k,
                              offset_multiple_of=_KEYMOD, nparts=2 * k)
    _replicate_keyed(spark, out, "customer", ["c_custkey"], k,
                     offset_multiple_of=_KEYMOD, nparts=k)
    _replicate_keyed(spark, out, "lineitem", ["l_orderkey"], k,
                     explicit_offsets={"l_orderkey": o_offs["o_orderkey"]},
                     nparts=4 * k)
    _replicate_keyed(spark, out, "events", ["event_id", "user_id"], k,
                     nparts=k)

    if os.path.exists(f"{out}/embeddings.parquet"):
        for t in os.listdir(BASE):
            dst = os.path.join(out, t)
            if not os.path.exists(dst):
                os.symlink(os.path.join(BASE, t), dst)
        print(f"generated {out} (incremental)")
        return out
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    m = emb.agg(F.max("vec_id")).first()[0] + 1
    reps = spark.range(k).select(F.col("id").cast("int").alias("rep"))
    noisy = F.transform(
        F.col("embedding"),
        lambda v, i: v
        + (
            (
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.col("vec_id").cast("string"),
                        F.col("rep").cast("string"),
                        i.cast("string"),
                    )
                )
                % 2000
            ).cast("float")
            / F.lit(1000.0)
            - F.lit(1.0)
        )
        * F.lit(3.0)
        * F.abs(v),
    )
    (
        emb.crossJoin(reps)
        .select(
            (F.col("vec_id") + F.col("rep").cast("bigint") * m).alias("vec_id"),
            F.when(F.col("rep") == 0, F.col("embedding"))
            .otherwise(noisy.cast("array<float>"))
            .alias("embedding"),
            "label",
        )
        .repartition(max(4, 2 * k))
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )

    for t in os.listdir(BASE):
        dst = os.path.join(out, t)
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE, t), dst)
    print(f"generated {out}")
    return out


def gen_lm(k: int) -> str:
    """Materialize the TYPE-HONEST arm under OUT_ROOT/sflm{k} (VERDICT
    r10 watch items #1/#2). Two protocol fixes relative to ``gen``:

    - documents replicate VERBATIM (doc_id offset, text unchanged). The
      cipher arm multiplies n-gram TYPES by k along with instances —
      real corpus growth has SUBLINEAR type growth (Heaps' law), so the
      cipher arm's type-table terms scale like a worst case, not like
      data. Verbatim replicas hold the type table CONSTANT while
      instances grow linearly: together the two arms bracket real
      growth, and the LM family's claimed decomposition
      (instances-linear + types-sublinear) becomes two measured slopes
      instead of an argument. Near-dup truth does not matter here — the
      LM queries only count n-grams.
    - supplier replicates with per-replica name SUFFIXES (replica 0
      verbatim; replica r appends ' ' + a distinct letter x3). Within a
      replica the suffix is constant, so every within-replica edit
      distance — and therefore the per-replica pair set — is exactly
      replica 0's; across replicas the suffixes differ in >= 3
      positions, beyond the query's max_dist=2, so no cross-replica
      pair qualifies. output_rows == k x (x1 rows) is the linearity
      witness; the declared query's soak was previously input-invariant
      (the cipher arm never replicated the supplier dimension).

    Everything else symlinks to sf0.1.
    """
    from pyspark.sql import functions as F

    if k > 10:
        raise SystemExit(
            "gen_lm supports k <= 10: the per-replica supplier suffix "
            "alphabet has 10 distinct letters, and a repeated suffix "
            "would silently break the cross-replica >= 3-edit isolation "
            "the linearity witness depends on"
        )
    spark = _get_spark()
    out = f"{OUT_ROOT}/sflm{k}"
    os.makedirs(out, exist_ok=True)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    if not os.path.exists(f"{out}/documents.parquet"):
        parts = [
            docs.select(
                (F.col("doc_id") + F.lit(r).cast("bigint") * n).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
            for r in range(k)
        ]
        scaled = parts[0]
        for p in parts[1:]:
            scaled = scaled.unionByName(p)
        (
            scaled.repartition(max(4, 4 * k))
            .write.mode("overwrite")
            .parquet(f"{out}/documents.parquet")
        )

    if not os.path.exists(f"{out}/supplier.parquet"):
        sup = spark.read.parquet(f"{BASE}/supplier.parquet")
        m = sup.agg(F.max("s_suppkey")).first()[0] + 1
        letters = "qwzjxvkyuh"  # distinct letter per replica
        sparts = []
        for r in range(k):
            name = (
                F.col("s_name")
                if r == 0
                else F.concat(F.col("s_name"), F.lit(" " + letters[r] * 3))
            )
            sparts.append(
                sup.select(
                    (F.col("s_suppkey") + F.lit(r).cast("bigint") * m).alias(
                        "s_suppkey"
                    ),
                    name.alias("s_name"),
                    "s_nationkey", "s_acctbal",
                )
            )
        ssc = sparts[0]
        for p in sparts[1:]:
            ssc = ssc.unionByName(p)
        ssc.repartition(max(2, k)).write.mode("overwrite").parquet(
            f"{out}/supplier.parquet"
        )

    for t in os.listdir(BASE):
        dst = os.path.join(out, t)
        if not os.path.exists(dst):
            os.symlink(os.path.join(BASE, t), dst)
    print(f"generated {out}")
    return out


def _stages(ui: str, app: str) -> dict[int, dict]:
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=30
    ) as r:
        return {s["stageId"]: s for s in json.load(r)}


def _soak_queries(names: list[str] | None = None):
    """The measured callables. The two exact set-similarity queries are
    DECLARED over a bounded slice (doc_id < 1000 — the synthetic token
    universe degenerates exact set joins, queries/llm.py); replica ids
    are offset by 5000, so the declared slice would stay CONSTANT across
    scales. The soak instead slices ``doc_id % 5000 < 1000`` — 1000 docs
    per replica, the same slice at x1 and linear growth after — so the
    slope measures the operator, not the cap."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.functions.text import tokens as _tokens
    from pmp_analytics_spark.operators.dedup import (
        containment_prefix_join,
        jaccard_prefix_join,
    )
    from pmp_analytics_spark.operators.retrieval import bm25_topk, bm25_topk_wand
    from pmp_analytics_spark.queries import all_queries
    from pmp_analytics_spark.sources.reader import load_table

    qs = all_queries()

    def sliced(sp, sf_dir):
        return load_table(sp, sf_dir, "documents").where(
            F.col("doc_id") % 5000 < 1000
        )

    def _bm25(ranker):
        def q(sp, sf_dir):
            occ = load_table(sp, sf_dir, "documents").select(
                "doc_id", F.explode(_tokens("text")).alias("token")
            )
            qt = (
                occ.where(F.col("doc_id") % 5000 < 10)
                .select(F.col("doc_id").alias("query_id"), "token")
                .distinct()
            )
            return ranker(occ, qt, k=5)
        return q

    def _dedup_eval_sliced(sp, sf_dir):
        # same per-replica slicing rationale as the jaccard queries: the
        # declared doc_id < 1000 arena is replica-0-only and would stay
        # CONSTANT across scales; 1000 docs per replica keeps x1
        # identical and grows the graded problem linearly
        from pmp_analytics_spark.queries.llm import _dedup_eval_frame

        return _dedup_eval_frame(sliced(sp, sf_dir))

    def _graph_edges_ns(sp, sf_dir):
        # Part co-purchase edges with parts NAMESPACED per replica: the
        # corpus replicates orders with offset keys but keeps l_partkey,
        # so the raw graph would densify superlinearly (k x orders over
        # ONE catalog — a fixture artifact, not an operator property).
        # Re-keying parts by the replica id recovered from the recorded
        # order-key offset makes every replica reproduce replica 0's
        # graph exactly: outputs are exactly k x replica 0's rows (the
        # linear witness) and the wedge work scales linearly.
        import json as _json

        li = load_table(sp, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        side = os.path.join(sf_dir, "orders.offsets.json")
        if os.path.exists(side):
            with open(side) as f:
                off = int(_json.load(f)["o_orderkey"])
            li = li.select(
                "l_orderkey",
                (
                    F.col("l_partkey")
                    + F.floor(F.col("l_orderkey") / off).cast("long") * 100000
                ).alias("l_partkey"),
            )
        li = li.distinct()
        a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
        b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
        return a.join(b, "ok").where(F.col("u") < F.col("v")).select("u", "v")

    def _tri_ns(sp, d):
        from pmp_analytics_spark.operators.graph import triangle_count

        return triangle_count(_graph_edges_ns(sp, d), "u", "v")

    def _kcore_ns(sp, d):
        from pmp_analytics_spark.operators.graph import kcore

        return kcore(_graph_edges_ns(sp, d), 80, "u", "v", max_rounds=8)

    def _lpa_ns(sp, d):
        from pmp_analytics_spark.operators.graph import (
            label_propagation_communities,
        )

        return label_propagation_communities(
            _graph_edges_ns(sp, d), "u", "v", iterations=4
        )

    def _cc_star_ns(sp, d):
        # The DECLARED docs_dedup_components_distributed fixture is a
        # constant 200-node graph (correctness arena); the soak instead
        # chains EVERY doc within its 5000-doc replica block (one
        # 5000-node path per replica — the adversarial diameter for the
        # O(diameter) scheme the star rounds replaced). Per-replica
        # diameter is constant across scales, so the star round count
        # stays ~log(5000) while edges/labels grow linearly — exactly
        # the O(log n)-rounds claim the soak is meant to witness.
        from pmp_analytics_spark.operators.dedup import connected_components

        docs = load_table(sp, d, "documents").select("doc_id")
        pairs = docs.where(F.col("doc_id") % 5000 != 4999).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
        )
        return connected_components(pairs, driver_edge_limit=0)

    def _image_pairs_scaled(sp, d):
        # The declared 120-image fixture is constant across scales; the
        # soak instead hashes 120 images PER 5000-doc replica block
        # (doc_id % 5000 < 120 over the replicated doc table). Absolute
        # doc_ids differ per replica, so each replica's formula images
        # are DISTINCT groups — the banded pair problem (hashes, band
        # rows, bucket expansion, verify) grows linearly in images, and
        # incidental cross-replica near-dups are part of the measured
        # workload, exactly like crawl data.
        from pmp_analytics_spark.operators.phash import phash_pairs
        from pmp_analytics_spark.queries.analytic import _phash_frame_for

        docs = load_table(sp, d, "documents").where(
            F.col("doc_id") % 5000 < 120
        ).select("doc_id")
        sigs = _phash_frame_for(docs).select("doc_id", "phash").localCheckpoint(eager=True)
        return phash_pairs(sigs, id_col="doc_id", max_hamming=6, bands=7)

    specials = {
        "docs_dedup_components_distributed": _cc_star_ns,
        "docs_image_phash_pairs": _image_pairs_scaled,
        # BM25 soak shape: 10 query docs PER replica (the declared
        # doc_id < 10 set stays constant across scales and would measure
        # scan growth only) — each replica's queries match only its own
        # cipher-image postings, so total posting mass under the rankers
        # grows linearly and the WAND pruning rate is comparable per
        # scale.
        "docs_bm25_retrieval": _bm25(bm25_topk),
        "docs_bm25_wand": _bm25(bm25_topk_wand),
        "docs_dedup_eval": _dedup_eval_sliced,
        # graph family: per-replica part namespace (see _graph_edges_ns);
        # the LPA special returns the per-node label frame so output
        # rows witness linearity (the declared query's community-size
        # rollup collapses to a handful of rows).
        "part_copurchase_triangles": _tri_ns,
        "part_copurchase_kcore": _kcore_ns,
        "part_copurchase_communities": _lpa_ns,
    }
    out = {n: qs[n] for n in (names or HEAVY) if n in qs}
    for n, fn in specials.items():
        if names and n in names:
            out[n] = fn
    if "docs_jaccard_exact_pairs" in out:
        out["docs_jaccard_exact_pairs"] = lambda sp, d: jaccard_prefix_join(
            sliced(sp, d), text_col="text", id_col="doc_id", shingle_k=5, threshold=0.5
        )
    if "docs_containment_pairs" in out:
        out["docs_containment_pairs"] = lambda sp, d: containment_prefix_join(
            sliced(sp, d), text_col="text", id_col="doc_id", shingle_k=5, threshold=0.9
        )
    return out


def run_one(k: int, names: list[str] | None = None, arm: str = "cipher") -> None:
    """Measure ONE scale in a fresh process (equal JVM-cold bias per
    scale; per-sf-dir memoized stores cold everywhere), after a generic
    unmeasured warmup that exercises codegen / Arrow / Python workers.
    ``arm`` selects the corpus protocol: 'cipher' (sfx{k} — types grow
    with k) or 'lm' (sflm{k} — verbatim replicas, type tables constant;
    result keys get the ``lm`` prefix so SOAK.json holds both slopes)."""
    from pyspark.sql import functions as F

    spark = _get_spark()
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    prefix = "sfx" if arm == "cipher" else "sflm"
    sf_dir = BASE if k == 1 else f"{OUT_ROOT}/{prefix}{k}"
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"missing {sf_dir}; run `gen {k}`/`gen_lm {k}` first")
    tag = "x" if arm == "cipher" else "lmx"

    # Warmup: touch the scan + shuffle + HOF + mapInPandas machinery on
    # NON-soak work so first-measured-query numbers aren't JVM startup.
    warm = (
        spark.read.parquet(f"{BASE}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .count()
    )
    warm.write.format("noop").mode("overwrite").save()
    spark.range(10_000).selectExpr("avg(id)").mapInPandas(
        lambda it: it, "`avg(id)` double"
    ).write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    for name, fn in _soak_queries(names).items():
        before = set(_stages(ui, app))
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        new = [s for i, s in _stages(ui, app).items() if i not in before]
        results[f"{name}@{tag}{k}"] = {
            "wall_s": round(wall, 2),
            "shuffle_write_mb": round(
                sum(s["shuffleWriteBytes"] for s in new) / 2**20, 2
            ),
            "shuffle_read_mb": round(
                sum(s["shuffleReadBytes"] for s in new) / 2**20, 2
            ),
            "input_mb": round(sum(s["inputBytes"] for s in new) / 2**20, 2),
            # A noop sink reports no stage-level output records, so the
            # result cardinality comes from a second, untimed execution
            # AFTER the stage capture (it shares no metrics with `new`).
            "output_rows": fn(spark, sf_dir).count(),
            "stages": len(new),
        }
        print(name, k, results[f"{name}@{tag}{k}"], flush=True)

    path = os.path.join(os.path.dirname(__file__), "..", "SOAK.json")
    merged = {"results": {}}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    merged.setdefault("results", {}).update(results)
    merged.setdefault("scales", [])
    if k not in merged["scales"]:
        merged["scales"] = sorted(merged["scales"] + [k])
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"merged x{k} into SOAK.json")


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "gen":
        gen(int(sys.argv[2]))
    elif cmd == "gen_lm":
        gen_lm(int(sys.argv[2]))
    elif cmd == "run":
        run_one(int(sys.argv[2]), sys.argv[3:] or None)
    elif cmd == "run_lm":
        run_one(int(sys.argv[2]), sys.argv[3:] or None, arm="lm")
    else:
        raise SystemExit(
            "usage: scale_soak.py gen|gen_lm K | run|run_lm K [query ...]"
        )
