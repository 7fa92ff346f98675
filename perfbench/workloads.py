"""Benchmark workloads: which registry queries run, on which inputs.

Each workload is a fixed list of query names from
``pmp_analytics_spark.queries`` plus the ``datagen.generate`` arguments
that size its inputs. The lists are representative slices of the query
families, cut so that the session set-up, one cold pass, three warm passes
and the correctness check of one run take under a minute on 4 cores.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # reference-parity compliance jobs (queries/parity.py) plus a CDC
    # merge-upsert stream: sub-second queries where plan building, job
    # scheduling and micro-batch planning dominate; includes the
    # Python-worker UDF query and the temp-dir and versioned-dir writes
    "compliance_batch": {
        "queries": [
            "pricing_summary",
            "customers_without_orders",
            "nation_revenue_share",
            "fuzzy_supplier_match",
            "event_sessions",
            "csv_allstring_roundtrip",
            "avro_roundtrip",
            "streaming_merge_upsert",
        ],
        "data": {"scale": 0.01, "n_docs": 500, "replicas": 1},
    },
    # corpus dedup on a corpus replicated through seed-keyed ciphers:
    # minhash LSH and simhash read the generated documents; the image
    # perceptual-hash query decodes a fixed set of images synthesized from
    # doc_id < 120, the same work on every seed and corpus size
    "corpus_dedup": {
        "queries": [
            "docs_neardup_pairs",
            "docs_simhash_pairs",
            "docs_image_phash_pairs",
        ],
        "data": {"scale": 0.001, "n_docs": 500, "replicas": 2},
    },
}
