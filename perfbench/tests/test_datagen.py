"""Input generator contract: same seed -> same bytes; another seed ->
other bytes but the same compliance_batch oracle results.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMALL = {"scale": 0.001, "n_docs": 100, "replicas": 2}


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def _check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_same_seed_is_byte_identical(tmp_path):
    datagen.generate(str(tmp_path / "a"), 5, **SMALL)
    datagen.generate(str(tmp_path / "b"), 5, **SMALL)
    assert _bytes(tmp_path / "a") == _bytes(tmp_path / "b")


def test_seeds_differ_in_bytes_and_corpus_replicas(tmp_path):
    datagen.generate(str(tmp_path / "a"), 5, **SMALL)
    datagen.generate(str(tmp_path / "b"), 6, **SMALL)
    a, b = _bytes(tmp_path / "a"), _bytes(tmp_path / "b")
    assert a.keys() == b.keys()
    assert a["orders.parquet"] != b["orders.parquet"]
    assert a["documents.parquet"] != b["documents.parquet"]


def test_cipher_is_a_seeded_bijection():
    assert datagen.cipher(9, 0) == datagen._ALPHABET
    c = datagen.cipher(9, 1)
    assert sorted(c) == sorted(datagen._ALPHABET) and c != datagen._ALPHABET
    assert c == datagen.cipher(9, 1) != datagen.cipher(10, 1)


def test_compliance_oracle_results_identical_across_seeds(tmp_path):
    from pmp_analytics_spark.queries import all_oracles

    co = _check_oracle()
    wl = WORKLOADS["compliance_batch"]
    oracles = all_oracles(set(wl["queries"]))
    results = []
    for seed in (1, 2):
        d = str(tmp_path / str(seed))
        datagen.generate(d, seed, **wl["data"])
        con = co.duck_conn(d)
        got = {}
        for name in wl["queries"]:
            rel = con.sql(oracles[name])
            got[name] = co.frame_key(list(rel.columns), rel.fetchall())
        con.close()
        results.append(got)
    assert results[0] == results[1]
    assert all(rows for _, rows in results[0].values())
