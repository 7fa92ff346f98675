"""Local replica of the driver's correctness gate.

Runs every declared query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names/order-insensitive
values. The full-run record (``CORRECTNESS_LOCAL.json``) also keeps, per
query, ``oracle_sql_md5`` (md5 of the resolved oracle SQL string, None for
a rows-only check) and ``rows_md5`` (md5 of the normalized Spark rows), so
two records show whether a refactor kept the oracle SQL byte-identical and
the rows identical. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pmp_analytics_spark.session import class_archive_state, get_spark  # noqa: E402
from pmp_analytics_spark.sources.reader import TABLES  # noqa: E402


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize_cell(v):
    """Type-aware cell serialization predicting the driver's value hash.

    The driver's hash is type-sensitive: an int 10 and a float 10.0 (or a
    Decimal('10')) hash differently even though Python says 10 == 10.0.  So
    every cell is rendered as (type_tag, canonical_repr) — cross-type
    equality can never mask a dtype mismatch here the way plain Python
    equality would.
    """
    import datetime
    import decimal
    import math

    if v is None:
        return ("none", "")  # sortable alongside the typed tuples below
    if isinstance(v, bool):  # before int: bool is an int subclass
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("floatnan", 0.0)  # own tag: sortable next to real floats
        return ("float", round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("decimal", str(v))
    if isinstance(v, datetime.datetime):
        return ("datetime", v.isoformat())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("list", tuple(normalize_cell(x) for x in v))
    if isinstance(v, bytes):
        return ("bytes", v)
    return (type(v).__name__, v)


def canon_spark_type(dt: str) -> str:
    """Map a Spark simpleString dtype to the cross-engine lattice."""
    dt = dt.lower()
    if dt.startswith("array<") and dt.endswith(">"):
        return f"list<{canon_spark_type(dt[6:-1])}>"
    if dt.startswith("decimal"):
        return "decimal"
    return {
        "tinyint": "int8",
        "smallint": "int16",
        "int": "int32",
        "integer": "int32",
        "bigint": "int64",
        "float": "float32",
        "double": "float64",
        "string": "str",
        "boolean": "bool",
        "date": "date",
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
        "binary": "bytes",
    }.get(dt, dt)


def canon_duck_type(dt) -> str:
    """Map a DuckDB logical type to the same lattice as canon_spark_type."""
    s = str(dt).lower()
    if s.endswith("[]"):
        return f"list<{canon_duck_type(s[:-2])}>"
    if s.startswith("decimal"):
        return "decimal"
    return {
        "tinyint": "int8",
        "smallint": "int16",
        "integer": "int32",
        "bigint": "int64",
        "hugeint": "int128",
        "float": "float32",
        "double": "float64",
        "varchar": "str",
        "boolean": "bool",
        "date": "date",
        "timestamp": "timestamp",
        "timestamp_ns": "timestamp",
        "timestamp with time zone": "timestamp",
        "blob": "bytes",
    }.get(s, s)


def dtype_mismatches(scols, stypes, dcols, dtypes_):
    """Columns whose canonical dtypes differ between Spark and DuckDB.

    The driver's value hash goes through typed Arrow/pandas frames, so an
    INTEGER-vs-BIGINT or HUGEINT-vs-BIGINT difference fails its gate even
    though collect()ed Python ints compare equal — this check catches that
    class locally (it is what bit order_quantity_profile/
    csv_allstring_roundtrip/event_props_stats in round 1).
    """
    smap = {c: canon_spark_type(t) for c, t in zip(scols, stypes)}
    dmap = {c: canon_duck_type(t) for c, t in zip(dcols, dtypes_)}
    return [
        f"{c}: spark={smap[c]} duckdb={dmap[c]}"
        for c in smap
        if c in dmap and smap[c] != dmap[c]
    ]


def frame_key(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols_sorted = [columns[i] for i in order]
    normalized = sorted(
        tuple(normalize_cell(row[i]) for i in order) for row in rows
    )
    return cols_sorted, normalized


def md5_of(value) -> str:
    """md5 of a string's bytes, or of another value's repr."""
    text = value if isinstance(value, str) else repr(value)
    return hashlib.md5(text.encode()).hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # Snapshot-style oracles (embedding_ivf_topk's centroid replay) fit
    # against this env var's tables — export the gate's own sf_dir so the
    # fit inputs and the compared tables cannot diverge.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    import __spark_entry__ as ent

    qs = ent.queries()
    if only:
        # Targeted re-checks resolve only the oracles they consult (a
        # lazy oracle build can cost a parquet read + k-means fit).
        from pmp_analytics_spark.queries import all_oracles

        oracles = all_oracles(only)
    else:
        oracles = ent.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"WARNING: unknown query names ignored: {sorted(unknown)}")
    spark = get_spark("oracle-check")
    class_archive = class_archive_state(spark)
    print(f"class archive: {class_archive}")
    con = duck_conn(sf_dir)
    failures = []
    record: dict[str, dict] = {}
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # Operator-local .cache() calls assume a registry-session
        # lifecycle (consumed within the query, evicted by LRU). A full
        # gate run accumulates them; clearing periodically bounds memory
        # without touching any correctness contract (memoized stores
        # lazily rebuild) and without paying the rebuild on EVERY query
        # (clearing per-query measured +30 s on the ingest pair alone,
        # whose session store exists precisely to be shared).
        if n_run % 10 == 0:
            spark.catalog.clearCache()
        n_run += 1
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stypes = [f.dataType.simpleString() for f in sdf.schema.fields]
            # the driver's pandas canonicalizer cannot hash array/map/
            # struct cells and fetches DuckDB decimals as float64 — any
            # such top-level column WILL fail its gate even when values
            # match here (r06 lesson); flag it as a hard failure so this
            # replica predicts the driver (covers streaming queries the
            # pytest schema gate skips)
            from pmp_analytics_spark.queries import driver_unhashable_columns

            unhashable = driver_unhashable_columns(sdf)
            if unhashable:
                raise TypeError(
                    f"driver-unhashable output columns: {unhashable}"
                )
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            record[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark error: {e}"[:500],
            }
            continue
        if name not in oracles:
            print(f"OK?   {name}: rows={len(srows)} (no oracle — rows-only check) [{time.time()-t0:.1f}s]")
            record[name] = {
                "rows_match": True, "schema_match": None, "hash_match": None,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": None, "mode": "rows_only",
                "oracle_sql_md5": None, "rows_md5": md5_of(frame_key(scols, srows)),
            }
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = list(rel.columns)
            dtypes_ = list(rel.types)
            drows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            record[name] = {
                "rows_match": False, "schema_match": False, "hash_match": False,
                "spark_rows": len(srows), "oracle_rows": None,
                "err": f"duckdb error: {e}"[:500],
                "oracle_sql_md5": md5_of(oracles[name]), "rows_md5": md5_of(frame_key(scols, srows)),
            }
            continue
        sc, sv = frame_key(scols, srows)
        dc, dv = frame_key(dcols, drows)
        status = []
        bad_types = dtype_mismatches(scols, stypes, dcols, dtypes_)
        if bad_types:
            status.append(f"dtypes {bad_types}")
        if len(srows) != len(drows):
            status.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sc != dc:
            status.append(f"columns {sc} vs {dc}")
        if not status and sv != dv:
            n_bad = sum(1 for a, b in zip(sv, dv) if a != b)
            first_bad = next(((a, b) for a, b in zip(sv, dv) if a != b), None)
            status.append(f"values differ in {n_bad}/{len(sv)} rows; first: {first_bad}")
        record[name] = {
            "rows_match": len(srows) == len(drows),
            "schema_match": sc == dc and not bad_types,
            "hash_match": not status,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": "; ".join(status)[:500] or None,
            "oracle_sql_md5": md5_of(oracles[name]),
            "rows_md5": md5_of((sc, sv)),
        }
        if status:
            print(f"FAIL  {name}: {'; '.join(status)}")
            failures.append(name)
        else:
            print(f"PASS  {name}: rows={len(srows)} [{time.time()-t0:.1f}s]")
    # Persist the FULL record (the driver's CORRECTNESS_r*.json caps at a
    # fixed 50-query subset; this file is the paper trail for the rest).
    # Partial (CLI-filtered) runs don't clobber the full record.
    if not only:
        import json
        import subprocess

        head = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
             "describe", "--always", "--dirty", "--abbrev=7"],
            capture_output=True, text=True,
        ).stdout.strip()
        out_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "CORRECTNESS_LOCAL.json",
        )
        with open(out_path, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "git_head": head, "class_archive": class_archive,
                 "n_queries": len(record),
                 "n_failed": len(failures), "queries": record},
                f, indent=1,
            )
            f.write("\n")
        print(f"full record written to {out_path}")
    print()
    if failures:
        print(f"{len(failures)} FAILED: {failures}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
