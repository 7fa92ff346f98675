"""String/identifier normalization expression library.

The reference normalizes every join key before joining (trim + uppercase at
43 call sites, e.g. delinquent_data_submitters.py:42,44; regex cleanup at
unreg_presc.py:153; zfill at unreg_presc.py:200). Everything here is pure
``pyspark.sql.functions`` composition — JVM-side, whole-stage-codegen
friendly, zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_key(c: Column | str) -> Column:
    """trim + uppercase — the universal normalize-before-join step
    (reference: delinquent_data_submitters.py:42)."""
    return F.upper(F.trim(_col(c)))


def strip_punct(c: Column | str) -> Column:
    """Remove ``(``, ``)``, ``.`` — reference name cleanup
    (unreg_presc.py:153)."""
    return F.regexp_replace(_col(c), r"[().]", "")


def zfill(c: Column | str, width: int) -> Column:
    """Left-pad with zeros (reference: unreg_presc.py:200
    ``str.zfill``)."""
    return F.lpad(_col(c), width, "0")


def null_or_empty(c: Column | str) -> Column:
    """``(col == '') | col.is_null()`` — the reference's explicit
    empty-vs-null disjunction (delinquent_data_submitters.py:84-86; the
    comment there reads 'empty string is not falsey in polars'). Kept as a
    named predicate because it decides oracle parity (SURVEY.md §7.3)."""
    col = _col(c)
    return col.isNull() | (col == F.lit(""))


def str_to_int(c: Column | str) -> Column:
    """Lenient string→int: null on parse failure (reference
    ``str.to_integer(strict=False)``, delinquent_data_submitters.py:84).
    ``try_cast`` keeps this non-ANSI-safe."""
    return _col(c).try_cast("long")


def last_token(c: Column | str) -> Column:
    """Last whitespace-separated token — degree inference input
    (reference: unreg_presc.py:153 ``.str.split(' ').list.get(-1)``).
    ``element_at(..., -1)`` is 1-based-from-end, matching Polars' -1."""
    return F.element_at(F.split(_col(c), r"\s+"), -1)


def surrogate_key(name: Column | str, license_no: Column | str) -> Column:
    """``last3(lastname) + last4(license)`` surrogate matching key
    (reference: mm1.py:16,67). Spark substring with negative start counts
    from the end, same as Polars ``str.slice(-3)``."""
    return F.concat(
        F.substring(clean_key(name), -3, 3),
        F.substring(clean_key(license_no), -4, 4),
    )


def assemble_address(*parts: Column | str, sep: str = " ") -> Column:
    """Null-skipping address concat (reference:
    pharmacy_deas_not_in_mp.py:31-39 conditional assembly;
    ``concat_ws`` skips nulls natively, which is exactly the
    when/otherwise cascade the reference hand-writes)."""
    return F.concat_ws(sep, *[_col(p) for p in parts])


def replace_strict(c: Column | str, mapping: dict) -> Column:
    """Exhaustive value remap (reference: unreg_pharmacists.py:120-121
    ``replace_strict({True:'YES', False:'NO'})``) as a when-cascade; null
    when the input is not in the mapping (strict semantics)."""
    col = _col(c)
    expr = None
    for k, v in mapping.items():
        cond = col == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    assert expr is not None, "empty mapping"
    return expr.otherwise(F.lit(None))
