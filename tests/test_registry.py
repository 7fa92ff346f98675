"""The declared-query registry: one decorator, one name space."""

from __future__ import annotations

import ast
import inspect

import pytest

from pmp_analytics_spark.queries import _PACKS, all_queries
from pmp_analytics_spark.queries.registry import QUERIES, query


def test_declaring_a_name_twice_raises():
    name = next(iter(QUERIES))
    before = QUERIES[name]
    with pytest.raises(ValueError, match=name):
        query(name)(lambda spark, sf_dir: None)
    assert QUERIES[name] is before


def _declared_names(pack) -> list[str]:
    """Names of the ``@query("name", ...)`` decorators in source order."""
    names = []
    for node in ast.parse(inspect.getsource(pack)).body:
        if isinstance(node, ast.FunctionDef):
            for d in node.decorator_list:
                if (
                    isinstance(d, ast.Call)
                    and isinstance(d.func, ast.Name)
                    and d.func.id == "query"
                ):
                    names.append(d.args[0].value)
    return names


def test_all_queries_groups_packs_in_order():
    """Packs in ``_PACKS`` order, each in declaration order: the pack
    order is a measured choice (stream-heavy sketches last), not the
    order the packs happen to be imported in."""
    expected = [name for pack in _PACKS for name in _declared_names(pack)]
    assert list(all_queries()) == expected
    assert len(expected) == len(set(expected)) == len(QUERIES)
