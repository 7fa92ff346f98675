"""Near-copy scan: which package functions share most of their token text.

Every function of at least 25 lines (module-level functions and class
methods; nested helpers count as part of their parent) is cut into its
Python tokens, comments and layout dropped, and reduced to the set of
its 6-token shingles. Each pair whose Jaccard similarity of shingle sets
is at least 0.30 is printed, most similar first:

    python tools/dup_scan.py                       # the package
    python tools/dup_scan.py pmp_analytics_spark/queries

A high score names copies that one shared helper could replace. String
literals are single tokens, so two oracle builders whose SQL text is
equal score as equal. Standard library only (``ast``, ``tokenize``).
"""

from __future__ import annotations

import argparse
import ast
import io
import sys
import tokenize
from collections import defaultdict
from itertools import combinations
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
MIN_LINES = 25
K = 6
THRESHOLD = 0.30
_LAYOUT = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _functions(tree: ast.Module):
    """Module-level functions and the methods of module-level classes."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield node.name, node
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{sub.name}", sub


def shingles(source: str, k: int) -> set[tuple[str, ...]]:
    """The set of ``k``-token windows of ``source``, layout dropped."""
    toks = [
        t.string
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in _LAYOUT
    ]
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def function_shingles(paths) -> dict[str, set]:
    """``path::name`` -> shingle set, for each long enough function."""
    out = {}
    for base in paths:
        base = Path(base)
        files = [base] if base.is_file() else sorted(base.rglob("*.py"))
        for path in files:
            text = path.read_text()
            lines = text.splitlines(keepends=True)
            try:
                rel = path.resolve().relative_to(ROOT)
            except ValueError:
                rel = path
            for name, node in _functions(ast.parse(text)):
                if node.end_lineno - node.lineno + 1 < MIN_LINES:
                    continue
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                body = "".join(lines[first - 1 : node.end_lineno])
                # a method's text is indented; dedent it for the tokenizer
                pad = len(body) - len(body.lstrip(" "))
                body = "".join(ln[pad:] if ln[:pad].isspace() else ln for ln in body.splitlines(keepends=True))
                out[f"{rel}::{name}"] = shingles(body, K)
    return out


def scan(paths) -> list[tuple[float, str, str]]:
    """(jaccard, a, b) for each function pair at or above ``THRESHOLD``,
    most similar first. Pairs sharing no shingle are never compared."""
    sets = function_shingles(paths)
    owners = defaultdict(list)
    for name, sh in sets.items():
        for s in sh:
            owners[s].append(name)
    shared = defaultdict(int)
    for names in owners.values():
        for a, b in combinations(sorted(names), 2):
            shared[a, b] += 1
    pairs = []
    for (a, b), inter in shared.items():
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= THRESHOLD:
            pairs.append((j, a, b))
    return sorted(pairs, key=lambda p: (-p[0], p[1], p[2]))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="*", default=[str(ROOT / "pmp_analytics_spark")])
    pairs = scan(ap.parse_args(argv).paths)
    for j, a, b in pairs:
        print(f"{j:.2f}  {a}  {b}")
    print(f"{len(pairs)} pairs", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
