"""Smoke test of the near-copy scan (tools/dup_scan.py) on synthetic
functions: a near copy scores high, an unrelated function and a short
function stay out, and a method is scanned like a function."""

from __future__ import annotations

from tools.dup_scan import scan, shingles


def _fn(name: str, op: str, n: int = 30) -> str:
    body = "".join(f"    x{i} = a {op} {i}\n" for i in range(n))
    return f"def {name}(a):\n{body}    return x0\n"


def test_scan_pairs_near_copies_only(tmp_path):
    other = "".join(f"    print('line {i}', [k for k in range({i})])\n" for i in range(30))
    (tmp_path / "mod.py").write_text(
        _fn("original", "+")
        + "\n\n"
        + _fn("near_copy", "+").replace("x7 = a + 7", "x7 = a * 7")
        + "\n\n"
        + f"def unrelated():\n{other}\n\n"
        + _fn("short", "+", n=5)
        + "\n\nclass Holder:\n"
        + "".join("    " + ln + "\n" for ln in _fn("method", "+").splitlines())
    )
    pairs = scan([tmp_path])
    names = {(a.split("::")[1], b.split("::")[1]) for _, a, b in pairs}
    assert names == {
        ("near_copy", "original"),
        ("Holder.method", "near_copy"),
        ("Holder.method", "original"),
    }
    j = {(a.split("::")[1], b.split("::")[1]): j for j, a, b in pairs}
    # the renamed function and its one changed line cost a few shingles
    assert 0.8 < j["near_copy", "original"] < 1.0
    assert pairs == sorted(pairs, key=lambda p: -p[0])


def test_shingles_drop_comments_and_layout():
    a = shingles("x = f(a, b)  # note\n\n\ny = 2\n", 3)
    b = shingles("x = f(a,\n      b)\ny = 2\n", 3)
    assert a == b
    assert ("x", "=", "f") in a
