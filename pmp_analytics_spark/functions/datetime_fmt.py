"""Datetime parsing/formatting with strptime→Java dialect translation.

The reference parses dates with C strptime formats (``%Y-%m-%d``,
``%m/%d/%Y``, ``%Y%m%d``, ``%B %d, %Y`` — unreg_presc.py:113, od.py:27,
techs.py:20, mu_extras.py:85) and ``strict=False`` (null on failure).
Spark uses Java DateTimeFormatter patterns, so we translate the dialect once
here and use ``try_to_timestamp``-style lenient parsing everywhere.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# strptime directive -> Java DateTimeFormatter pattern
_STRPTIME_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%.f": ".SSSSSS",
    "%B": "MMMM",
    "%b": "MMM",
    "%A": "EEEE",
    "%a": "EEE",
    "%p": "a",
    "%j": "DDD",
    "%%": "%",
}

_DIRECTIVE_RE = re.compile("|".join(re.escape(k) for k in sorted(_STRPTIME_TO_JAVA, key=len, reverse=True)))


def strptime_to_java(fmt: str) -> str:
    """Translate a C strptime format string to a Java pattern.

    Literal text between directives is single-quoted when it contains
    letters (Java patterns treat bare letters as directives).
    """
    out: list[str] = []
    pos = 0
    for m in _DIRECTIVE_RE.finditer(fmt):
        literal = fmt[pos : m.start()]
        if literal:
            out.append(_quote_literal(literal))
        out.append(_STRPTIME_TO_JAVA[m.group(0)])
        pos = m.end()
    tail = fmt[pos:]
    if tail:
        out.append(_quote_literal(tail))
    return "".join(out)


def _quote_literal(text: str) -> str:
    if re.search(r"[A-Za-z]", text):
        return "'" + text.replace("'", "''") + "'"
    return text


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def to_date_lenient(c: Column | str, strptime_fmt: str) -> Column:
    """Parse a string to date, null on failure — the reference's
    ``str.to_date(fmt, strict=False)`` (unreg_presc.py:113)."""
    return F.try_to_timestamp(_col(c), F.lit(strptime_to_java(strptime_fmt))).cast("date")


def format_date(c: Column | str, strptime_fmt: str) -> Column:
    """dt.to_string / strftime equivalent (reference:
    delinquent_data_submitters.py:96,231)."""
    return F.date_format(_col(c), strptime_to_java(strptime_fmt))
