"""Sink patterns (SURVEY.md §2.2).

The reference writes ~30 single-file CSVs (K1, ``df.write_csv``), pipe-
delimited extracts (K2), and maintains append-only logs by concat-and-
rewrite. Spark-first equivalents:

- ``write_csv_single``: the reference's exact one-file semantics via
  ``coalesce(1)`` — documented as driver-adjacent (single task writes
  everything) and intended for small, already-aggregated outputs, which
  is how the reference uses it (notices, board lists).
- ``append_log``: the log-maintenance pattern as an append-mode parquet
  write — no read-modify-write cycle, safe under concurrent runs
  (each batch adds files; readers see a consistent snapshot per query).

Excel round-trips live in ``bridges.py``; the clipboard sink (K5) is
``clipboard_tsv`` below — the TSV text is the artifact, the OS-clipboard
hop best-effort; Sheets append (K4) is ``sources/sheets.py`` against an
injectable transport. ``publish_versioned`` adds atomic snapshot
publication over plain parquet.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

_KEEP_LAST = 3  # versions publish_versioned keeps, the live one included


def write_csv_single(df: DataFrame, path: str, sep: str = ",") -> str:
    """Single-file CSV with a header row, the reference's
    ``write_csv(path)`` semantics (K1): coalesce to one partition, write,
    then move the part file to ``path``. One task writes all rows — only
    for small outputs."""
    tmp = path + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").option("sep", sep).option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


def write_pipe_delimited(df: DataFrame, path: str) -> str:
    """K2: the reference's ``separator='|'`` extract shape."""
    return write_csv_single(df, path, sep="|")


def append_log(new_rows: DataFrame, log_path: str) -> None:
    """Append-only log maintenance (replaces concat-and-rewrite,
    delinquent_data_submitters.py:224-244)."""
    new_rows.write.mode("append").parquet(log_path)


def clipboard_tsv(
    df: DataFrame, max_rows: int = 10_000, include_header: bool = True
) -> str:
    """K5: the reference's ``write_clipboard`` (exclude_ndcs.py:37,
    unreg_presc.py:167) renders a frame as the TSV text the OS clipboard
    carries. The TSV string is the portable artifact and the return
    value; the actual clipboard hop is a desktop-session affordance
    attempted only if a mechanism exists (headless executors have no
    clipboard — by design this NEVER fails the pipeline).

    Bounded collect: clipboard payloads are human-paste-sized, so the
    collect is capped (same guard discipline as the Excel sink)."""
    rows = df.limit(max_rows + 1).collect()  # one job, one snapshot
    if len(rows) > max_rows:
        raise ValueError(
            f"clipboard_tsv is for small outputs: got >{max_rows} rows; "
            "aggregate or raise max_rows deliberately"
        )
    cols = df.columns

    def cell(v) -> str:
        if v is None:
            return ""
        return str(v).replace("\t", " ").replace("\n", " ")

    lines = (["\t".join(cols)] if include_header else []) + [
        "\t".join(cell(v) for v in r) for r in rows
    ]
    text = "\n".join(lines)
    _try_system_clipboard(text)
    return text


def _try_system_clipboard(text: str) -> bool:  # pragma: no cover - headless CI
    """Best-effort OS clipboard write via whatever utility exists."""
    import shutil as _shutil
    import subprocess

    for cmd in (["xclip", "-selection", "clipboard"], ["pbcopy"], ["wl-copy"]):
        if _shutil.which(cmd[0]):
            try:
                subprocess.run(cmd, input=text.encode(), check=True, timeout=5)
                return True
            except Exception:
                return False
    return False


def publish_versioned(df: DataFrame, root: str, marker: str | None = None) -> str:
    """Publish ``df`` as a NEW immutable version under ``root`` and flip
    the ``_LATEST`` pointer to it atomically — the snapshot-publish
    pattern batch pipelines use so readers never observe a half-written
    or half-deleted table (the poor man's snapshot isolation; the full
    answer is a transactional table format):

    - data lands in ``root/v{n:08d}/`` (never touched again),
    - ``_LATEST`` (a one-line pointer file) is written via tmp + atomic
      rename LAST, so a crash mid-publish leaves the previous version
      live and a rerun simply takes the next version number,
    - versions older than ``_KEEP_LAST`` behind the pointer are pruned
      AFTER the flip (readers that resolved the old pointer during the
      swap still have ``_KEEP_LAST - 1`` versions of grace).

    ``marker`` (optional) is a small commit token written as ``_MARKER``
    INSIDE the version dir after the data but BEFORE the pointer flip, so
    it becomes visible exactly when the version does (parquet readers
    skip ``_``-prefixed files). ``latest_marker`` reads it back — the
    idempotent-replay handle for NON-idempotent maintenance loops (e.g.
    the additive CDC view refresh stores the micro-batch id: a replayed
    batch sees its own id already committed and skips).

    Returns the published version directory."""
    from pmp_analytics_spark.sources.hadoopfs import fs_for

    import re

    spark = df.sparkSession
    fs, jroot, jvm, _ = fs_for(spark, root)
    if not fs.exists(jroot):
        fs.mkdirs(jroot)
    versions = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        # strict v{8 digits}: co-located dirs ('views', 'v2-backup') are
        # not ours to parse or prune
        if st.isDirectory() and re.fullmatch(r"v\d{8}", name):
            versions.append(int(name[1:]))
        elif st.isFile() and name.startswith("_LATEST.tmp"):
            fs.delete(st.getPath(), False)  # crashed-flip debris
    versions.sort()
    n = (versions[-1] + 1) if versions else 0
    vdir = f"{root.rstrip('/')}/v{n:08d}"
    df.write.parquet(vdir)
    if marker is not None:
        mpath = jvm.org.apache.hadoop.fs.Path(
            jvm.org.apache.hadoop.fs.Path(vdir), "_MARKER"
        )
        mout = fs.create(mpath, True)
        mout.write(str(marker).encode())
        mout.close()

    _flip_pointer(fs, jroot, jvm, f"v{n:08d}")

    for old in versions[: max(0, len(versions) + 1 - _KEEP_LAST)]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(jroot, f"v{old:08d}"), True)
    return vdir


def _flip_pointer(fs, jroot, jvm, version_name: str) -> None:
    """Atomically point ``_LATEST`` at ``version_name`` via tmp + rename.

    Rename-first: POSIX/local rename overwrites in place (zero
    pointer-less window); filesystems that refuse to overwrite (HDFS
    default) fall back to delete+rename, whose window is bounded by
    the two metadata ops and recoverable (version dirs still exist)."""
    pointer = jvm.org.apache.hadoop.fs.Path(jroot, "_LATEST")
    tmp = jvm.org.apache.hadoop.fs.Path(jroot, f"_LATEST.tmp{int(version_name[1:])}")
    out = fs.create(tmp, True)
    out.write(version_name.encode())
    out.close()
    if not fs.rename(tmp, pointer):
        if fs.exists(pointer):
            fs.delete(pointer, False)
        if not fs.rename(tmp, pointer):
            raise OSError(f"pointer flip failed for {version_name}")


def _read_small_file(fs, path) -> str:
    """Read a tiny FS file (pointer / marker) fully as text."""
    stream = fs.open(path)
    try:
        # hasattr on a py4j object is always True (no reflection), so
        # feature-detect by calling: readAllBytes is Java 9+.
        try:
            return bytes(stream.readAllBytes()).decode()
        except Exception:  # pragma: no cover - Java 8 fallback
            buf = bytearray()
            b = stream.read()
            while b >= 0:
                buf.append(b)
                b = stream.read()
            return bytes(buf).decode()
    finally:
        stream.close()


def read_latest(spark, root: str) -> DataFrame:
    """Resolve ``_LATEST`` and read that immutable version."""
    from pmp_analytics_spark.sources.hadoopfs import fs_for

    fs, jroot, jvm, _ = fs_for(spark, root)
    pointer = jvm.org.apache.hadoop.fs.Path(jroot, "_LATEST")
    version = _read_small_file(fs, pointer)
    return spark.read.parquet(f"{root.rstrip('/')}/{version.strip()}")


def list_versions(spark, root: str) -> list[tuple[str, bool]]:
    """Every version still on disk under ``root``, oldest first, as
    (version_name, is_live). The time-travel catalog: versions within
    ``_KEEP_LAST`` of the pointer are readable via ``read_version``;
    only the marked-live one is what ``read_latest`` resolves."""
    import re

    from pmp_analytics_spark.sources.hadoopfs import fs_for

    fs, jroot, jvm, _ = fs_for(spark, root)
    if not fs.exists(jroot):
        return []
    pointer = jvm.org.apache.hadoop.fs.Path(jroot, "_LATEST")
    live = (
        _read_small_file(fs, pointer).strip() if fs.exists(pointer) else None
    )
    names = sorted(
        st.getPath().getName()
        for st in fs.listStatus(jroot)
        if st.isDirectory() and re.fullmatch(r"v\d{8}", st.getPath().getName())
    )
    return [(n, n == live) for n in names]


def read_version(spark, root: str, version: int | str) -> DataFrame:
    """Time-travel read: the IMMUTABLE version ``version`` (an int or a
    ``v00000003``-style name), regardless of where ``_LATEST`` points —
    the reproduce-this-training-run primitive. Raises FileNotFoundError
    for versions already pruned by ``_KEEP_LAST``."""
    name = version if isinstance(version, str) else f"v{version:08d}"
    import os

    from pmp_analytics_spark.sources.hadoopfs import fs_for

    fs, jroot, jvm, _ = fs_for(spark, root)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(jroot, name)):
        raise FileNotFoundError(
            f"{os.path.join(root, name)}: version missing or pruned "
            f"(on disk: {[n for n, _ in list_versions(spark, root)]})"
        )
    return spark.read.parquet(f"{root.rstrip('/')}/{name}")


def rollback_latest(spark, root: str, version: int | str) -> None:
    """Atomically point ``_LATEST`` back at a STILL-ON-DISK older
    version (pointer flip only — no data is copied, the newer versions
    stay on disk and remain readable via ``read_version``). The undo
    button for a bad publish, valid as far back as ``_KEEP_LAST`` kept.

    NOTE for maintenance loops: the rolled-back version's ``_MARKER``
    becomes the live marker again, so an exactly-once CDC refresh resumed
    after a rollback will re-apply batches after that marker — which is
    precisely the replay semantics a rollback asks for."""
    name = version if isinstance(version, str) else f"v{version:08d}"
    from pmp_analytics_spark.sources.hadoopfs import fs_for

    fs, jroot, jvm, _ = fs_for(spark, root)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(jroot, name)):
        raise FileNotFoundError(f"cannot roll back to pruned/missing {name}")
    _flip_pointer(fs, jroot, jvm, name)


def latest_marker(spark, root: str) -> str | None:
    """The commit ``marker`` the LIVE version was published with (see
    ``publish_versioned``), or None when there is no published version
    or it carries no marker. Reads two tiny pointer files — never data."""
    from pmp_analytics_spark.sources.hadoopfs import fs_for

    fs, jroot, jvm, _ = fs_for(spark, root)
    pointer = jvm.org.apache.hadoop.fs.Path(jroot, "_LATEST")
    if not fs.exists(pointer):
        return None
    version = _read_small_file(fs, pointer).strip()
    mpath = jvm.org.apache.hadoop.fs.Path(
        jvm.org.apache.hadoop.fs.Path(jroot, version), "_MARKER"
    )
    if not fs.exists(mpath):
        return None
    return _read_small_file(fs, mpath)


def version_marker(spark, root: str, version: int | str) -> str | None:
    """The commit marker a SPECIFIC on-disk version was published with
    (None for markerless seeds) — the per-version form of
    ``latest_marker``, for readers that walk history."""
    name = version if isinstance(version, str) else f"v{version:08d}"
    from pmp_analytics_spark.sources.hadoopfs import fs_for

    fs, jroot, jvm, _ = fs_for(spark, root)
    mpath = jvm.org.apache.hadoop.fs.Path(
        jvm.org.apache.hadoop.fs.Path(jroot, name), "_MARKER"
    )
    if not fs.exists(mpath):
        return None
    return _read_small_file(fs, mpath)


def read_consistent(spark, roots: list[str]) -> dict[str, DataFrame]:
    """CRASH-CONSISTENT multi-root read: the newest cut at which EVERY
    root carries the SAME ``batch:<id>`` marker (markerless seed
    versions count as the cut before batch 0). The reader the dual-root
    maintenance loops' contract promises: a loop that publishes labels
    FIRST and edges second (streaming/components.py) — or state + view,
    or SCD2 dim + join view — can crash between the two publishes,
    leaving the first root one batch ahead; ``read_latest`` on each
    root would then hand back a torn pair. This walks the still-on-disk
    versions (bounded by ``_KEEP_LAST``) of each root, intersects their
    batch ids, and reads every root at the highest COMMON cut.

    Returns ``{root: DataFrame}``; raises if no common cut survives
    pruning (raise, don't guess — a torn read is silent corruption
    downstream).
    """
    from pmp_analytics_spark.streaming.mv import parse_batch_marker

    per_root: list[dict[int, str]] = []
    for root in roots:
        cuts: dict[int, str] = {}
        for name, live in list_versions(spark, root):
            mk = version_marker(spark, root, name)
            bid = parse_batch_marker(mk) if mk is not None else None
            if mk is None:
                cuts[-1] = name  # markerless seed = the pre-batch cut
            elif bid is not None:
                cuts[bid] = name
            elif live:
                # The LIVE version was republished with a semantic marker
                # (e.g. optimize_layout's 'zorder:<dims>' rewrite), so the
                # newest batch cut is NOT the newest data. Returning the
                # older batch cut would be a silent stale read; raise and
                # tell the operator the root left the batch protocol.
                raise ValueError(
                    f"read_consistent: live version {name!r} of {root} "
                    f"carries semantic marker {mk!r} — this reader only "
                    "supports roots whose versions are batch:<id>/seed "
                    "publishes (re-publish through the batch protocol or "
                    "read the root with read_latest)"
                )
            # non-live semantic markers don't participate in cuts
        per_root.append(cuts)
    common = set(per_root[0])
    for cuts in per_root[1:]:
        common &= set(cuts)
    if not common:
        raise ValueError(
            f"read_consistent: no common batch cut across {roots} — "
            "history pruned past the last consistent pair"
        )
    cut = max(common)
    return {
        root: read_version(spark, root, cuts[cut])
        for root, cuts in zip(roots, per_root)
    }
