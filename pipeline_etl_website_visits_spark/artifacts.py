"""Stored artifacts: build-once scratch directories and fingerprint memos.

One module owns every piece of reuse state derived from a source table.

**Addressing.** A stored artifact of kind ``<kind>`` built over one source
table of one corpus dir lives at
``tempfile.gettempdir()/spark_graft_<kind>_<corpus tag>_<fingerprint tag>``.
The corpus tag hashes the corpus dir path; the fingerprint tag hashes every
data file's relative path, size and mtime_ns. Regenerated source data
changes the fingerprint, so a stale artifact is never addressed again.

**Build and commit.** :func:`stored` builds an artifact at most once per
fingerprint. The builder writes into its own ``<path>.build.<pid>`` dir and
one ``os.rename`` onto ``<path>`` commits it: the committed directory's
existence IS the commit, so readers probe no marker file. Two concurrent
builders race on the rename; the loser discards its build and reads the
winner's. The commit is a local rename because the scratch root is always
the local temp dir.

**Sweep.** One scan of the scratch root serves the prune after a commit,
:func:`gc_scratch_artifacts` and :func:`clear_scratch_artifacts`. A
``.build.<pid>`` leftover is removed only when its builder pid is gone AND
it is older than :data:`BUILDER_AGE_S`; committed dirs go by the caller's
rule.

**Memo.** :func:`memo` caches a bounded driver-side value derived from one
file, keyed by ``(tag, path, st_size, st_mtime_ns)``. A path that cannot be
stat-ed is never memoized: the value is rebuilt on every call.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
import time
from typing import Callable, TypeVar

T = TypeVar("T")

# Crashed-builder leftovers younger than this are kept even when their pid
# is gone: the pid probe is host-local, the age rule is the backstop.
BUILDER_AGE_S = 3600.0

_NAME = re.compile(
    r"^spark_graft_(.+)_([0-9a-f]{8})_([0-9a-f]{12})(\.build\.\d+)?$"
)


def fingerprint(sf_dir: str, source_table: str) -> str:
    """Fingerprint tag of one source table: a hash of every data file's
    relative path, size and mtime_ns (``_``/``.``-prefixed files, which
    committers write, are skipped)."""
    src = os.path.join(sf_dir, f"{source_table}.parquet")
    parts = []
    if os.path.isdir(src):
        for root, _, files in sorted(os.walk(src)):
            for fn in sorted(files):
                if fn.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, fn))
                parts.append(f"{os.path.relpath(os.path.join(root, fn), src)}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{source_table}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _corpus_tags(sf_dir: str, source_table: str) -> tuple[str, str]:
    """(corpus tag, fingerprint tag) for one source table of one corpus
    dir — the addressing scheme of every stored scratch artifact."""
    return hashlib.md5(sf_dir.encode()).hexdigest()[:8], fingerprint(sf_dir, source_table)


def _scratch_path(sf_dir: str, source_table: str, kind: str) -> str:
    """Scratch dir of the ``kind`` artifact built over one source table."""
    sftag, fptag = _corpus_tags(sf_dir, source_table)
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}_{sftag}_{fptag}")


def stored(sf_dir: str, table: str, kind: str, build: Callable[[str], None]) -> str:
    """Path of the committed ``kind`` artifact over ``sf_dir``'s ``table``,
    calling ``build(tmp)`` to write it into ``tmp`` first if this
    fingerprint has no committed artifact yet."""
    path = _scratch_path(sf_dir, table, kind)
    if not os.path.isdir(path):
        tmp = f"{path}.build.{os.getpid()}"
        try:
            build(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        _commit(tmp, path)
    return path


def _commit(tmp: str, path: str) -> None:
    """Rename a finished build into place — the single-winner commit.

    ``os.rename`` onto an existing directory fails, so the loser of a
    concurrent race discards its build. A rename that fails while the
    target does NOT exist (EACCES, EXDEV, ...) re-raises after cleanup:
    silently dropping a good build would rebuild forever."""
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(path):
            raise
        return
    m = _NAME.match(os.path.basename(path))
    if m:  # prune this (kind, corpus)'s stale-fingerprint artifacts
        kind, sftag, fptag = m.group(1, 2, 3)
        _sweep(os.path.dirname(path), lambda k, s, f: (k, s) == (kind, sftag) and f != fptag)


def _builder_pid_alive(build_suffix: str) -> bool:
    """True iff the ``.build.<pid>`` suffix names a pid that still exists
    on this host. ``kill(pid, 0)`` probes existence without signalling;
    EPERM means "exists but not ours". Pid reuse can only keep a leftover
    longer, never remove a live build."""
    try:
        pid = int(build_suffix.rsplit(".", 1)[-1])
    except ValueError:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM or unknowable: keep
    return True


def _sweep(
    root: str, doomed: Callable[[str, str, str], bool], min_age_s: float = 0.0
) -> list[str]:
    """Remove the artifact dirs under ``root`` that ``doomed(kind, corpus
    tag, fingerprint tag)`` names and that are older than ``min_age_s``,
    plus every crashed builder's leftover. A ``.build.<pid>`` dir is
    crashed when its pid is gone and it is older than BUILDER_AGE_S —
    liveness first, so a long first-time build is never removed mid-write.
    Returns the removed dirs."""
    removed: list[str] = []
    now = time.time()
    for fn in sorted(os.listdir(root)):
        m = _NAME.match(fn)
        full = os.path.join(root, fn)
        if not m or not os.path.isdir(full):
            continue
        try:
            age = now - os.path.getmtime(full)
        except OSError:
            continue  # vanished under us (concurrent sweep/commit)
        if m.group(4):
            if _builder_pid_alive(fn) or age < BUILDER_AGE_S:
                continue
        elif not doomed(*m.group(1, 2, 3)) or age < min_age_s:
            continue
        shutil.rmtree(full, ignore_errors=True)
        removed.append(full)
    return removed


def _live_tags(corpora: list[str]) -> set[tuple[str, str]]:
    """(corpus tag, fingerprint tag) of every table of the given corpora."""
    return {
        _corpus_tags(sf_dir, entry[: -len(".parquet")])
        for sf_dir in corpora
        if os.path.isdir(sf_dir)
        for entry in os.listdir(sf_dir)
        if entry.endswith(".parquet")
    }


def gc_scratch_artifacts(corpora: list[str], min_age_s: float = 0.0) -> list[str]:
    """Retention sweep over every stored artifact. ``corpora`` declares
    each corpus dir still in use. An artifact is live iff its (corpus tag,
    fingerprint tag) is that of a current table of a declared corpus; live
    artifacts are never touched, so a concurrent reader's scan is safe.
    Stale-fingerprint and undeclared-corpus artifacts go once older than
    ``min_age_s`` (grace for readers that resolved the path just before
    the source data changed), as do crashed builders' leftovers. Returns
    the removed dirs."""
    live = _live_tags(corpora)
    return _sweep(tempfile.gettempdir(), lambda k, s, f: (s, f) not in live, min_age_s)


def clear_scratch_artifacts(corpora: list[str]) -> list[str]:
    """Remove the live artifacts of the given corpora, so the next
    :func:`stored` call really builds (and a benchmark really times) each
    one. Not for serving: a deployment keeps its artifacts. Returns the
    removed dirs."""
    live = _live_tags(corpora)
    return _sweep(tempfile.gettempdir(), lambda k, s, f: (s, f) in live)


_MEMO: dict[tuple[str, str], tuple[tuple[int, int], object]] = {}


def memo(path: str, tag: str, build: Callable[[], T]) -> T:
    """``build()``, memoized per ``(tag, path)`` while ``path``'s size and
    mtime_ns stay the same. For bounded driver-side values derived from
    one source (probe vectors, a stored index's sidecar), never for query
    results."""
    try:
        st = os.stat(path)
    except OSError:
        return build()
    stamp = (st.st_size, st.st_mtime_ns)
    hit = _MEMO.get((tag, path))
    if hit is None or hit[0] != stamp:
        hit = _MEMO[(tag, path)] = (stamp, build())
    return hit[1]


def small_table(spark, path: str, tag: str) -> list[dict]:
    """Rows of a small parquet dir (a stored artifact's sidecar), read on
    the driver with pyarrow — no Spark job — and memoized per part file.
    A path the driver cannot list (``file://``, ``hdfs://``, ``s3a://``)
    is read through Spark instead, unmemoized."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return [r.asDict() for r in spark.read.parquet(path).collect()]
    return memo(files[0], tag, lambda: [r for f in files for r in pq.read_table(f).to_pylist()])
