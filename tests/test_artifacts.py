"""The stored-artifact store: addressing, build-once commit, sweep and memo."""

import ast
import os
import pathlib
import tempfile

import pytest

from pipeline_etl_website_visits_spark import artifacts

DEAD_PID = 4194311  # > default pid_max — kill(pid, 0) is ESRCH, always
SF, OLD_FP, NEW_FP = "5f000001", "01d0000000fb", "0e00000000fb"  # hex tags


def _corpus(root: pathlib.Path) -> str:
    src = root / "documents.parquet"
    src.mkdir(parents=True)
    (src / "part-0.parquet").write_bytes(b"data")
    return str(root)


def test_scratch_path_fingerprints_source_data(tmp_path):
    """The scratch-index tag must change when the source data is
    regenerated — a stale stored index can never be silently reused."""
    src = tmp_path / "documents.parquet"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"abc")
    p1 = artifacts._scratch_path(str(tmp_path), "documents", "gramidx")
    assert p1 == artifacts._scratch_path(str(tmp_path), "documents", "gramidx")  # stable
    (src / "part-0.parquet").write_bytes(b"abcd")  # regenerated data
    assert artifacts._scratch_path(str(tmp_path), "documents", "gramidx") != p1
    # underscore/success files don't perturb the tag (committers write them)
    (src / "_SUCCESS").write_bytes(b"")
    p3 = artifacts._scratch_path(str(tmp_path), "documents", "gramidx")
    assert p3 == artifacts._scratch_path(str(tmp_path), "documents", "gramidx")


def test_commit_scratch_build_single_winner(tmp_path):
    """Two concurrent builders race on one atomic rename: first wins,
    the loser's build dir is discarded — no shared build dir, ever."""
    a = tmp_path / "x.build.1"
    b = tmp_path / "x.build.2"
    for d, txt in ((a, "A"), (b, "B")):
        d.mkdir()
        (d / "f").write_text(txt)
    final = str(tmp_path / "x")
    artifacts._commit(str(a), final)
    artifacts._commit(str(b), final)
    assert (tmp_path / "x" / "f").read_text() == "A"  # winner intact
    assert not a.exists() and not b.exists()  # loser cleaned up


def test_commit_prunes_stale_fingerprint_dirs(tmp_path):
    """A committed build removes the SAME corpus's old-fingerprint dirs
    and hour-old crashed build leftovers, but never a same-fingerprint
    concurrent build dir or another corpus's live index."""
    new = f"spark_graft_k_{SF}_{NEW_FP}"
    stale = tmp_path / f"spark_graft_k_{SF}_{OLD_FP}"
    stale.mkdir()
    crashed = tmp_path / f"{new}.build.{DEAD_PID}"
    crashed.mkdir()
    os.utime(crashed, (0, 0))  # ancient + dead builder — prunable
    other_corpus = tmp_path / f"spark_graft_k_5f000002_{OLD_FP}"
    other_corpus.mkdir()
    racing = tmp_path / f"{new}.build.{DEAD_PID + 1}"
    racing.mkdir()  # fresh mtime — a live concurrent builder
    slow = tmp_path / f"{new}.build.{os.getpid()}"
    slow.mkdir()
    os.utime(slow, (0, 0))  # ancient mtime but the builder pid is ALIVE
    tmp = tmp_path / f"{new}.build.1"
    tmp.mkdir()
    (tmp / "f").write_text("x")
    artifacts._commit(str(tmp), str(tmp_path / new))
    assert (tmp_path / new / "f").read_text() == "x"
    assert not stale.exists()  # old fingerprint pruned
    assert not crashed.exists()  # ancient crashed build pruned
    assert other_corpus.exists()  # different corpus untouched
    assert racing.exists()  # live same-fingerprint builder untouched
    # an hour-old build whose pid is still running is a long-running
    # FIRST-TIME build, not a crash — never removed mid-write
    assert slow.exists()


def test_gc_scratch_artifacts_sweeps_stale_keeps_live(spark, tmp_path, monkeypatch):
    """The retention sweep removes stale-fingerprint and undeclared-corpus
    artifacts, keeps fresh concurrent builds, and NEVER touches the live
    artifact — proven by a reader whose DataFrame was resolved BEFORE the
    sweep still scanning clean afterwards."""
    corpus = _corpus(tmp_path / "sf")
    sftag, fptag = artifacts._corpus_tags(corpus, "documents")

    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    live = root / f"spark_graft_pairovl_{sftag}_{fptag}"
    spark.createDataFrame([(1, 2)], "doc_a long, doc_b long").write.parquet(str(live))
    stale = root / f"spark_graft_pairovl_{sftag}_{'0' * 12}"
    stale.mkdir()
    unknown = root / f"spark_graft_bm25idx_{'f' * 8}_{'e' * 12}"
    unknown.mkdir()
    crashed = root / f"spark_graft_pairovl_{sftag}_{fptag}.build.{DEAD_PID}"
    crashed.mkdir()
    os.utime(crashed, (0, 0))
    racing = root / f"spark_graft_pairovl_{sftag}_{fptag}.build.{DEAD_PID + 1}"
    racing.mkdir()  # fresh — a live concurrent builder
    slow = root / f"spark_graft_pairovl_{sftag}_{fptag}.build.{os.getpid()}"
    slow.mkdir()
    os.utime(slow, (0, 0))  # ancient mtime, but the builder pid is ALIVE
    not_ours = root / "somebody_elses_dir"
    not_ours.mkdir()

    reader = spark.read.parquet(str(live))  # resolved pre-sweep
    removed = artifacts.gc_scratch_artifacts([corpus])

    assert sorted(os.path.basename(p) for p in removed) == sorted(
        [stale.name, unknown.name, crashed.name]
    )
    assert live.exists() and racing.exists() and not_ours.exists()
    # an old build dir whose pid still runs is a long-running live
    # build — kept regardless of age (liveness beats the age rule)
    assert slow.exists()
    assert reader.collect()[0]["doc_a"] == 1  # concurrent read survives

    # grace window: a stale dir younger than min_age_s is kept
    stale2 = root / f"spark_graft_pairovl_{sftag}_{'1' * 12}"
    stale2.mkdir()
    assert artifacts.gc_scratch_artifacts([corpus], min_age_s=3600) == []
    assert stale2.exists()


def test_commit_scratch_build_reraises_real_failures(tmp_path):
    """A rename that fails while the target does NOT exist is a real
    error (EACCES/EXDEV/...) — it must re-raise, not silently discard
    the build and surface later as a missing-index mystery."""
    with pytest.raises(OSError):
        artifacts._commit(str(tmp_path / "never_built"), str(tmp_path / "x"))


def _counting_build(calls: list):
    def build(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp)
        pathlib.Path(tmp, "f").write_text(str(len(calls)))

    return build


def test_stored_builds_once_per_fingerprint(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    os.makedirs(tempfile.tempdir)
    corpus = _corpus(tmp_path / "sf")
    calls: list = []
    p1 = artifacts.stored(corpus, "documents", "k", _counting_build(calls))
    p2 = artifacts.stored(corpus, "documents", "k", _counting_build(calls))
    assert p1 == p2 and len(calls) == 1
    assert pathlib.Path(p1, "f").read_text() == "1"
    assert not os.path.exists(calls[0])  # the build dir was renamed away
    # regenerated source data: a fresh build, and the stale one is pruned
    pathlib.Path(corpus, "documents.parquet", "part-0.parquet").write_bytes(b"other")
    p3 = artifacts.stored(corpus, "documents", "k", _counting_build(calls))
    assert p3 != p1 and len(calls) == 2 and not os.path.exists(p1)


def test_stored_never_serves_a_dead_builders_leftover(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    os.makedirs(tempfile.tempdir)
    corpus = _corpus(tmp_path / "sf")
    leftover = pathlib.Path(artifacts._scratch_path(corpus, "documents", "k") + f".build.{DEAD_PID}")
    leftover.mkdir()
    (leftover / "f").write_text("half-written")
    calls: list = []
    path = artifacts.stored(corpus, "documents", "k", _counting_build(calls))
    assert len(calls) == 1 and path != str(leftover)
    assert pathlib.Path(path, "f").read_text() == "1"


def test_stored_cleans_up_a_failed_build(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "scratch"))
    os.makedirs(tempfile.tempdir)
    corpus = _corpus(tmp_path / "sf")

    def broken(tmp: str) -> None:
        os.makedirs(tmp)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        artifacts.stored(corpus, "documents", "k", broken)
    assert os.listdir(tempfile.tempdir) == []
    calls: list = []
    artifacts.stored(corpus, "documents", "k", _counting_build(calls))
    assert len(calls) == 1


def test_clear_scratch_artifacts_removes_only_live_artifacts(tmp_path, monkeypatch):
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    corpus = _corpus(tmp_path / "sf")
    sftag, fptag = artifacts._corpus_tags(corpus, "documents")
    live = root / f"spark_graft_toktab_{sftag}_{fptag}"
    stale = root / f"spark_graft_toktab_{sftag}_{'0' * 12}"
    building = root / f"spark_graft_toktab_{sftag}_{fptag}.build.{os.getpid()}"
    for d in (live, stale, building):
        d.mkdir()
    assert artifacts.clear_scratch_artifacts([corpus]) == [str(live)]
    assert stale.exists() and building.exists()


def test_memo_rebuilds_after_the_keyed_file_changes(tmp_path):
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    calls: list = []

    def build():
        calls.append(1)
        return len(calls)

    assert artifacts.memo(str(src), "t", build) == 1
    assert artifacts.memo(str(src), "t", build) == 1  # unchanged: memoized
    assert artifacts.memo(str(src), "other", build) == 2  # tags don't share
    src.write_bytes(b"v2 longer")
    assert artifacts.memo(str(src), "t", build) == 3


def _module_level_mtime_memos(tree: ast.Module) -> list[str]:
    """Names of module-level dicts that some function keys on st_mtime_ns."""
    dicts = set()
    for node in tree.body:
        targets = node.targets if isinstance(node, ast.Assign) else (
            [node.target] if isinstance(node, ast.AnnAssign) and node.value else []
        )
        if isinstance(getattr(node, "value", None), ast.Dict):
            dicts |= {t.id for t in targets if isinstance(t, ast.Name)}
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        names = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        if any(isinstance(n, ast.Attribute) and n.attr == "st_mtime_ns" for n in ast.walk(fn)):
            found += sorted(names & dicts)
    return found


def test_one_commit_site_and_one_memo():
    """Only artifacts.py builds into ``<path>.build.<pid>`` dirs, commits
    them, or keeps a module-level memo dict keyed on a file's mtime."""
    pkg = pathlib.Path(artifacts.__file__).parent
    offenders = []
    for f in sorted(pkg.rglob("*.py")):
        if f.name == "artifacts.py":
            continue
        text = f.read_text()
        if ".build.{" in text or "_commit_scratch_build" in text:
            offenders.append(f"{f.relative_to(pkg)}: inline build/commit")
        offenders += [
            f"{f.relative_to(pkg)}: {name} memo keyed on st_mtime_ns"
            for name in _module_level_mtime_memos(ast.parse(text))
        ]
    assert not offenders, offenders
