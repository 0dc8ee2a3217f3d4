"""memo.session_memo, the one per-application cache of the engine.

These tests submit no Spark job: a stub stands in for the session (only
sparkContext.applicationId is read) and builds are fakes that record
their calls.
"""

from __future__ import annotations

import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from types import SimpleNamespace

import pytest

from gmallbiguan_parent_spark import memo

PKG = Path(memo.__file__).parent

# stub applications would otherwise drop the Spark-backed tests' entries
pytestmark = pytest.mark.usefixtures("isolated_memo")


class _Session:
    def __init__(self, app: str) -> None:
        self.sparkContext = SimpleNamespace(applicationId=app)


def _counting(value):
    calls = []

    def build():
        calls.append(1)
        return value

    return build, calls


def test_new_application_clears_every_name():
    a, b = _Session("app-a"), _Session("app-b")
    names = ("simhash_fp", "pq_codebooks", "index_root", "parquet_schema")
    for n in names:
        memo.session_memo(a, n, "/c1", lambda: "old")
    assert all(memo.entries(n) for n in names)
    build, calls = _counting("new")
    assert memo.session_memo(b, "simhash_fp", "/c1", build) == "new"
    assert calls == [1], "an entry of a dead application was served"
    assert memo.entries("simhash_fp") == {"/c1": (None, "new")}
    for n in names[1:]:
        assert memo.entries(n) == {}, f"{n} survived the application change"


def test_build_outliving_its_application_is_not_stored():
    a, b = _Session("app-a"), _Session("app-b")

    def build_under_a():
        memo.session_memo(b, "emb_count", "/c1", lambda: "b")  # a restart mid-build
        return "a"

    assert memo.session_memo(a, "emb_count", "/c2", build_under_a) == "a"
    assert memo.entries("emb_count") == {"/c1": (None, "b")}


def test_version_supersedes_and_slots_coexist():
    s = _Session("app")
    build, calls = _counting("x")
    memo.session_memo(s, "knn_slim", ("/c1", "live"), build, version="live")
    memo.session_memo(s, "knn_slim", ("/c1", "store"), build, version="store:/r:10")
    memo.session_memo(s, "knn_slim", ("/c2", "store"), build, version="store:/r:10")
    memo.session_memo(s, "knn_slim", ("/c1", "store"), build, version="store:/r:10")
    assert len(calls) == 3, "a same-version call must hit"
    memo.session_memo(s, "knn_slim", ("/c1", "store"), build, version="store:/r:11")
    assert len(calls) == 4
    assert {k: v for k, (v, _) in memo.entries("knn_slim").items()} == {
        ("/c1", "live"): "live",
        ("/c1", "store"): "store:/r:11",
        ("/c2", "store"): "store:/r:10",
    }


def test_invalid_entry_is_rebuilt():
    s = _Session("app")
    gone: set[str] = set()
    seq = iter(["stage-1", "stage-2"])

    def get():
        return memo.session_memo(
            s, "sentinel_stage", ("/c1", 60), lambda: next(seq),
            valid=lambda stage: stage not in gone,
        )

    assert get() == "stage-1"
    assert get() == "stage-1"
    gone.add("stage-1")
    assert get() == "stage-2"
    assert memo.entries("sentinel_stage") == {("/c1", 60): (None, "stage-2")}


def test_clear_one_name_or_all():
    s = _Session("app")
    memo.session_memo(s, "index_root", ("/c1", "full"), lambda: "/r1")
    memo.session_memo(s, "fresh", ("/r1", "docs"), lambda: True, version=("documents", ()))
    memo.clear("index_root")
    assert memo.entries("index_root") == {}
    assert memo.entries("fresh")
    memo.clear()
    assert memo.entries("fresh") == {}


def test_failed_build_stores_nothing():
    s = _Session("app")

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        memo.session_memo(s, "pca_cov", "/c1", boom)
    assert memo.entries("pca_cov") == {}


def test_lru_bound_across_three_corpora(monkeypatch):
    """One session working through three corpora, every per-corpus memo
    plus a schema per table: the total stays at the bound, the oldest
    corpus goes first, and a hit keeps an entry young."""
    monkeypatch.setattr(memo, "MAX_ENTRIES", 16)
    s = _Session("app")
    names = ("shingle_sets", "simhash_fp", "ivf_centroids", "srp_sigs", "bpe_train")
    tables = ("documents", "embeddings", "lineitem")

    def total() -> int:
        return sum(len(memo.entries(n)) for n in (*names, "parquet_schema"))

    for corpus in ("/c1", "/c2", "/c3"):
        for n in names:
            memo.session_memo(s, n, corpus, lambda: object())
        for t in tables:
            memo.session_memo(
                s, "parquet_schema", (f"{corpus}/{t}.parquet", ("true", "false")),
                lambda: "schema", version=((f"{corpus}/{t}.parquet", 1, 1),),
            )
        # the first corpus's shingle sets stay in use the whole session
        memo.session_memo(s, "shingle_sets", "/c1", lambda: pytest.fail("evicted"))
        assert total() <= memo.MAX_ENTRIES
    assert total() == memo.MAX_ENTRIES
    assert "/c1" in memo.entries("shingle_sets")
    assert "/c1" not in memo.entries("simhash_fp")
    assert all("/c3" in memo.entries(n) for n in names)


def test_concurrent_callers_never_see_a_torn_entry(monkeypatch):
    """12 threads over 6 slots and 3 versions, with a bound below the
    slot count and a short switch interval: every call returns the
    value built for its own (slot, version), and the bound holds."""
    monkeypatch.setattr(memo, "MAX_ENTRIES", 4)
    s = _Session("app")
    errors: list[str] = []
    lock = threading.Lock()

    def call(j: int) -> None:
        key, version = f"/c{j % 6}", j % 3
        got = memo.session_memo(
            s, "emb_count", key, lambda: (key, version), version=version
        )
        if got != (key, version):
            with lock:
                errors.append(f"{key} v{version} got {got}")
        if len(memo.entries("emb_count")) > memo.MAX_ENTRIES:
            with lock:
                errors.append("bound exceeded")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=12) as pool:
            for f in [pool.submit(call, j) for j in range(600)]:
                f.result(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert len(memo.entries("emb_count")) <= memo.MAX_ENTRIES


def test_no_hand_rolled_session_caches():
    """Every per-application cache goes through memo.py: no module-level
    _*_CACHE dict, no dead-application eviction loop, and no
    applicationId read outside memo.py (cdc.py only names its views
    after it)."""
    cache_dict = re.compile(r"^_[A-Z_]*_CACHE\b.*[:=]", re.M)
    dead_app_loop = re.compile(r"\bk\[0\] != \w+\[0\]")
    found = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        rel = path.relative_to(PKG).as_posix()
        found += [f"{rel}: {m.group(0)}" for m in cache_dict.finditer(src)]
        found += [f"{rel}: {m.group(0)}" for m in dead_app_loop.finditer(src)]
        if "applicationId" in src and rel not in ("memo.py", "pipelines/cdc.py"):
            found.append(f"{rel}: applicationId")
    assert found == []
