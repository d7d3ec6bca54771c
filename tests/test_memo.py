"""The session-scoped memo (futures_eos_cdc_spark/memo.py): its keying,
purge and cap contract, and that every trained artifact builds once per
session and fixture content — a key that missed by mistake would retrain
silently on every query construction (and inflate bench warm times)."""

from __future__ import annotations

import os
import shutil
from collections import OrderedDict
from pathlib import Path
from types import SimpleNamespace

import pytest

import futures_eos_cdc_spark
from futures_eos_cdc_spark import memo as memo_mod
from futures_eos_cdc_spark.memo import CAP, entries, memo, stats


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def isolated_memo(monkeypatch):
    """A private entry table, so these cases never evict the live
    session's artifacts."""
    monkeypatch.setattr(memo_mod, "_ENTRIES", OrderedDict())
    monkeypatch.setattr(memo_mod, "_COUNTS", {})


def test_memo_builds_once_then_hits(isolated_memo):
    builds = []
    for _ in range(3):
        got = memo(_app("a"), ("unit", 1), lambda: builds.append(1) or "v")
    assert got == "v" and len(builds) == 1
    assert stats("unit") == (2, 1)


def test_memo_miss_purges_other_applications(isolated_memo):
    memo(_app("a"), ("unit", 1), lambda: "old")
    memo(_app("a"), ("other", 1), lambda: "old")
    assert memo(_app("b"), ("unit", 1), lambda: "new") == "new"
    assert entries("unit") == ["new"] and entries("other") == []


def test_memo_caps_same_app_entries_lru(isolated_memo):
    for i in range(CAP):
        memo(_app("a"), ("unit", i), lambda i=i: i)
    memo(_app("a"), ("unit", 0), lambda: pytest.fail("must hit"))  # now newest
    memo(_app("a"), ("unit", CAP), lambda: CAP)  # evicts the oldest, 1
    assert len(entries("unit")) == CAP
    assert 0 in entries("unit") and 1 not in entries("unit")
    # the cap is per name: another artifact is unaffected
    memo(_app("a"), ("other", 0), lambda: "x")
    assert len(entries("unit")) == CAP and entries("other") == ["x"]


def test_memo_concurrent_callers_keep_counts_and_cap(isolated_memo):
    """Threads hammering one table: no lost count update, no iteration
    error from a concurrent purge, and the cap still holds."""
    import sys
    import threading

    calls, n_threads = 400, 8
    errors = []

    def worker(t: int):
        try:
            for i in range(calls):
                memo(_app(f"app{i % 2}"), ("unit", (t + i) % (CAP * 2)), lambda: i)
        except Exception as exc:  # noqa: BLE001 — surfaced by the assert
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(n_threads)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads) and errors == []
    assert sum(stats("unit")) == calls * n_threads
    assert len(entries("unit")) <= CAP


def test_application_id_read_only_in_memo():
    pkg = Path(futures_eos_cdc_spark.__file__).parent
    readers = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "applicationId" in p.read_text()
    )
    assert readers == ["memo.py"]


@pytest.mark.parametrize(
    "name, query, table",
    [
        ("ivf_centroids", "ann_cosine_ivf", "embeddings"),
        ("pq_model", "ann_cosine_ivf_pq", "embeddings"),
        ("bloom_prepared", "bloom_dedup_gate", "documents"),
        ("retrieval_bm25", "bm25_topk_retrieval", "documents"),
        ("retrieval_cand", "hybrid_rrf_retrieval", "documents"),
        ("bpe_v1k_merges", "bpe_token_counts_v1k", "documents"),
        ("unigram_pieces", "unigram_token_counts", "documents"),
        ("wordpiece_vocab", "wordpiece_token_counts", "documents"),
        ("langid_model", "langid_scores", "documents"),
    ],
)
def test_artifact_builds_once_per_fixture_content(
    spark, sf_dir, tmp_path, name, query, table
):
    """Constructing the query twice builds the artifact once, then hits;
    touching the fixture file it reads rebuilds it."""
    from futures_eos_cdc_spark.plans.registry import QUERIES

    # a private fixture copy: a key no earlier test can have built
    d = str(shutil.copytree(sf_dir, tmp_path / "sf"))
    before = stats(name)
    QUERIES[query](spark, d)
    QUERIES[query](spark, d)
    after = stats(name)
    assert (after.misses - before.misses, after.hits - before.hits) == (1, 1)

    path = os.path.join(d, f"{table}.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    QUERIES[query](spark, d)
    assert stats(name).misses == after.misses + 1
