"""Round-12 optimization tests: build-inclusive bench billing (r11
VERDICT #1) and the round's operator-internals changes."""

from __future__ import annotations

from snackfs_spark import memo
from tests.conftest import SF_ORACLE, stub_session


def test_memo_build_counter_bills_first_toucher_once(spark):
    """The shared-relation build counter advances exactly when a shared
    pipeline is CONSTRUCTED (cache miss) and never on a warm read — the
    property bench.py's first-toucher billing rests on."""
    from snackfs_spark.operators import dedup

    memo.clear_all_memos()
    pre = memo.build_count()
    dedup.distinct_shingles_df(spark, SF_ORACLE)
    mid = memo.build_count()
    assert mid > pre, "first toucher must register >= 1 memo build"
    dedup.distinct_shingles_df(spark, SF_ORACLE)
    assert memo.build_count() == mid, "warm read must bill zero builds"


def test_memo_materialize_policy(spark, tmp_path, monkeypatch):
    """SNACKFS_MEMO_MATERIALIZE selects how corpus-proportional shared
    relations materialize (r11 VERDICT #3): local (default), reliable
    (durable checkpoint dir), none (keep lineage). All value-identical."""
    import pytest

    df = spark.range(10).withColumnRenamed("id", "x")
    monkeypatch.delenv("SNACKFS_MEMO_MATERIALIZE", raising=False)
    out_local = memo.materialize_shared(df, spark)
    assert sorted(r.x for r in out_local.collect()) == list(range(10))

    monkeypatch.setenv("SNACKFS_MEMO_MATERIALIZE", "none")
    assert memo.materialize_shared(df, spark) is df

    monkeypatch.setenv("SNACKFS_MEMO_MATERIALIZE", "reliable")
    monkeypatch.delenv("SNACKFS_CHECKPOINT_DIR", raising=False)
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty()
    # no checkpoint dir anywhere: fail at the call, naming both remedies,
    # not at the first action with an opaque SparkException
    with pytest.raises(ValueError, match="SNACKFS_CHECKPOINT_DIR.*setCheckpointDir"):
        memo.materialize_shared(df, spark)

    monkeypatch.setenv("SNACKFS_CHECKPOINT_DIR", str(tmp_path / "ck"))
    out_rel = memo.materialize_shared(df, spark)
    assert sorted(r.x for r in out_rel.collect()) == list(range(10))
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

    monkeypatch.setenv("SNACKFS_MEMO_MATERIALIZE", "bogus")
    with pytest.raises(ValueError):
        memo.materialize_shared(df, spark)


@memo.shared
def _probe_a(spark, sf_dir):
    return object()


@memo.shared
def _probe_b(spark, sf_dir):
    return object()


def test_build_counter_is_monotone_and_clear_safe():
    """clear_all_memos drops cached pipelines but never rewinds the
    build counter (a rewind would let a bench rep un-bill a build)."""
    s = stub_session("monotone")
    memo.relation(f"{__name__}._probe_a").clear()
    pre = memo.build_count()
    _probe_a(s, "k1")
    assert memo.build_count() == pre + 1
    _probe_a(s, "k1")
    assert memo.build_count() == pre + 1
    memo.clear_all_memos()
    assert memo.build_count() == pre + 1
    _probe_a(s, "k1")
    assert memo.build_count() == pre + 2


def test_build_counter_exact_under_concurrent_first_builds():
    """Eight threads first-build two DIFFERENT relations at once: the
    per-relation locks do not serialize them, so the counter needs its
    own lock — a lost update would un-bill a build in bench.py."""
    import sys
    import threading

    s = stub_session("concurrent")
    memo.relation(f"{__name__}._probe_a").clear()
    memo.relation(f"{__name__}._probe_b").clear()
    barrier = threading.Barrier(8)

    def worker(i):
        barrier.wait()
        (_probe_a if i % 2 else _probe_b)(s, "k")

    pre = memo.build_count()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert memo.build_count() == pre + 2


def test_nested_shared_build_completes(spark):
    """A shared build that calls another shared relation (the PCA
    iterate reads the quantized corpus) must not deadlock, and bills
    exactly its two builds."""
    import threading

    from snackfs_spark.operators import clustering as cl

    for fn in (cl._pca_iterate_df, cl._pca_xq_df):
        memo.relation(f"{fn.__module__}.{fn.__qualname__}").clear()
    pre = memo.build_count()
    out = []
    t = threading.Thread(
        target=lambda: out.append(cl._pca_iterate_df(spark, SF_ORACLE)),
        daemon=True,
    )
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "nested shared build deadlocked"
    assert len(out) == 1
    assert memo.build_count() == pre + 2
