from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def stub_session(app_id: str) -> SimpleNamespace:
    """Just enough of a SparkSession for a memo.shared key (no JVM)."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

# ---------------------------------------------------------------------------
# Testdata dtype contract (r4 VERDICT #7). The driver regenerates
# /root/testdata between rounds and has re-encoded columns before
# (r03: events.ts flipped TIMESTAMP(NANOS)-as-bigint -> micros, silently
# reddening a driver row the repo could not have caught locally). This
# probe runs once per session, before any Spark test, and fails every
# test fast with an explicit message if the on-disk dtypes drift outside
# what the loaders normalize: events.ts goes through the one rule in
# sources/tables.read_events, which the batch loader (_read_raw) and the
# stream (streaming.ingest.stream_events) both call.
# ---------------------------------------------------------------------------

# column -> set of acceptable pyarrow type strings. Only columns the
# loaders/oracles depend on for ENCODING (not mere presence) are listed
# with alternatives; the rest pin the single type every oracle assumes.
_EXPECTED = {
    "region": {"r_regionkey": {"int32", "int64"}, "r_name": {"string", "large_string"}},
    "nation": {"n_nationkey": {"int32", "int64"}, "n_regionkey": {"int32", "int64"}},
    "customer": {"c_custkey": {"int64"}, "c_acctbal": {"double"}},
    "supplier": {"s_suppkey": {"int64"}, "s_acctbal": {"double"}},
    "part": {"p_partkey": {"int64"}, "p_retailprice": {"double"}, "p_size": {"int32", "int64"}},
    "orders": {
        "o_orderkey": {"int64"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp[us]", "timestamp[ns]", "timestamp[us, tz=UTC]"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_shipdate": {"timestamp[us]", "timestamp[ns]", "timestamp[us, tz=UTC]"},
    },
    "events": {
        "event_id": {"int64"},
        # the two encodings read_events normalizes + the tz'd variant
        "ts": {"timestamp[us]", "timestamp[ns]", "timestamp[us, tz=UTC]", "int64"},
        "value": {"double"},
    },
    "documents": {"doc_id": {"int64"}, "text": {"string", "large_string"}},
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>"},
    },
}


def _probe_testdata_contract() -> list[str]:
    import pyarrow.parquet as pq

    problems = []
    for sf in (SF_SMALL, SF_ORACLE):
        if not Path(sf).is_dir():
            problems.append(f"{sf}: missing testdata directory")
            continue
        for table, cols in _EXPECTED.items():
            path = Path(sf) / f"{table}.parquet"
            if not path.exists():
                problems.append(f"{path}: missing table file")
                continue
            schema = pq.read_schema(path)
            actual = {f.name: str(f.type) for f in schema}
            for col, ok_types in cols.items():
                got = actual.get(col)
                if got is None:
                    problems.append(f"{path}: column {col!r} disappeared")
                elif got not in ok_types:
                    problems.append(
                        f"{path}: {col} is {got!r}, loaders expect one of "
                        f"{sorted(ok_types)} — driver testdata encoding "
                        "drifted; update the normalization in "
                        "sources/tables.read_events"
                    )
    return problems


@pytest.fixture(scope="session", autouse=True)
def testdata_dtype_contract():
    """Fail the whole session fast if /root/testdata dtypes drift."""
    problems = _probe_testdata_contract()
    if problems:
        pytest.fail(
            "TESTDATA DTYPE CONTRACT VIOLATION (r03-style drift):\n  "
            + "\n  ".join(problems),
            pytrace=False,
        )


@pytest.fixture(scope="session", autouse=True)
def work_root(tmp_path_factory):
    """Every on-disk cache the tests build (split copies, the connector
    store, the interchange shards, the warehouse) goes to a session temp
    dir named ``var``, like the real root, so the redirect test still
    sees ``/var/ingest``; the repo's own ``var/`` is never written."""
    from snackfs_spark import workdir

    mp = pytest.MonkeyPatch()
    mp.setattr(workdir, "ROOT", str(tmp_path_factory.mktemp("work") / "var"))
    yield
    mp.undo()


@pytest.fixture(scope="session")
def spark():
    from snackfs_spark.session import get_spark

    s = get_spark("snackfs_spark_tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    from tests.oracle_harness import duckdb_connection

    con = duckdb_connection(SF_ORACLE)
    yield con
    con.close()
