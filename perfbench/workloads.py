"""One benchmark workload, run in a fresh process by ``perfbench/run.py``.

The process sets the program up (a fresh Spark session, for
``analytics`` a cold ingest re-layout, the fs-model views, for ``fs``
the snackstore connector's first use), runs
the workload as a single-client closed loop for ``--seconds``,
checks every answer it timed against DuckDB outside the timed region,
and writes one result record as JSON to ``--result``.

Every timed call goes through the program's public functions and runs
under ``setJobGroup(<workload>.<op>)``. Nothing in the package changes:
the settings below (scratch directories, event log) are applied on top
of ``session.get_spark``'s own, and the package's fixed ingest directory
is redirected into the benchmark's work directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
DATA = HERE / "data" / "sf0.1"
ZIPF_S = 1.1
HOT_SET = 50  # the 50 most likely paths: 1% of the 5,000 files
STORE_BUCKETS = 8

if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# The analytics mix: registered queries with DuckDB oracles, one or more
# per operator module. The first five are first touchers of shared
# relations (SessionMemo builds), so the cold pass pays those builds.
# Left out: queries that persist output across processes
# (corpus_*_roundtrip, fs_connector_roundtrip, fs_ls_limited), the
# streaming module, and, to keep a run within its time budget, the
# costliest builds (dedup_prefix_filter, eval_retrieval_ranks) and the
# runtime_filter module (rel_bloom_runtime_filter).
ANALYTICS_MIX = (
    "graph_label_propagation",  # MinHash-LSH candidate graph + LPA labels
    "text_bigram_prob",  # bigram score relation
    "emb_pca_power_iteration",  # PCA projection relations
    "train_preference_pairs",  # ranked preference relation
    "approx_distinct_hll",  # HLL registers, type-user pairs
    "dedup_exact",
    "events_markov_transitions",
    "ann_bruteforce_topk",
    "fs_content",
    "fs_lock_arbitration",
    "fs_lsr",
    "fs_block_locations",
    "layout_range_partition_plan",
    "multimodal_frame_sample",
    "string_function_battery",
)

SHELL_CLASSES = {
    "point": ("stat", "test_predicates"),
    "list": ("ls", "lsr", "ls_glob", "du", "dus", "count"),
    "read": ("open", "read_range", "tail"),
}
# 18 catalog calls: classes in rotation, verbs in rotation within each
# class. Runs stop at a cycle boundary, so every run times the same mix.
SHELL_CYCLE = tuple(
    (cls, SHELL_CLASSES[cls][(i // 3) % len(SHELL_CLASSES[cls])])
    for i, cls in zip(range(18), ("point", "list", "read") * 6)
)
# The filesystem client's loop: after every three catalog calls, one
# store read (two point reads, then a listing, twice): 24 calls.
STORE_CYCLE = ("point", "point", "list") * 2
FS_CYCLE = tuple(
    step
    for k in range(6)
    for step in (*(("shell", *SHELL_CYCLE[3 * k + j]) for j in range(3)),
                 ("store", STORE_CYCLE[k], STORE_CYCLE[k]))
)

# DuckDB answers for each shell verb, over the fs-model relations built
# from fsmodel.fs_sql (tables f_files / f_content).
SUBTREE = "(starts_with(path, $p || '/') OR path = $p)"
FILE_TEXT = (
    "SELECT path, string_agg(payload, '' ORDER BY sub_offset) AS t "
    "FROM f_content WHERE path = $p GROUP BY path"
)
SHELL_ORACLE = {
    "stat": "SELECT path, is_dir, size, owner, grp, permission, mtime FROM f_files WHERE path = $p",
    "test_predicates": (
        "SELECT count(*) > 0 AS exists_flag, "
        "coalesce(max(CASE WHEN size = 0 THEN 1 ELSE 0 END), 0) = 1 AS is_zero, "
        "coalesce(max(CASE WHEN is_dir THEN 1 ELSE 0 END), 0) = 1 AS is_directory "
        "FROM f_files WHERE path = $p"
    ),
    "ls": "SELECT path, name, is_dir, size FROM f_files WHERE parent_path = $p",
    "lsr": f"SELECT path, is_dir, size FROM f_files WHERE {SUBTREE}",
    "ls_glob": "SELECT path, name, is_dir, size FROM f_files WHERE parent_path = $p AND name LIKE $like",
    "du": (
        "SELECT split_part(path, '/', $depth + 1) AS child, sum(size) AS bytes "
        "FROM f_files WHERE starts_with(path, $p || '/') AND NOT is_dir GROUP BY 1"
    ),
    "dus": f"SELECT sum(size) AS bytes, count(*) AS files FROM f_files WHERE {SUBTREE} AND NOT is_dir",
    "count": (
        "SELECT sum(CASE WHEN is_dir THEN 1 ELSE 0 END) AS dir_count, "
        "sum(CASE WHEN is_dir THEN 0 ELSE 1 END) AS file_count, "
        "sum(CASE WHEN is_dir THEN 0 ELSE size END) AS content_size "
        f"FROM f_files WHERE {SUBTREE}"
    ),
    "open": f"SELECT coalesce(max(t), '') AS text FROM ({FILE_TEXT})",
    "read_range": (
        f"SELECT path, substr(t, $lo + 1, $len) AS data FROM ({FILE_TEXT}) "
        "WHERE length(substr(t, $lo + 1, $len)) > 0"
    ),
    "tail": f"SELECT path, substr(t, greatest(length(t) - $n, 0) + 1) AS tail_text FROM ({FILE_TEXT})",
}


# ------------------------------------------------------------ timing ----


def stolen_s() -> float:
    """Seconds the hypervisor has stolen from this process's CPUs since
    boot, averaged over those CPUs (0 where the kernel reports no steal).

    On a shared virtual host, steal is the largest source of run-to-run
    spread: a thread on any of these CPUs loses about this share of its
    wall time, whether one or all of them are busy. So each end-to-end
    time is reported net of the steal measured over its own interval."""
    cpus = {f"cpu{c}" for c in os.sched_getaffinity(0)}
    ticks = 0
    with open("/proc/stat") as f:
        for line in f:
            fields = line.split()
            if fields[0] in cpus and len(fields) > 8:
                ticks += int(fields[8])
    return ticks / len(cpus) / os.sysconf("SC_CLK_TCK")


@dataclass
class Timing:
    define_s: float
    plan_s: float
    exec_s: float
    tasks: int
    steal_s: float = 0.0

    @property
    def total_s(self) -> float:
        return self.define_s + self.plan_s + self.exec_s

    @property
    def net_s(self) -> float:
        """Wall time less the time stolen from this process's CPUs."""
        return self.total_s - self.steal_s


class Ops:
    """Times calls into one layer, each under the Spark job group
    ``<workload>.<op>``, and counts the tasks the call ran."""

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.workload = workload
        self.groups: dict[str, str] = {}  # job group -> layer

    def run(self, op: str, layer: str, define, execute) -> tuple[Timing, object]:
        """``define()`` builds a DataFrame (or returns None for verbs that
        only return a value); its physical plan is forced before
        ``execute(df)`` runs it."""
        group = f"{self.workload}.{op}"
        self.groups[group] = layer
        self.sc.setJobGroup(group, group)
        tracker = self.sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(group))
        s0 = stolen_s()
        t0 = time.perf_counter()
        df = define()
        t1 = time.perf_counter()
        if df is not None:
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        out = execute(df)
        t3 = time.perf_counter()
        s1 = stolen_s()
        # Task counts come from the status store, which the listener bus
        # fills asynchronously: drain it (outside the timed region).
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tasks = 0
        for job in set(tracker.getJobIdsForGroup(group)) - before:
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                sinfo = tracker.getStageInfo(stage)
                tasks += sinfo.numCompletedTasks if sinfo else 0
        return Timing(t1 - t0, t2 - t1, t3 - t2, tasks, s1 - s0), out


@dataclass
class Outcome:
    """What a workload hands back: its end-to-end and per-layer numbers
    and the count of operations attempted and failed."""

    cold: list[Timing] = field(default_factory=list)  # the cold pass's calls
    warm: list[Timing] = field(default_factory=list)  # the warm loop's (analytics: each query's best)
    per_layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


# --------------------------------------------------------- the program ----


class Program:
    """The program under test, driven through its public functions with
    the benchmark's own scratch settings applied."""

    def __init__(self, work: Path, cpus: int):
        self.work = work
        self.cpus = cpus
        self.sf_dir = str(DATA)
        self.eventlog = work / "eventlog"
        self.settings = {
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.local.dir": str(work / "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.ingest_root = work / "ingest"
        self.hosts: list[str] = []
        self._hook_session_builder()
        self._redirect_ingest()

    def _hook_session_builder(self) -> None:
        from pyspark.sql import SparkSession

        create = SparkSession.Builder.getOrCreate
        settings = self.settings

        def get_or_create(builder):
            builder._options.update(settings)
            return create(builder)

        SparkSession.Builder.getOrCreate = get_or_create

    def _redirect_ingest(self) -> None:
        """``tables.build_ingest_cache`` writes under a fixed ``var/ingest``
        directory of the source tree and reuses it across processes. Point
        it at a fresh directory of the benchmark's instead, so every setup
        pays a cold ingest."""
        from snackfs_spark.sources import tables

        program = self

        class _Path:
            def __getattr__(self, name):
                return getattr(os.path, name)

            @staticmethod
            def join(first, *rest):
                if first.rstrip("/").endswith("/var/ingest"):
                    first = str(program.ingest_root)
                return os.path.join(first, *rest)

        class _Os:
            path = _Path()

            def __getattr__(self, name):
                return getattr(os, name)

        tables.os = _Os()

    def setup(self, workload: str, traced: bool):
        """The set-up this process pays once: JVM start and session,
        registry, for ``analytics`` a cold ingest re-layout, the fs-model
        views, and for ``fs`` the connector's first use. Returns
        (spark, registry, per-step seconds)."""
        from snackfs_spark import registry, session
        from snackfs_spark.sources import fsmodel, tables

        self.settings["spark.eventLog.enabled"] = str(traced).lower()
        if traced:
            self.eventlog.mkdir(parents=True, exist_ok=True)
            self.settings.update({
                "spark.eventLog.dir": str(self.eventlog),
                "spark.eventLog.compress": "false",
            })
        steps: dict[str, float] = {}
        s0 = stolen_s()
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        reg = registry.load_all()
        t2 = time.perf_counter()
        steps["session.get_spark_s"] = t1 - t0
        steps["registry.load_all_s"] = t2 - t1
        sc = spark.sparkContext
        if workload == "analytics":
            sc.setJobGroup("setup.ingest", "setup.ingest")
            t3 = time.perf_counter()
            tables.build_ingest_cache(spark, self.sf_dir)
            steps["tables.build_ingest_cache_s"] = time.perf_counter() - t3
        sc.setJobGroup("setup.views", "setup.views")
        t4 = time.perf_counter()
        fsmodel.files_df(spark, self.sf_dir).count()
        content_rows = fsmodel.content_df(spark, self.sf_dir).count()
        if workload == "analytics":  # the lock relation serves analytics queries only
            fsmodel.locks_df(spark, self.sf_dir).count()
        steps["fsmodel.views_s"] = time.perf_counter() - t4
        steps["fsmodel.content_rows"] = content_rows
        if workload == "fs":
            sc.setJobGroup("setup.connector", "setup.connector")
            self.hosts = open_connector(spark, self.sf_dir, self.work / "store-open")
        steps["setup_wall_s"] = time.perf_counter() - t0
        steps["setup_s"] = steps["setup_wall_s"] - (stolen_s() - s0)
        return spark, reg, steps


def ingest_written(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def oracle_db():
    """DuckDB over the same parquet files, with the fs-model relations
    materialized from their oracle CTEs."""
    from snackfs_spark.sources import fsmodel
    from tests.oracle_harness import duckdb_connection

    con = duckdb_connection(str(DATA))
    con.execute("CREATE TABLE f_files AS " + fsmodel.fs_sql("SELECT * FROM files", "files"))
    con.execute("CREATE TABLE f_content AS " + fsmodel.fs_sql("SELECT * FROM content", "content"))
    return con


class OracleAnswers:
    """Canonical DuckDB answers of registry oracles, as
    ``tests/oracle_harness.py`` canonicalises them. An answer depends only
    on the oracle SQL and the fixed fixture, so it is kept under
    ``perfbench/.work/oracle`` keyed by a hash of both and reused by
    later runs in the same checkout."""

    def __init__(self):
        self.dir = HERE / ".work" / "oracle"
        self.dir.mkdir(parents=True, exist_ok=True)
        self.data_key = ",".join(f"{p.name}:{p.stat().st_size}" for p in sorted(DATA.iterdir()))
        self.con = None

    def answer(self, query) -> tuple[list[str], list[tuple]]:
        from tests.oracle_harness import canonical_rows

        key = hashlib.sha256((query.oracle + self.data_key).encode()).hexdigest()[:24]
        path = self.dir / f"{query.name}-{key}.json"
        if path.exists():
            cached = json.loads(path.read_text())
            return cached["columns"], [tuple(r) for r in cached["rows"]]
        if self.con is None:
            self.con = oracle_db()
        df = self.con.execute(query.oracle).fetchdf()
        columns, rows = sorted(df.columns), canonical_rows(df)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps({"columns": columns, "rows": rows}))
        tmp.replace(path)
        return columns, rows

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


class Zipf:
    """Seeded Zipf(s) draw over a fixed population; rank order is a seeded
    shuffle, so each seed has its own hot set."""

    def __init__(self, rng: random.Random, population: list[str], s: float = ZIPF_S):
        self.rng = rng
        self.ranked = sorted(population)
        rng.shuffle(self.ranked)
        cum, total = [], 0.0
        for k in range(1, len(self.ranked) + 1):
            total += 1.0 / k**s
            cum.append(total)
        self.cum = cum
        self.hot = set(self.ranked[:HOT_SET])

    def draw(self) -> str:
        return self.rng.choices(self.ranked, cum_weights=self.cum)[0]


# ---------------------------------------------------------- workloads ----


def module_layer(fn) -> str:
    """``operators.<module>`` for a registered query function."""
    return "operators." + fn.__module__.rsplit(".", 1)[-1]


def run_analytics(spark, reg, prog: Program, ops: Ops, rng: random.Random, seconds: float, _con) -> Outcome:
    from snackfs_spark import memo
    from tests.oracle_harness import canonical_rows

    sf_dir = prog.sf_dir
    out = Outcome()
    answers: list[tuple[str, object]] = []  # every timed result, checked after the loop

    def one_pass(order: list[str]) -> dict[str, Timing]:
        """Each query once. Its result is collected to pandas, the form the
        check reads, so every timed answer is also a checked answer."""
        times = {}
        for name in order:
            fn = reg[name].fn
            out.attempted += 1
            try:
                times[name], got = ops.run(name, module_layer(fn), lambda fn=fn: fn(spark, sf_dir),
                                           lambda df: df.toPandas())
            except Exception as exc:  # noqa: BLE001 - a failing query is a failed op
                out.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            answers.append((name, got))
        return times

    order = list(ANALYTICS_MIX)
    rng.shuffle(order)
    builds0 = memo.build_count()
    cold = {}
    for name in order:
        b = memo.build_count()
        cold.update(one_pass([name]))
        if memo.build_count() > b:
            out.info.setdefault("first_touchers", []).append(name)
    cold_builds = memo.build_count() - builds0
    out.cold = list(cold.values())

    # At least two warm passes, so that each query's warm time is the
    # best of two or more: a pass that a busy host slowed down is outvoted.
    warm_passes: list[dict[str, Timing]] = []
    builds1 = memo.build_count()
    loop_start = time.perf_counter()
    while len(warm_passes) < 2 or time.perf_counter() - loop_start < seconds:
        rng.shuffle(order)
        warm_passes.append(one_pass(order))
    by_query = {n: [p[n] for p in warm_passes if n in p] for n in ANALYTICS_MIX}
    out.warm = [min(ts, key=lambda t: t.net_s) for ts in by_query.values() if ts]

    first = warm_passes[0]
    layer = out.per_layer
    layer["memo.builds"] = cold_builds
    layer["memo.warm_builds"] = memo.build_count() - builds1
    layer["memo.first_touch_s"] = sum(
        cold[n].total_s - first[n].total_s
        for n in out.info.get("first_touchers", []) if n in cold and n in first
    )
    for name, t in first.items():
        module = module_layer(reg[name].fn)
        for key, v in (("define_s", t.define_s), ("plan_s", t.plan_s),
                       ("exec_s", t.exec_s), ("tasks", t.tasks)):
            layer[f"{module}.{key}"] = layer.get(f"{module}.{key}", 0) + v
    out.info["warm_passes"] = len(warm_passes)
    out.info["warm_by_query_net_s"] = {n: [round(t.net_s, 4) for t in ts] for n, ts in by_query.items()}
    out.info["cold_by_query_s"] = {n: round(t.total_s, 4) for n, t in cold.items()}

    # Checks, outside every timed region: each answer against its oracle.
    oracle = OracleAnswers()
    try:
        for name, got in answers:
            columns, rows = oracle.answer(reg[name])
            if sorted(got.columns) != columns:
                out.fail(f"{name}: columns {sorted(got.columns)} != oracle {columns}")
            elif canonical_rows(got) != rows:
                out.fail(f"{name}: values differ from the oracle ({len(got)} vs {len(rows)} rows)")
    finally:
        oracle.close()
    return out


def shell_calls(cat, verb: str, args: dict):
    """(define, execute) for one SnackCatalog verb; read verbs are
    filtered to the one path they target."""
    from pyspark.sql import functions as F

    p = args["p"]
    on_path = F.col("path") == p
    if verb == "open":
        return (lambda: None), (lambda _df: cat.open(p))
    build = {
        "stat": lambda: cat.stat(p),
        "test_predicates": lambda: cat.test_predicates(p),
        "ls": lambda: cat.ls(p),
        "lsr": lambda: cat.lsr(p),
        "ls_glob": lambda: cat.ls_glob(p, args.get("like", "")),
        "du": lambda: cat.du(p),
        "dus": lambda: cat.dus(p),
        "count": lambda: cat.count(p),
        "read_range": lambda: cat.read_range(args.get("lo", 0), args.get("len", 0)).filter(on_path),
        "tail": lambda: cat.tail(args.get("n", 0)).filter(on_path),
    }[verb]
    return build, (lambda df: (df.columns, df.collect()))


class Shell:
    """SnackCatalog verbs on Zipf-drawn paths. Every answer is kept and
    checked against DuckDB after the timed loop."""

    def __init__(self, spark, prog: Program, ops: Ops, rng: random.Random, con):
        from snackfs_spark.catalog import SnackCatalog

        self.cat = SnackCatalog(spark, prog.sf_dir)
        self.ops, self.rng, self.con = ops, rng, con
        files = [r[0] for r in con.execute("SELECT path FROM f_files WHERE NOT is_dir").fetchall()]
        dirs = [r[0] for r in con.execute(
            "SELECT path FROM f_files WHERE is_dir AND parent_path = '/data'").fetchall()]
        self.file_zipf, self.dir_zipf = Zipf(rng, files), Zipf(rng, dirs)
        self.calls: list[tuple[str, dict, object]] = []
        self.cold: dict[str, Timing] = {}
        self.by_class: dict[str, list[Timing]] = defaultdict(list)
        self.hot = self.file_calls = 0

    def _args(self, verb: str) -> dict:
        p = self.dir_zipf.draw() if verb in SHELL_CLASSES["list"] else self.file_zipf.draw()
        args = {"p": p}
        if verb == "ls_glob":
            args["like"] = f"doc_{self.rng.randint(1, 9)}%"
        elif verb == "du":
            args["depth"] = len([s for s in p.split("/") if s]) + 1
        elif verb == "read_range":
            args["lo"], args["len"] = self.rng.randrange(0, 400), self.rng.randrange(16, 256)
        elif verb == "tail":
            args["n"] = self.rng.randrange(1, 300)
        return args

    def _call(self, verb: str) -> Timing:
        args = self._args(verb)
        define, execute = shell_calls(self.cat, verb, args)
        t, result = self.ops.run(verb, "catalog", define, execute)
        self.calls.append((verb, args, result))
        return t

    def cold_pass(self) -> list[Timing]:
        """Every verb once, the first of its kind in the session."""
        self.cold = {v: self._call(v) for vs in SHELL_CLASSES.values() for v in vs}
        return list(self.cold.values())

    def warm(self, cls: str, verb: str) -> Timing:
        t = self._call(verb)
        self.by_class[cls].append(t)
        if cls != "list":
            self.file_calls += 1
            self.hot += self.calls[-1][1]["p"] in self.file_zipf.hot
        return t

    def report(self, out: "Outcome") -> None:
        layer = out.per_layer
        for cls, ts in self.by_class.items():
            layer[f"catalog.{cls}.define_ms"] = 1000 * statistics.median(t.define_s for t in ts)
            layer[f"catalog.{cls}.plan_ms"] = 1000 * statistics.median(t.plan_s for t in ts)
            layer[f"catalog.{cls}.exec_ms"] = 1000 * statistics.median(t.exec_s for t in ts)
            layer[f"catalog.{cls}.p50_ms"] = 1000 * statistics.median(t.total_s for t in ts)
            # from the cold pass, where each verb of the class ran once
            layer[f"catalog.{cls}.tasks_per_op"] = statistics.mean(
                self.cold[v].tasks for v in SHELL_CLASSES[cls])
        layer["catalog.hot_share"] = self.hot / max(self.file_calls, 1)
        out.info["catalog_calls_per_class"] = {c: len(ts) for c, ts in self.by_class.items()}

    def check(self, out: "Outcome") -> None:
        import pandas as pd

        from tests.oracle_harness import compare

        out.attempted += len(self.calls)
        for verb, args, result in self.calls:
            sql = SHELL_ORACLE[verb]
            expected = self.con.execute(sql, {k: v for k, v in args.items() if f"${k}" in sql}).fetchdf()
            if verb == "open":
                if result != expected["text"][0]:
                    out.fail(f"open {args['p']}: text differs")
                continue
            columns, rows = result
            problems = compare(pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns),
                               expected)
            if problems:
                out.fail(f"{verb} {args}: {problems[0][:300]}")


def store_stats(root: Path) -> dict[str, int]:
    blobs = fragments = allocated = 0
    for dirpath, _dirs, names in os.walk(root):
        allocated += os.stat(dirpath).st_blocks * 512
        for n in names:
            allocated += os.stat(os.path.join(dirpath, n)).st_blocks * 512
            blobs += n.startswith("sblock-")
            fragments += n.startswith("inodes-")
    return {"blob_files": blobs, "inode_fragments": fragments, "bytes_allocated": allocated}


def store_rows(spark, sf_dir: str):
    from snackfs_spark.sources import fsmodel

    return fsmodel.content_df(spark, sf_dir).select("path", "sub_offset", "length", "payload")


def write_store(df, root: Path, hosts: list[str]) -> None:
    (df.write.format("snackstore").option("store_dir", str(root)).option("buckets", STORE_BUCKETS)
     .option("hosts", ",".join(hosts)).mode("append").save())


def read_store(spark, root: Path, **options):
    r = spark.read.format("snackstore").option("store_dir", str(root))
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


def open_connector(spark, sf_dir: str, root: Path) -> list[str]:
    """Register the snackstore connector and use it once on a throwaway
    store (an 8-row write, a point read, a metadata listing); returns the
    ring's hosts. The connector's first use starts its Python workers and
    data-source planner, several seconds that every session pays once:
    they are set-up, not part of the first write of the real store."""
    from pyspark.sql import functions as F

    from snackfs_spark.sources import fsmodel, snackstore

    snackstore.register(spark)
    hosts = [r["host"] for r in fsmodel.ring_df(spark, sf_dir).orderBy("tok_start").collect()]
    write_store(store_rows(spark, sf_dir).limit(8), root, hosts)
    read_store(spark, root).filter(F.col("path") == "/data").collect()
    read_store(spark, root, columns="path,sub_offset,length").filter(
        F.col("path").startswith("/data/")).select("path").collect()
    shutil.rmtree(root)
    return hosts


class Store:
    """The snackstore connector over a fresh store of the benchmark's:
    one write of the documents content relation, a full scan that is
    reassembled per file, then Zipf point reads and metadata-only prefix
    listings. Every answer is checked against ``documents.text``."""

    def __init__(self, spark, prog: Program, ops: Ops, rng: random.Random, con):
        self.spark, self.prog, self.ops, self.con = spark, prog, ops, con
        self.root = prog.work / "store"
        shutil.rmtree(self.root, ignore_errors=True)
        self.texts = dict(con.execute(
            "SELECT '/data/' || source || '/doc_' || CAST(doc_id AS VARCHAR) || '.txt', text "
            "FROM documents").fetchall())
        self.user_bytes = sum(len(t.encode("utf-8")) for t in self.texts.values())
        dirs = sorted({p.rsplit("/", 1)[0] for p in self.texts})
        self.file_zipf, self.dir_zipf = Zipf(rng, list(self.texts)), Zipf(rng, dirs)
        self.points: list[tuple[str, list]] = []
        self.listings: list[tuple[str, list]] = []
        self.by_class: dict[str, list[Timing]] = defaultdict(list)

    def _reader(self, **options):
        return read_store(self.spark, self.root, **options)

    def cold_pass(self) -> list[Timing]:
        """Write the fresh store, then read all of it back."""
        self.write, _ = self.ops.run(
            "write", "snackstore",
            lambda: store_rows(self.spark, self.prog.sf_dir),
            lambda df: write_store(df, self.root, self.prog.hosts),
        )
        self.stats = store_stats(self.root)
        # Write back the ~25k new files now, not while the reads are timed.
        os.sync()
        self.scan, scanned = self.ops.run(
            "scan", "snackstore", lambda: self._reader().select("path", "sub_offset", "payload"),
            lambda df: df.collect())
        pieces: dict[str, list] = defaultdict(list)
        for path, off, payload in scanned:
            pieces[path].append((off, payload))
        self.reassembled = {p: "".join(s for _o, s in sorted(ch)) for p, ch in pieces.items()}
        return [self.write, self.scan]

    def warm(self, cls: str) -> Timing:
        from pyspark.sql import functions as F

        if cls == "point":
            p = self.file_zipf.draw()
            t, rows = self.ops.run("point", "snackstore",
                                   lambda: self._reader().filter(F.col("path") == p),
                                   lambda df: df.collect())
            self.points.append((p, rows))
        else:
            prefix = self.dir_zipf.draw() + "/"
            t, rows = self.ops.run(
                "list", "snackstore",
                lambda: self._reader(columns="path,sub_offset,length")
                .filter(F.col("path").startswith(prefix)).select("path", "sub_offset", "length"),
                lambda df: df.collect())
            self.listings.append((prefix, rows))
        self.by_class[cls].append(t)
        return t

    def report(self, out: "Outcome") -> None:
        layer, mb = out.per_layer, self.user_bytes / 1e6
        layer["snackstore.write_s"] = self.write.total_s
        layer["snackstore.write_mb_s"] = mb / self.write.total_s
        layer["snackstore.bytes_per_user_byte"] = self.stats["bytes_allocated"] / self.user_bytes
        for k, v in self.stats.items():
            layer[f"snackstore.{k}"] = v
        for cls, ts in self.by_class.items():
            layer[f"snackstore.{cls}.plan_ms"] = 1000 * statistics.median(t.plan_s for t in ts)
            layer[f"snackstore.{cls}.exec_ms"] = 1000 * statistics.median(t.exec_s for t in ts)
            layer[f"snackstore.{cls}.p50_ms"] = 1000 * statistics.median(t.total_s for t in ts)
            layer[f"snackstore.{cls}.tasks_per_op"] = statistics.mean(t.tasks for t in ts)
        layer["snackstore.scan_s"] = self.scan.total_s
        layer["snackstore.scan_mb_s"] = mb / self.scan.total_s
        out.info["user_bytes"] = self.user_bytes
        out.info["store_calls_per_class"] = {c: len(ts) for c, ts in self.by_class.items()}

    def check(self, out: "Outcome") -> None:
        out.attempted += 2 + len(self.points) + len(self.listings)
        for p, rows in self.points:
            got = "".join(r["payload"] for r in sorted(rows, key=lambda r: r["sub_offset"]))
            if got.encode("utf-8") != self.texts[p].encode("utf-8") or any(
                    r["length"] != len(r["payload"]) for r in rows):
                out.fail(f"point {p}: payload differs")
        for prefix, rows in self.listings:
            want = self.con.execute(
                "SELECT path, sub_offset, length FROM f_content WHERE starts_with(path, $p)",
                {"p": prefix}).fetchall()
            if sorted(tuple(r) for r in rows) != sorted(want):
                out.fail(f"list {prefix}: {len(rows)} rows, expected {len(want)}")
        expected = {p: t for p, t in self.texts.items() if t}
        if len(self.reassembled) != len(expected) or any(
                self.reassembled.get(p, "").encode("utf-8") != t.encode("utf-8")
                for p, t in expected.items()):
            out.fail("scan: reassembled store differs from documents.text")


def run_fs(spark, reg, prog: Program, ops: Ops, rng: random.Random, seconds: float, con) -> Outcome:
    """A filesystem client: SnackCatalog verbs and snackstore reads in one
    closed loop, after a cold pass of each."""
    shell = Shell(spark, prog, ops, rng, con)
    store = Store(spark, prog, ops, rng, con)
    out = Outcome()
    out.cold = shell.cold_pass() + store.cold_pass()
    loop_start = time.perf_counter()
    i = 0
    while i % len(FS_CYCLE) or time.perf_counter() - loop_start < seconds:
        client, cls, verb = FS_CYCLE[i % len(FS_CYCLE)]
        out.warm.append(shell.warm(cls, verb) if client == "shell" else store.warm(cls))
        i += 1
    for client in (shell, store):
        client.report(out)
        client.check(out)
    return out


# --------------------------------------------------------------- main ----


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=("analytics", "fs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--result", required=True, type=Path)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()

    rng = random.Random(args.seed)
    prog = Program(args.work, args.cpus)
    con = oracle_db() if args.workload == "fs" else None

    # A traced run turns the event log on from the start, so the set-up
    # layers are traced too; after the workload it times the same probe
    # here and in a new untraced session, for the tracing overhead.
    traced = bool(args.trace)
    spark, reg, setup = prog.setup(args.workload, traced)
    if args.workload == "analytics":
        setup["tables.ingest_files_written"], setup["tables.ingest_bytes_written"] = (
            ingest_written(prog.ingest_root))

    ops = Ops(spark, args.workload)
    run = {"analytics": run_analytics, "fs": run_fs}[args.workload]
    out = run(spark, reg, prog, ops, rng, args.seconds, con)
    java = spark.sparkContext._jvm.System.getProperty("java.version")
    if traced:
        probe_traced = trace_probe(spark)
        spark.stop()
        prog.settings["spark.eventLog.enabled"] = "false"
        from snackfs_spark import session

        spark = session.get_spark("perfbench", cpus=prog.cpus)
        probe_untraced = trace_probe(spark)
    spark.stop()
    if con is not None:
        con.close()

    per_layer = {**out.per_layer, **setup}
    del per_layer["setup_s"], per_layer["setup_wall_s"]
    if traced:
        from eventlog import parse, summarize

        groups = {"setup.ingest": "tables", "setup.views": "fsmodel",
                  "setup.connector": "snackstore", **ops.groups}
        per_layer.update(summarize(prog.eventlog, groups))
        out.info["eventlog_groups"] = {
            g: {k: v for k, v in m.items() if not k.startswith("_")}
            for g, m in parse(prog.eventlog).items()}
        per_layer["trace.overhead_pct"] = 100 * (probe_traced / probe_untraced - 1)

    warm_net = [t.net_s for t in out.warm]
    record = {
        "end_to_end": {
            "setup_s": setup["setup_s"],
            "cold_s": sum(t.net_s for t in out.cold),
            "warm_ops_per_s": len(warm_net) / sum(warm_net),
        },
        "wall": {
            "setup_s": setup["setup_wall_s"],
            "cold_s": sum(t.total_s for t in out.cold),
            "warm_ops_per_s": len(out.warm) / sum(t.total_s for t in out.warm),
        },
        "per_layer": per_layer,
        "attempted": out.attempted,
        "failed": out.failed,
        "problems": out.problems,
        "samples": {"warm_ops": len(warm_net), "warm_net_s": [round(x, 4) for x in warm_net]},
        "info": out.info,
        "java": java,
    }
    args.result.write_text(json.dumps(record, indent=1, sort_keys=True))
    return 0


def trace_probe(spark, rounds: int = 4) -> float:
    """Seconds for ten small two-stage jobs, the best of ``rounds``
    rounds so that JIT warm-up drops out. Timed in a traced and in an
    untraced session, it gives the tracing overhead."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000, numPartitions=8).groupBy((F.col("id") % 16).alias("k")).count()
    spark.sparkContext.setJobGroup("trace.probe", "trace.probe")
    best = float("inf")
    for _ in range(rounds):
        start = time.perf_counter()
        for _ in range(10):
            df.collect()
        best = min(best, time.perf_counter() - start)
    return best


if __name__ == "__main__":
    sys.exit(main())
