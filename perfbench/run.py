"""SnackFS-Spark benchmark: the ``analytics`` and ``fs`` workloads.

    python3 perfbench/run.py --workload <analytics|fs|all> \\
        --seed <n> --seconds <s> --trace <0|1>

Each workload runs in a fresh process on local[<cpus of this host>] over
the sf0.1 fixture in ``perfbench/data``. The full result record (with
its fingerprint and cache state) is written to ``perfbench/.work/results``
and printed to stderr; the last line of stdout is the JSON summary
``{"correct", "attempted", "failed", "metrics"}``, holding the
end-to-end metrics of BENCHMARK.json with ``--trace 0`` and its per-layer
metrics with ``--trace 1``. ``--workload all`` runs both in turn and
prefixes each metric with its workload. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

from workloads import stolen_s

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("analytics", "fs")
CHILD_TIMEOUT_S = 165


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted((REPO / "snackfs_spark").rglob("*.py")) + sorted(HERE.glob("*.py")):
        h.update(path.relative_to(REPO).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not (REPO / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``: the child, its JVM and the
    Python workers (which move to their own process group, not session)."""
    pids = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry.name))
    return pids


def stop_session(sid: int) -> None:
    """Terminate whatever the child left running and wait until it ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_members(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_members(sid) and time.monotonic() < deadline:
            time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: float, trace: int, cpus: int) -> dict | None:
    work_root = HERE / ".work"
    work = work_root / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        TZ="UTC",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    cmd = [sys.executable, str(HERE / "workloads.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--work", str(work), "--result", str(result), "--cpus", str(cpus)]
    # Flush what earlier runs left dirty (a store run writes and deletes
    # ~25k files) so that it is not written back while this run is timed.
    os.sync()
    steal0 = stolen_s()
    started = time.perf_counter()
    child = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    stop_session(child.pid)
    if code is None:
        child.wait()
    wall = time.perf_counter() - started
    steal = stolen_s() - steal0
    record = json.loads(result.read_text()) if code == 0 and result.exists() else None
    shutil.rmtree(work, ignore_errors=True)
    if record is None:
        print(f"perfbench: {workload} child failed (exit {code})", file=sys.stderr)
        return None
    record.update({
        "workload": workload,
        "wall_s": wall,
        "host": {"steal_s": steal, "loadavg": os.getloadavg()},
        "fingerprint": {
            "cpus": cpus, "sf": 0.1, "seed": seed, "seconds": seconds, "trace": trace,
            "git_commit": git_commit(), "source_digest": source_digest(),
            "pyspark": importlib.metadata.version("pyspark"), "java": record.pop("java"),
            "python": platform.python_version(),
        },
        "cache_state": {
            "process": "fresh process and JVM per run",
            "ingest": "cold: fresh directory per setup" if workload == "analytics" else "not used",
            "shared_relations": "cold: new Spark application per setup",
            "fsmodel_views": "built and cached in every setup",
            "store": ("connector opened on a throwaway store in setup; fresh directory, written once"
                      if workload == "fs" else "not used"),
            "os_page_cache": "not dropped",
        },
    })
    results = work_root / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{workload}-s{seed}-t{trace}-{int(time.time())}.json").write_text(
        json.dumps(record, indent=1, sort_keys=True))
    return record


def summary(records: dict[str, dict], spec: dict, trace: int, prefix: bool) -> dict:
    kind = "per_layer" if trace else "end_to_end"
    metrics = {}
    for workload, rec in records.items():
        values = rec[kind]
        for m in spec[kind]:
            name = f"{workload}.{m['name']}" if prefix else m["name"]
            metrics[name] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
    return {
        "correct": all(r["failed"] == 0 for r in records.values()),
        "attempted": sum(r["attempted"] for r in records.values()),
        "failed": sum(r["failed"] for r in records.values()),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = REPO / "BENCHMARK.json"
    if not (REPO / "snackfs_spark").is_dir():
        return fail(f"program source not found next to {HERE.name}/")
    if not (HERE / "data" / "sf0.1" / "documents.parquet").is_file():
        return fail("sf0.1 fixture missing under perfbench/data")
    if not spec_file.is_file():
        return fail("BENCHMARK.json missing")
    spec = json.loads(spec_file.read_text())
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    cpus = len(os.sched_getaffinity(0))

    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    records = {}
    for w in workloads:
        rec = run_one(w, args.seed, seconds, args.trace, cpus)
        if rec is None:
            return 1
        for problem in rec["problems"]:
            print(f"perfbench: {w} check failed: {problem}", file=sys.stderr)
        print(json.dumps(rec, sort_keys=True), file=sys.stderr)
        records[w] = rec
    out = summary(records, spec, args.trace, prefix=args.workload == "all")
    for name, m in out["metrics"].items():
        print(f"{name:44s} {m['value']:>14.4f} {m['unit']}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
