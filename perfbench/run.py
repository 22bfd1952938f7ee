#!/usr/bin/env python3
"""Repo benchmark: one workload, one fresh Spark session, checked outputs.

    python3 perfbench/run.py --workload relational_x10 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Steps:

1. find the workload's input tier: a fixture tier of the engine, read in
   place, or a key-shifted copy of one built from ``--seed`` under
   ``.perfbench/`` (reused when the same seed built it before; its build
   time is reported apart from ``setup_s``);
2. start ``worker.py`` in a fresh process with ``local[<cores>]`` and the
   default driver heap: set-up, a cold pass, then at least three warm
   passes and more until ``--seconds`` of pass time are used.
   ``warm_pass_s`` is the fastest warm pass: on a shared host a pass that
   other tenants' CPU steal slows down is dropped. The later passes also
   show what a long session keeps pinned (``pinned_storage_mb``);
3. compare every query's output in the cold and the first warm pass with
   its registered DuckDB oracle (rows-only queries: non-empty and
   identical between the two passes);
4. print a run stamp and one line per metric, then, as the last line, one
   JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
   (the end-to-end metrics with ``--trace 0``, the per-layer metrics with
   ``--trace 1``).

``--trace 1`` turns on Spark's event log for the worker (through
``PYSPARK_SUBMIT_ARGS``, no engine change) and folds it onto the
build/execute spans. Every run's full record, spans included, is kept
under ``.perfbench/results/``; ``perfbench/overhead.py`` reports the
traced-minus-untraced difference of each end-to-end metric from them.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170.0
KEEP_TIERS = 4

sys.path[:0] = [HERE, ROOT]
import eventlog  # noqa: E402
from workloads import LAYER_MAP, ROWS_ONLY, WORKLOADS  # noqa: E402

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}
# printed with every run, but not bounded: both are 0 on a healthy
# relational_x10 run, and a bounded metric must never be 0
EXTRA_UNITS = {
    "failed_frac": "ratio", "pinned_storage_mb": "MB", "warm_passes": "count",
    "tier_build_s": "s",
}
PASS_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.single_task_scan_stage_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.pinned_rdds": "count",
    "plans.pinned_mb": "MB",
    "plans.build_shuffle_write_mb": "MB",
    "plans.build_shuffle_read_mb": "MB",
    "plans.build_tasks": "count",
    "plans.build_gc_s": "s",
    "spark_exec.s": "s",
    "spark_exec.jobs": "count",
    "spark_exec.stages": "count",
    "spark_exec.tasks": "count",
    "spark_exec.core_util": "ratio",
    "spark_exec.shuffle_write_mb": "MB",
    "spark_exec.shuffle_read_mb": "MB",
    "spark_exec.spill_mb": "MB",
    "spark_exec.broadcast_build_s": "s",
    "spark_exec.broadcast_mb": "MB",
    "spark_exec.gc_s": "s",
    "spark_exec.peak_exec_mem_mb": "MB",
    "spark_exec.python_mb": "MB",
    "span_coverage": "ratio",
}
SETUP_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_scan_s": "s",
    "sources.load_table_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(SETUP_LAYER_UNITS)
    for p in ("cold", "warm"):
        units.update({f"{p}.{k}": u for k, u in PASS_LAYER_UNITS.items()})
    units["pinned_storage_mb"] = "MB"
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def commit_id() -> str:
    """The git commit of the checkout, or a hash of the engine sources
    when the checkout is not a git repository."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            out = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10,
            )
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pydra_map_reduce_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "tree-sha256:" + h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies of the host's CPUs, where /proc/stat exists."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def evict_tiers(tiers: str, keep: str) -> None:
    """Keep the newest few tiers (plus ``keep``) so seeds do not pile up."""
    paths = [os.path.join(tiers, d) for d in os.listdir(tiers)]
    paths.sort(key=os.path.getmtime, reverse=True)
    for p in paths[KEEP_TIERS:]:
        if p != keep:
            shutil.rmtree(p, ignore_errors=True)


def worker_env(run_dir: str, cores: int, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the default 1 GB heap
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    return env


def run_worker(cmd: list[str], env: dict, cwd: str, timeout: float) -> tuple[int, str]:
    """Run the worker in its own process group, echo its stderr, and
    return (exit code, the last query it started)."""
    proc = subprocess.Popen(
        cmd, env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True,
    )

    def stop(signum, _frame) -> None:
        kill_group()
        sys.exit(128 + signum)

    def kill_group() -> None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    last = ["(set-up)"]

    def pump() -> None:
        for line in proc.stdout:
            sys.stderr.write(line)
            if line.startswith("[perfbench] ") and line.rstrip().endswith(" start"):
                last[0] = line.split()[1]

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = -signal.SIGKILL
    # the JVM and Python workers share the group; none may outlive the run
    kill_group()
    reader.join(timeout=10)
    return rc, last[0]


def canon_multiset(cols: list[str], rows: list[tuple]) -> Counter:
    """The order-insensitive value multiset, with ``canon_val`` from
    ``tests/test_correctness.py`` and columns in sorted-name order."""
    from tests.test_correctness import canon_val

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon_val(r[i]) for i in order) for r in rows)


def check_outputs(outputs: dict, queries: list[str], tier: str) -> dict[tuple[str, str], str]:
    """(pass, query) -> reason, for every checked execution that is wrong."""
    import duckdb

    import datagen
    from pydra_map_reduce_spark.plans import REGISTRY

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{datagen.duckdb_source(tier, t)}')"
        )
    bad: dict[tuple[str, str], str] = {}
    for q in queries:
        got = {label: outs[q] for label, outs in outputs.items() if q in outs}
        if not got:
            continue
        oracle = REGISTRY[q].oracle
        if oracle is None:
            if q not in ROWS_ONLY:
                raise ValueError(f"{q} has no oracle and is not declared rows-only")
            sets = {}
            for label, (cols, rows) in got.items():
                try:
                    sets[label] = (sorted(cols), canon_multiset(cols, rows))
                except AssertionError as e:
                    bad[(label, q)] = f"canonicalization: {e}"
            for label, (cols, ms) in sets.items():
                if not ms:
                    bad[(label, q)] = "empty result"
            vals = list(sets.values())
            if any(v != vals[0] for v in vals[1:]):
                bad[("warm1", q)] = "cold and warm results differ"
            continue
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        want = canon_multiset(dcols, res.fetchall())
        for label, (cols, rows) in got.items():
            if sorted(cols) != sorted(dcols):
                bad[(label, q)] = f"columns {sorted(cols)} != oracle {sorted(dcols)}"
            elif len(rows) != sum(want.values()):
                bad[(label, q)] = f"{len(rows)} rows != oracle {sum(want.values())}"
            else:
                try:
                    if canon_multiset(cols, rows) != want:
                        bad[(label, q)] = "values differ from the oracle"
                except AssertionError as e:
                    bad[(label, q)] = f"canonicalization: {e}"
    con.close()
    return bad


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _phases(stats: dict, label: str, *phases: str) -> dict[str, float]:
    """Event-log counters of one pass's job groups
    ``<workload>/<pass>/<query>/<phase>`` for the given phases."""
    return eventlog.sum_groups(
        stats, lambda g: g.split("/")[1] == label and g.rsplit("/", 1)[1] in phases
    )


def fold_onto_spans(spans: list[dict], stats: dict, workload: str) -> None:
    """Attach each build/execute/collect span's event-log counters to it."""
    by_id = {s["id"]: s for s in spans}
    phase = {"build": "build", "execute": "execute", "collect": "check"}
    for s in spans:
        if s["name"] in phase:
            q = by_id[s["parent"]]
            label = by_id[q["parent"]]["label"]
            s["spark"] = stats.get(f"{workload}/{label}/{q['query']}/{phase[s['name']]}", {})


def layer_metrics(spans: list[dict], stats: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of set-up, the cold pass and the first warm pass,
    from the spans and the folded event log."""
    by_id = {s["id"]: s for s in spans}
    setup = {s["name"]: _dur(s) for s in spans
             if s["parent"] is not None and by_id[s["parent"]]["name"] == "setup"}
    out = {
        "session.get_spark_s": setup["session.get_spark"],
        "session.warmup_scan_s": setup["session.warmup_scan"],
        "sources.load_table_s": setup["sources.load_table"],
    }
    per_pass: dict[str, dict[str, float]] = {}
    for p in (s for s in spans if s["name"] == "pass"):
        label = p["label"]
        qs = [s for s in spans if s["parent"] == p["id"]]
        kids = [s for s in spans if s["parent"] in {q["id"] for q in qs}]
        build = sum(_dur(s) for s in kids if s["name"] == "build")
        execute = sum(_dur(s) for s in kids if s["name"] == "execute")
        b = _phases(stats, label, "build")
        x = _phases(stats, label, "execute")
        both = _phases(stats, label, "build", "execute")
        mb = eventlog.MB
        per_pass[label] = {
            "sources.scan_s": both.get("scan_ms", 0) / 1e3,
            "sources.single_task_scan_stage_s": both.get("single_task_scan_ms", 0) / 1e3,
            "plans.build_s": build,
            "plans.build_jobs": b.get("jobs", 0),
            "plans.pinned_rdds": max((q.get("pinned_rdds", 0) for q in qs), default=0),
            "plans.pinned_mb": max((q.get("pinned_bytes", 0) for q in qs), default=0) / mb,
            "plans.build_shuffle_write_mb": b.get("shuffle_write", 0) / mb,
            "plans.build_shuffle_read_mb": b.get("shuffle_read", 0) / mb,
            "plans.build_tasks": b.get("tasks", 0),
            "plans.build_gc_s": b.get("gc_ms", 0) / 1e3,
            "spark_exec.s": execute,
            "spark_exec.jobs": x.get("jobs", 0),
            "spark_exec.stages": x.get("stages", 0),
            "spark_exec.tasks": x.get("tasks", 0),
            "spark_exec.core_util": x.get("run_ms", 0) / 1e3 / max(execute * cores, 1e-9),
            "spark_exec.shuffle_write_mb": x.get("shuffle_write", 0) / mb,
            "spark_exec.shuffle_read_mb": x.get("shuffle_read", 0) / mb,
            "spark_exec.spill_mb": x.get("spill_bytes", 0) / mb,
            "spark_exec.broadcast_build_s": x.get("broadcast_build_ms", 0) / 1e3,
            "spark_exec.broadcast_mb": x.get("broadcast_bytes", 0) / mb,
            "spark_exec.gc_s": x.get("gc_ms", 0) / 1e3,
            "spark_exec.peak_exec_mem_mb": x.get("peak_mem", 0) / mb,
            "spark_exec.python_mb": x.get("python_bytes", 0) / mb,
            "span_coverage": (build + execute) / max(_dur(p), 1e-9),
        }
    # the warm figures come from the fastest warm pass, as warm_pass_s does
    warm = min((s for s in spans if s["name"] == "pass" and s["label"] != "cold"), key=_dur)
    for k in PASS_LAYER_UNITS:
        out[f"cold.{k}"] = per_pass["cold"][k]
        out[f"warm.{k}"] = per_pass[warm["label"]][k]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true",
        help="self-test size: an sf0.001 tier and the first two queries",
    )
    a = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "pydra_map_reduce_spark", "__init__.py")):
        log(f"no engine package under {ROOT}: run from the root of a checkout")
        return 2
    import datagen  # needs the engine's tools/ beside it

    wl = WORKLOADS[a.workload]
    queries = wl["queries"][:2] if a.tiny else wl["queries"]
    spec = wl["tier"]
    if a.tiny:
        spec = {"fixture": "sf0.001", "copies": min(2, spec["copies"])}

    tiers = os.path.join(STATE, "tiers")
    os.makedirs(tiers, exist_ok=True)
    try:
        tier, gen_s, reused = datagen.ensure_tier(tiers, spec, a.seed)
    except FileNotFoundError as e:
        log(str(e))
        return 2
    if os.path.dirname(tier) == tiers:  # a derived tier, not a fixture
        os.utime(tier)
        evict_tiers(tiers, tier)
    log(f"tier {tier} ({'reused' if reused else f'built in {gen_s:.2f} s'})")

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(STATE, "runs", run_id)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--queries", ",".join(queries),
        "--tier", tier, "--out", run_dir, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--run-id", run_id, "--spawned", repr(time.time()),
    ]
    rc, last = run_worker(
        cmd, worker_env(run_dir, cores, bool(a.trace)), run_dir,
        DEADLINE_S - (time.monotonic() - t_start),
    )
    if rc != 0:
        log(f"worker exited with {rc}; last query started: {last}")
        return 1
    with open(os.path.join(run_dir, "worker.json")) as f:
        rec = json.load(f)
    with open(os.path.join(run_dir, "outputs.pkl"), "rb") as f:
        outputs = pickle.load(f)
    with open(os.path.join(run_dir, "spans.json")) as f:
        spans = json.load(f)

    bad = check_outputs(outputs, queries, tier)
    failed = {(x["pass"], x["query"]): x["error"] for x in rec["failures"]}
    failed.update({k: v for k, v in bad.items() if k not in failed})
    attempted = sum(p["n"] for p in rec["passes"])
    e2e = {
        "setup_s": rec["setup_s"],
        "cold_pass_s": rec["passes"][0]["wall_s"],
        "warm_pass_s": min(p["wall_s"] for p in rec["passes"][1:]),
    }
    extra = {
        "failed_frac": len(failed) / attempted,
        "pinned_storage_mb": rec["pinned_bytes"] / eventlog.MB,
        "warm_passes": len(rec["passes"]) - 1,
        "tier_build_s": gen_s,
    }
    layers = None
    if a.trace:
        stats = eventlog.fold(os.path.join(run_dir, "eventlog"))
        fold_onto_spans(spans, stats, a.workload)
        layers = layer_metrics(spans, stats, rec["cores"])
        layers["pinned_storage_mb"] = extra["pinned_storage_mb"]

    ticks_after = cpu_ticks()
    steal = None
    if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
        steal = (ticks_after[0] - ticks_before[0]) / (ticks_after[1] - ticks_before[1])
    stamp = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "nproc": os.cpu_count(), "cores": rec["cores"], "master": rec["master"],
        "driver_memory": rec["driver_memory"],
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # CPU time taken by other tenants of a virtual host while this ran
        "steal_frac": None if steal is None else round(steal, 4),
        "spark": rec["spark_version"], "python": platform.python_version(),
        "commit": commit_id(), "tier": os.path.basename(tier), "queries": queries,
    }
    record = {
        "stamp": stamp, "e2e": e2e, "extra": extra, "per_layer": layers,
        "passes": rec["passes"],
        "failures": [{"pass": p, "query": q, "error": e} for (p, q), e in sorted(failed.items())],
        "spans": spans,
    }
    results = os.path.join(STATE, "results", a.workload)
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"trace{a.trace}-seed{a.seed}-{run_id}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"stamp": stamp}))
    for (p, q), e in sorted(failed.items()):
        print(f"FAILED {a.workload}/{p}/{q}: {e}")
    for k, v in {**e2e, **extra}.items():
        print(f"{k} {v:.6g} {E2E_UNITS.get(k) or EXTRA_UNITS[k]}")
    if a.trace:
        for k, u in per_layer_units().items():
            moves = LAYER_MAP.get(k.split(".", 1)[1] if k.startswith(("cold.", "warm.")) else k)
            note = f"  (moves {moves[0]} on {moves[1]})" if moves else ""
            print(f"{k} {layers[k]:.6g} {u}{note}")
    units = per_layer_units() if a.trace else E2E_UNITS
    values = layers if a.trace else e2e
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
