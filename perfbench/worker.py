"""One workload in one fresh Spark session (started by ``run.py``).

The worker sees the engine only through its public calls:
``session.get_spark``, ``sources.tables.load_table``,
``REGISTRY[name].fn(spark, dir)`` (the build) and
``.write.format("noop").save()`` (the execute). It times set-up, a cold
pass and then warm passes until ``--seconds`` of pass time are used (at
least three). Outside the timed passes it collects every query's rows
after the cold and after the first warm pass for the output check. Every
query prints a start line on stderr, so a crash names its query.

Spans (name, start, end, parent, one run id) nest
run -> workload -> setup | pass -> query -> build | execute, with
check -> query -> collect after each checked pass. They are kept in
memory and written out at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import time
import traceback
from contextlib import contextmanager


# warm_pass_s is the fastest warm pass; the first warm passes still speed
# up as the JIT warms, so a run makes at least three
MIN_WARM_PASSES = 3




class Tracer:
    """In-memory spans; ``dump`` writes them as one JSON list."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def first_line(exc: BaseException) -> str:
    """The first informative line of an error; py4j's
    'An error occurred while calling oN.save.' wrapper is skipped."""
    text = str(exc)
    java = getattr(exc, "java_exception", None)
    if java is not None:
        try:
            text = str(java.toString())
        except Exception:
            pass
    for line in text.splitlines():
        line = line.strip().lstrip(":").strip()
        if line and not line.startswith("An error occurred while calling"):
            return f"{type(exc).__name__}: {line}"[:300]
    return type(exc).__name__


def storage(spark) -> tuple[int, float]:
    """(cached or checkpointed RDDs, their memory plus disk bytes)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), float(sum(i.memSize() + i.diskSize() for i in infos))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--queries", required=True, help="comma-separated")
    ap.add_argument("--tier", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--run-id", required=True)
    a = ap.parse_args()

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, here)
    from workloads import pass_order

    tracer = Tracer(a.run_id)
    w = a.workload
    queries = a.queries.split(",")
    rec: dict = {"workload": w, "seed": a.seed, "failures": [], "passes": []}
    outputs: dict[str, dict] = {}

    with tracer.span("run"), tracer.span("workload", workload=w):
        with tracer.span("setup") as setup:
            with tracer.span("session.import"):
                import pyspark
                from pyspark.sql import functions as F

                from pydra_map_reduce_spark.plans import REGISTRY
                from pydra_map_reduce_spark.session import get_spark
                from pydra_map_reduce_spark.sources.tables import TABLES, load_table
            with tracer.span("session.get_spark"):
                spark = get_spark(app_name=f"perfbench-{w}")
            sc = spark.sparkContext
            with tracer.span("session.warmup_scan"):
                sc.setJobGroup(f"{w}/setup/warmup", "warm-up scan")
                spark.read.parquet(f"{a.tier}/lineitem.parquet").select(
                    F.sum("l_quantity").alias("s"), F.count("*").alias("n")
                ).write.mode("overwrite").format("noop").save()
            with tracer.span("sources.load_table"):
                sc.setJobGroup(f"{w}/setup/load_table", "load_table")
                for t in TABLES:
                    load_table(spark, a.tier, t)
        rec["setup_s"] = setup["end"] - a.spawned
        rec["spark_version"] = pyspark.__version__
        rec["cores"] = sc.defaultParallelism
        rec["master"] = sc.master
        rec["driver_memory"] = sc.getConf().get("spark.driver.memory", "1g (default)")

        def run_pass(label: str, order: list[str]) -> dict:
            frames = {}
            with tracer.span("pass", label=label) as ps:
                for q in order:
                    print(f"[perfbench] {w}/{label}/{q} start", file=sys.stderr, flush=True)
                    with tracer.span("query", query=q) as qs:
                        try:
                            sc.setJobGroup(f"{w}/{label}/{q}/build", q)
                            with tracer.span("build"):
                                df = REGISTRY[q].fn(spark, a.tier)
                            sc.setJobGroup(f"{w}/{label}/{q}/execute", q)
                            with tracer.span("execute"):
                                df.write.mode("overwrite").format("noop").save()
                            frames[q] = df
                        except Exception as e:  # recorded; the workload goes on
                            qs["error"] = first_line(e)
                            rec["failures"].append(
                                {"pass": label, "query": q, "error": qs["error"]}
                            )
                            traceback.print_exc()
                            print(f"[perfbench] {w}/{label}/{q} FAILED: {qs['error']}",
                                  file=sys.stderr, flush=True)
                    if a.trace:
                        qs["pinned_rdds"], qs["pinned_bytes"] = storage(spark)
            rec["passes"].append({
                "label": label, "wall_s": ps["end"] - ps["start"], "n": len(order),
            })
            return frames

        def check_pass(label: str, frames: dict) -> None:
            got = outputs.setdefault(label, {})
            with tracer.span("check", label=label):
                for q, df in frames.items():
                    with tracer.span("query", query=q), tracer.span("collect"):
                        sc.setJobGroup(f"{w}/{label}/{q}/check", q)
                        try:
                            got[q] = (list(df.columns), [tuple(r) for r in df.collect()])
                        except Exception as e:  # recorded; the workload goes on
                            traceback.print_exc()
                            rec["failures"].append(
                                {"pass": label, "query": q, "error": "check: " + first_line(e)}
                            )

        measured = 0.0
        check_pass("cold", run_pass("cold", pass_order(queries, a.seed, 0)))
        measured += rec["passes"][-1]["wall_s"]
        i = 1
        while i <= MIN_WARM_PASSES or measured < a.seconds:
            frames = run_pass(f"warm{i}", pass_order(queries, a.seed, i))
            measured += rec["passes"][-1]["wall_s"]
            if i == 1:
                check_pass("warm1", frames)
            i += 1
        rec["pinned_rdds"], rec["pinned_bytes"] = storage(spark)
        spark.stop()

    with open(os.path.join(a.out, "outputs.pkl"), "wb") as f:
        pickle.dump(outputs, f)
    tracer.dump(os.path.join(a.out, "spans.json"))
    with open(os.path.join(a.out, "worker.json"), "w") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    main()
