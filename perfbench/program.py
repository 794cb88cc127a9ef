"""One benchmark run in a fresh process (started by run.py).

The run goes through the package's public entry points the way the CLI
composes them: `session.get_spark`, then per op the plan build
(`queries.REGISTRY[name].fn` or an operator call) and
`sinks.write_csv_single` inside `cache.cache_scope()`. A pass runs every
op of the workload once.

    cold pass (first in the JVM) -> WARM_PASSES untimed passes
    -> timed passes while another one fits in --seconds (at least
       MIN_PASSES) -> output checks, off the clock

With --trace 1 every timed pass is traced; the time spent in the tracing
calls on the clock is recorded per op as its overhead. The record goes to
--record as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

from check import csv_digest, duckdb_connection, oracle_mismatch
from layers import SparkTracer, cpu_probe_s, cpu_ticks
from workloads import WORKLOADS, build_ops

HERE = os.path.dirname(os.path.abspath(__file__))
# Pass times keep falling for several passes after the cold one while the
# JIT compiles the planner and the generated code. A second warm pass
# steadies the timed pass more than a second timed pass would, at the
# same cost per run.
WARM_PASSES = 2
MIN_PASSES = 1


def _pass_order(names, seed: int, idx: int) -> list[str]:
    """The cold pass (idx 0) runs the workload's own order, as a one-shot
    run would; later passes shuffle it by seed. Whichever op runs first
    in a fresh JVM pays most of the warm-up, so a shuffled cold pass
    would make cold_s depend on the seed's draw."""
    order = list(names)
    if idx:
        random.Random(f"{seed}/{idx}").shuffle(order)
    return order


class Runner:
    def __init__(self, spark, fns, data_dir, out_dir, seed, tracer):
        from sanef_election_dashboard_etl_spark import sinks
        from sanef_election_dashboard_etl_spark.cache import cache_scope

        self.spark, self.fns, self.data_dir = spark, fns, data_dir
        self.out_dir, self.seed, self.tracer = out_dir, seed, tracer
        self._sink, self._scope = sinks.write_csv_single, cache_scope
        self.schemas: dict = {}
        self.attempted = 0
        self.errors: list[str] = []

    def out_path(self, dest: str, name: str) -> str:
        return os.path.join(self.out_dir, dest, f"{name}.csv")

    def run_pass(self, idx: int, dest: str, traced: bool = False) -> dict:
        tr = self.tracer if traced else None
        ops = []
        t_pass = time.perf_counter()
        for name in _pass_order(self.fns, self.seed, idx):
            self.attempted += 1
            t0 = t1 = time.perf_counter()
            trace_s = 0.0
            try:
                if tr:
                    trace_s += tr.group(f"p{idx}/{name}/build")
                with self._scope():
                    df = self.fns[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    if tr:
                        trace_s += tr.group(f"p{idx}/{name}/sink")
                    self._sink(df, self.out_path(dest, name))
                self.schemas[name] = df.schema
                ok = True
            except Exception:  # noqa: BLE001 — count it, keep the run going
                self.errors.append(f"{name}: {traceback.format_exc()}")
                ok = False
            t2 = time.perf_counter()
            op = {"op": name, "ok": ok, "wall_s": t2 - t0,
                  "build_s": t1 - t0, "exec_s": t2 - t1}
            if tr:
                t3 = time.perf_counter()
                op["residents_after"] = tr.residents()
                op["trace_s"] = trace_s + time.perf_counter() - t3
            ops.append(op)
        rec = {"pass": idx, "traced": traced,
               "wall_s": time.perf_counter() - t_pass, "ops": ops}
        if tr:
            self._collect(rec, dest)
        return rec

    def _collect(self, rec: dict, dest: str) -> None:
        """Off the clock: Spark totals per op and sink output sizes."""
        tr = self.tracer
        tr.drain()
        rec["heap_used_mb"] = tr.heap_used_mb()
        for op in rec["ops"]:
            name = op["op"]
            build = tr.group_totals(f"p{rec['pass']}/{name}/build")
            sink = tr.group_totals(f"p{rec['pass']}/{name}/sink")
            op["eager_jobs"] = build["jobs"]
            op["spark"] = {k: build[k] + sink[k] for k in build}
            path = self.out_path(dest, name)
            if op["ok"]:
                op["out_rows"] = csv_digest(path)[0]
                op["out_bytes"] = os.path.getsize(path)


def check_outputs(runner: Runner, oracles: dict, data_dir: str) -> dict:
    """Check each op's last timed output once: name -> {"error": message
    or None, "seconds": time the check took}."""
    con = duckdb_connection(data_dir)
    result = {}
    for name, oracle in oracles.items():
        path = runner.out_path("timed", name)
        t0 = time.perf_counter()
        try:
            if name not in runner.schemas or not os.path.exists(path):
                err = "no output"
            elif oracle is not None:
                err = oracle_mismatch(con, oracle,
                                      runner.schemas[name], path)
            else:
                cold = csv_digest(runner.out_path("cold", name))
                warm = csv_digest(path)
                err = None if cold == warm else \
                    f"differs from the cold pass: {cold[0]} vs {warm[0]} rows"
        except Exception as exc:  # noqa: BLE001 — a failed check is a result
            err = f"check raised {type(exc).__name__}: {exc}"
        result[name] = {"error": err, "seconds": time.perf_counter() - t0}
    con.close()
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--spawn-time", type=float, required=True)
    a = ap.parse_args(argv)

    sys.path.insert(0, os.path.dirname(HERE))
    from sanef_election_dashboard_etl_spark.session import get_spark

    fns, oracles = build_ops(WORKLOADS[a.workload].ops)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    tracer = SparkTracer(spark) if a.trace else None
    runner = Runner(spark, fns, a.data, a.out, a.seed, tracer)

    cold = runner.run_pass(0, "cold")
    warm = [runner.run_pass(1 + i, "timed") for i in range(WARM_PASSES)]
    setup_s = time.time() - a.spawn_time

    passes, probes = [], [cpu_probe_s()]
    steal0, total0 = cpu_ticks()
    t_start = time.perf_counter()
    while True:
        passes.append(runner.run_pass(1 + WARM_PASSES + len(passes), "timed",
                                      bool(a.trace)))
        probes.append(cpu_probe_s())
        elapsed = time.perf_counter() - t_start
        typical = sorted(p["wall_s"] for p in passes)[len(passes) // 2]
        if len(passes) >= MIN_PASSES and elapsed + typical > a.seconds:
            break
    measured_s = time.perf_counter() - t_start
    steal1, total1 = cpu_ticks()

    checks = check_outputs(runner, oracles, a.data)
    spark.stop()
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "setup_s": setup_s, "session_start_s": session_start_s,
        "cold": cold, "warm": warm, "passes": passes, "measured_s": measured_s,
        "cpu_probe_s": probes,
        "steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
        "ops_attempted": runner.attempted, "errors": runner.errors,
        "checks": checks,
    }
    with open(a.record, "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
