"""Benchmark entry point.

    python3 perfbench/run.py --workload election_night --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed (cached per seed under .perfbench/), runs the workload in a fresh
process (program.py) on local[nproc], checks every op's output, prints a
readable summary and, as the last line, one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Exits non-zero, printing no JSON, when the run or its set-up fails.
See README.md for the workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

import gen
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sanef_election_dashboard_etl_spark"
WORK = os.path.join(ROOT, ".perfbench")
KEEP_INPUTS = 4          # input sets kept in the cache, most recent first
RUN_TIMEOUT_S = 170
MIN_BEYOND = 10          # samples a reported percentile must have beyond it


def _prune_inputs(data_root: str, keep: str) -> None:
    dirs = [os.path.join(data_root, d) for d in os.listdir(data_root)]
    dirs = sorted((d for d in dirs if d != keep),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_INPUTS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def _child_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        # every run imports the package from source, so setup_s does not
        # depend on whether an earlier run left bytecode behind
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the run's process group (the JVM and Python
    workers) and wait until every member has gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_program(a, data_dir: str, run_dir: str, timeout: float) -> dict:
    record = os.path.join(run_dir, "record.json")
    log = os.path.join(run_dir, "program.log")
    cmd = [sys.executable, os.path.join(HERE, "program.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data_dir, "--out", os.path.join(run_dir, "out"),
           "--record", record]
    env = _child_env(run_dir)
    with open(log, "wb") as fh:
        spawn = time.time()
        proc = subprocess.Popen(cmd + ["--spawn-time", repr(spawn)],
                                cwd=ROOT, env=env, stdout=fh,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(record):
        with open(log, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        raise RuntimeError(f"program exited with {code}:\n{tail}")
    with open(record) as fh:
        return json.load(fh)


def tail_percentile(xs):
    """The highest whole percentile that has at least MIN_BEYOND samples
    strictly beyond it, as (percentile, value); None when there are too
    few samples. With 100 samples that is p90 and the 90th smallest."""
    s = sorted(xs)
    k = len(s) - MIN_BEYOND
    if k < 1:
        return None
    while k > 1 and s[k - 1] == s[k]:   # equal samples are not beyond it
        k -= 1
    if s[k - 1] == s[k]:
        return None
    return 100 * k // len(s), s[k - 1]


def _per_op(passes) -> dict:
    out: dict[str, list[float]] = {}
    for p in passes:
        for op in p["ops"]:
            out.setdefault(op["op"], []).append(op["wall_s"])
    return out


def end_to_end(rec: dict) -> dict:
    timed = rec["passes"]
    return {
        "setup_s": (rec["setup_s"], "s", 1),
        "cold_s": (rec["cold"]["wall_s"], "s", 1),
        "pass_s": (median([p["wall_s"] for p in timed]), "s",
                   len(timed)),
    }


def per_layer(rec: dict) -> dict:
    traced = rec["passes"]
    ncpu = len(os.sched_getaffinity(0))

    def per_pass(fn):
        return median([fn(p) for p in traced])

    def ssum(p, key):
        return sum(op["spark"][key] for op in p["ops"] if op["ok"])

    def osum(p, key):
        return sum(op.get(key, 0) for op in p["ops"])

    mb = 2**20
    m = {
        "session.start_s": (rec["session_start_s"], "s"),
        "plan.build_s": (per_pass(lambda p: osum(p, "build_s")), "s"),
        "plan.build_frac": (per_pass(
            lambda p: osum(p, "build_s") / p["wall_s"]), "ratio"),
        "plan.eager_jobs": (per_pass(lambda p: osum(p, "eager_jobs")),
                            "count"),
        "spark.jobs": (per_pass(lambda p: ssum(p, "jobs")), "count"),
        "spark.stages": (per_pass(lambda p: ssum(p, "stages")), "count"),
        "spark.tasks": (per_pass(lambda p: ssum(p, "tasks")), "count"),
        "exec.wall_s": (per_pass(lambda p: osum(p, "exec_s")), "s"),
        "spark.executor_run_s": (per_pass(
            lambda p: ssum(p, "run_ms") / 1e3), "s"),
        "spark.executor_cpu_s": (per_pass(
            lambda p: ssum(p, "cpu_ns") / 1e9), "s"),
        "spark.core_busy_frac": (per_pass(
            lambda p: ssum(p, "run_ms") / 1e3 / (p["wall_s"] * ncpu)),
            "ratio"),
        "spark.shuffle_write_mb": (per_pass(
            lambda p: ssum(p, "shuffle_write_bytes") / mb), "MB"),
        "spark.spill_mb": (per_pass(lambda p: ssum(p, "spill_bytes") / mb),
                           "MB"),
        "scan.input_mb": (per_pass(lambda p: ssum(p, "input_bytes") / mb),
                          "MB"),
        "scan.input_rows": (per_pass(lambda p: ssum(p, "input_rows")),
                            "count"),
        "spark.gc_s": (per_pass(lambda p: ssum(p, "gc_ms") / 1e3), "s"),
        "jvm.heap_used_mb": (per_pass(lambda p: p["heap_used_mb"]), "MB"),
        "cache.residents_after": (max(op["residents_after"] for p in traced
                                      for op in p["ops"]), "count"),
        "sink.out_rows": (per_pass(lambda p: osum(p, "out_rows")), "count"),
        "sink.out_mb": (per_pass(lambda p: osum(p, "out_bytes") / mb), "MB"),
        "host.cpu_probe_s": (median(rec["cpu_probe_s"]), "s"),
        "host.steal_frac": (rec["steal_frac"], "ratio"),
        "trace.overhead_frac": (per_pass(
            lambda p: osum(p, "trace_s") / p["wall_s"]), "ratio"),
    }
    return {k: (v, unit, len(traced)) for k, (v, unit) in m.items()}


def failures(rec: dict) -> int:
    """Op executions that raised plus ops whose output check failed."""
    return len(rec["errors"]) + sum(c["error"] is not None
                                    for c in rec["checks"].values())


def summary(rec: dict, metrics: dict, gen_s: float, fp: str) -> list[str]:
    lines = [f"perfbench {rec['workload']} seed={rec['seed']} "
             f"trace={rec['trace']} inputs={fp[:12]} gen_s={gen_s:.3f}"]
    for name, (v, unit, n) in metrics.items():
        lines.append(f"  {name:24s} {v:12.4f} {unit:6s} n={n}")
    timed = rec["passes"]
    walls = [p["wall_s"] for p in timed]
    lines.append("  pass walls: cold "
                 + " ".join(f"{p['wall_s']:.2f}" for p in
                            [rec["cold"], *rec["warm"], *rec["passes"]])
                 + " s (cold, warm, timed)")
    lines.append(f"  timed passes: n={len(walls)} median="
                 f"{median(walls):.3f} s min={min(walls):.3f} "
                 f"max={max(walls):.3f} measured={rec['measured_s']:.1f} s")
    ops = [op["wall_s"] for p in timed for op in p["ops"]]
    tail = tail_percentile(ops)
    tail_s = (f"p{tail[0]}={tail[1]:.3f} s" if tail
              else f"no percentile has {MIN_BEYOND} samples beyond it")
    lines.append(f"  op wall: n={len(ops)} median={median(ops):.3f} s "
                 f"{tail_s}")
    for name, ws in sorted(_per_op(timed).items()):
        lines.append(f"    {name:32s} median {median(ws):.3f} s")
    probes = rec["cpu_probe_s"]
    lines.append(f"  host: cpu_probe_s median={median(probes):.4f} "
                 f"min={min(probes):.4f} max={max(probes):.4f} "
                 f"steal_frac={rec['steal_frac']:.4f}")
    lines.append(f"  ops_attempted={rec['ops_attempted']} "
                 f"ops_failed={failures(rec)}")
    for name, c in sorted(rec["checks"].items()):
        lines.append(f"    check {name}: {c['error'] or 'ok'} "
                     f"({c['seconds']:.2f} s)")
    for err in rec["errors"]:
        lines.append("  error " + err.strip().splitlines()[-1])
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_begin = time.time()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/; run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    kind, scale = WORKLOADS[a.workload].inputs
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    t0 = time.time()
    data_dir = gen.ensure(kind, a.seed, scale, data_root)
    gen_s = time.time() - t0
    os.utime(data_dir)
    _prune_inputs(data_root, data_dir)
    with open(os.path.join(data_dir, "_DONE")) as fh:
        fp = fh.read().strip()

    run_dir = os.path.join(WORK, "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rec = run_program(a, data_dir, run_dir,
                          RUN_TIMEOUT_S - (time.time() - t_begin))
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
        shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)

    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    print("\n".join(summary(rec, metrics, gen_s, fp)))
    n_failed = failures(rec)
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": rec["ops_attempted"],
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
