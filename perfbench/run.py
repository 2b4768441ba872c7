"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 4 --trace 0

Workloads: ``queries``, ``text-jobs``, ``table-commits`` (see README.md).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
give the environment, the package path, pass times, sample counts, peak
memory, the failure fraction and every failed job by name.

Inputs are generated from the seed and cached under ``perfbench/_work``
before anything is timed. Every workload process gets fresh local, temp
and output directories under ``perfbench/_work/run-<pid>``, removed at
exit, and is waited for together with every process it started.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procs
import workloads

BENCH = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "eecs_485___mapreduce_spark"
SETUP_PROBES = 1  # set-ups per run besides the main process's; setup_s is their median
DEADLINE_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "job_s.p50": "s",
    "job_s.p90": "s",
    "cpu_s": "s",
}


def child_env(root: str, run_dir: str) -> dict:
    """The workload process environment: no ``SPARK_GRAFT_*`` knob but
    the core count, a pinned hash seed, the checkout first on the import
    path (Spark's Python workers inherit it), and temporary space inside
    the run directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONHASHSEED="0",
        PYTHONPATH=os.pathsep.join([root] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def launch(req: dict, env: dict, run_dir: str, deadline: float) -> tuple[dict, dict[str, float]]:
    """Start one workload process, wait for it and everything it
    started; return its result and its tree's resident memory (MB, by
    command name) at the sample where the total peaked."""
    tag = f"{req['role']}{len([f for f in os.listdir(run_dir) if f.endswith('.req.json')])}"
    path = os.path.join(run_dir, f"{tag}.req.json")
    req.update(out=os.path.join(run_dir, f"{tag}.out.json"), run_dir=run_dir)
    log_path = os.path.join(run_dir, f"{tag}.log")
    peak: dict[str, float] = {}
    with open(log_path, "w") as log:
        req["launched"] = time.monotonic()
        with open(path, "w") as fh:
            json.dump(req, fh)
        p = subprocess.Popen(
            [sys.executable, os.path.join(BENCH, "worker.py"), path],
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            while p.poll() is None:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{tag} ran past the deadline")
                mem = procs.tree_pss_mb(p.pid)
                if sum(mem.values()) > sum(peak.values()):
                    peak = mem
                time.sleep(0.5)
        finally:
            procs.reap_session(p.pid, timeout_s=0.0)
            p.wait()
    if p.returncode != 0 or not os.path.exists(req["out"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{tag} exited with {p.returncode}")
    with open(req["out"]) as fh:
        return json.load(fh), peak


def quantile(xs: list[float], q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(setups: list[float], main: dict) -> tuple[dict, int]:
    timed = [p for p in main["passes"] if p["kind"] == "timed" and not p["traced"]]
    jobs = [j["seconds"] for p in timed for j in p["jobs"]]
    values = {
        "setup_s": statistics.median(setups),
        "first_pass_s": main["passes"][0]["seconds"],
        "pass_s": statistics.median(p["seconds"] for p in timed),
        "job_s.p50": statistics.median(jobs),
        "job_s.p90": quantile(jobs, 0.9),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
    }
    return values, len(jobs)


def per_layer(main: dict, peak_rss: float) -> dict:
    """Per-layer metrics from the traced timed passes (per pass unless
    the name says per job), with the untraced passes of the same run
    for the tracing overhead."""
    traced = [p for p in main["passes"] if p["kind"] == "timed" and p["traced"]]
    untraced = [p for p in main["passes"] if p["kind"] == "timed" and not p["traced"]]

    def per_pass(f) -> float:
        return statistics.median(f(p) for p in traced)

    def dur(p, name) -> float:
        return sum(s["end"] - s["start"] for s in p["spans"] if s["name"] == name)

    def count(p, field, name=None) -> int:
        return sum(s.get(field, 0) for s in p["spans"] if name is None or s["name"] == name)

    def per_job(name) -> float:
        xs = [s["end"] - s["start"] for p in traced for s in p["spans"] if s["name"] == name]
        return statistics.median(xs) if xs else 0.0

    def after(key) -> float:
        return per_pass(lambda p: p["after"].get(key, 0))

    written, live = after("written_bytes"), after("live_bytes")
    m = {
        "peak_rss_mb": peak_rss,
        "session.start_s": main["session_start_s"],
        "sources.open_s": main["open_s"],
        "queries.build_s": per_pass(lambda p: dur(p, "queries.build")),
        "queries.build_jobs": per_pass(lambda p: count(p, "jobs", "queries.build")),
        "plans.plan_s": per_pass(lambda p: dur(p, "plans.plan")),
        "spark.exec_s": per_pass(lambda p: sum(dur(p, n) for n in _EXEC_SPANS)),
        "spark.jobs": per_pass(lambda p: count(p, "jobs")),
        "spark.stages": per_pass(lambda p: count(p, "stages")),
        "spark.tasks": per_pass(lambda p: count(p, "tasks")),
        "spark.failed_tasks": per_pass(lambda p: count(p, "failed_tasks")),
        "spark.gc_s": per_pass(lambda p: p["gc_s"]),
        "spark.heap_used_mb": max(p["heap_used_mb"] for p in traced),
        "functions.persisted": after("persisted"),
        "engine.job_s.pipe_wc": per_job("engine.pipe_wc"),
        "engine.job_s.pipe_grep": per_job("engine.pipe_grep"),
        "operators.pipe_procs": after("pipe_procs"),
        "operators.job_s.native_wc": per_job("operators.native_wc"),
        "operators.job_s.native_grep": per_job("operators.native_grep"),
        "sinks.out_files": after("out_files"),
        "sinks.out_mb": after("out_mb"),
    }
    for op in TXN_OPS:
        m[f"txnlog.{op}_s"] = per_pass(lambda p, op=op: dur(p, f"txnlog.{op}"))
    m.update(
        {
            "txnlog.versions": after("versions"),
            "txnlog.live_files_pre_compact": after("live_files_pre_compact"),
            "txnlog.live_files_post_compact": after("live_files_post_compact"),
            "txnlog.write_amp": written / live if live else 0.0,
            "txnlog.conflicts": after("conflicts"),
        }
    )
    traced_pass = per_pass(lambda p: p["seconds"])
    layers = per_pass(lambda p: sum(s["end"] - s["start"] for s in p["spans"] if s["name"] != "pass"))
    untraced_pass = statistics.median(p["seconds"] for p in untraced)
    m.update(
        {
            "trace.pass_s": traced_pass,
            "trace.untraced_pass_s": untraced_pass,
            "trace.overhead_s": traced_pass - untraced_pass,
            "trace.unattributed_s": traced_pass - layers,
        }
    )
    return m


TXN_OPS = ("create", "append", "merge", "delete", "update", "compact", "read", "vacuum")
# Spans whose time is Spark executing a job's plan into its sink.
_EXEC_SPANS = (
    "spark.exec",
    "engine.pipe_wc",
    "engine.pipe_grep",
    "operators.native_wc",
    "operators.native_grep",
) + tuple(f"txnlog.{op}" for op in TXN_OPS)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()
    # Let a SIGTERM unwind through the clean-up below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(BENCH, "_work")
    inputs = workloads.prepare(args.workload, args.seed, os.path.join(work, "cache"))

    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = child_env(root, run_dir)
        req = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "inputs": inputs,
            "spans_out": os.path.join(work, f"spans-{args.workload}-{args.seed}.json"),
        }
        deadline = started + DEADLINE_S
        setups = [launch(dict(req, role="probe"), env, run_dir, deadline)[0]["setup_s"] for _ in range(SETUP_PROBES)]
        main_res, peak_mem = launch(dict(req, role="main"), env, run_dir, deadline)
        setups.append(main_res["setup_s"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    jobs = [dict(j, kind=p["kind"]) for p in main_res["passes"] for j in p["jobs"]]
    failed = [j for j in jobs if j["error"]]
    print(f"perfbench env: {json.dumps({k: v for k, v in env.items() if k.startswith(('SPARK', 'PYTHON', 'JAVA'))})}")
    print(f"perfbench package: {main_res['package']}")
    for j in failed:
        print(f"perfbench FAIL {args.workload} {j['kind']} {j['name']}: {j['error']}")
    e2e, n_jobs = end_to_end(setups, main_res)
    peak_rss = sum(peak_mem.values())
    by_command = " ".join(f"{k}={v:.0f}" for k, v in sorted(peak_mem.items()))
    print(f"perfbench {args.workload}/peak_rss_mb = {peak_rss:.6g} MB ({by_command})")
    passes = " ".join(f"{p['kind']}{'+trace' if p['traced'] else ''}={p['seconds']:.2f}s" for p in main_res["passes"])
    print(f"perfbench passes: {passes}; job samples in timed passes: {n_jobs}")
    print(f"perfbench setup samples: {' '.join(f'{x:.2f}s' for x in setups)}")
    for p in main_res["passes"]:
        slow = sorted(p["jobs"], key=lambda j: -j["seconds"])[:3]
        print(f"perfbench slowest in {p['kind']}: " + " ".join(f"{j['name']}={j['seconds']:.2f}s" for j in slow))
    print(f"perfbench fail_frac: {len(failed)}/{len(jobs)} = {len(failed) / len(jobs):.4f}")
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in per_layer(main_res, peak_rss).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    for k, v in metrics.items():
        print(f"perfbench {args.workload}/{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": not failed, "attempted": len(jobs), "failed": len(failed), "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s") or ".job_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "ratio" if name.endswith("write_amp") else "count"


if __name__ == "__main__":
    sys.exit(main())
