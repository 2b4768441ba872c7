"""One workload process, started by ``run.py`` as its own session leader.

    python3 perfbench/worker.py <request.json>

The request names the role, workload, seed, run length, tracing, the
prepared inputs, the launch time and where to write the result.

``probe`` sets up and exits: it is one more sample of ``setup_s``.
``main`` sets up, runs the cold pass, the workload's warm-up passes and
then whole timed passes until ``seconds`` of job time have been
measured, and reports every pass.
Set-up is: start the session, open every input, run one trivial job.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import procs
import spans
from workloads import WORKLOADS


def run_pass(wl, kind: str, tracer) -> dict:
    """Run one pass's jobs in order; time each ``run``, then check it."""
    wl.tracer = tracer
    jobs = wl.pass_jobs(kind)
    rec: dict = {"kind": kind, "traced": tracer.on, "jobs": []}
    sid = os.getsid(0)
    cpu0 = procs.tree_cpu_s(sid)
    gc0 = tracer.jvm_gc_heap()[0] if tracer.on else 0.0
    first_span = len(tracer.spans)
    with tracer.span("pass", kind, spark_work=False):
        for job in jobs:
            t0 = time.monotonic()
            try:
                out = job.run()
                dt = time.monotonic() - t0
                err = job.check(out) if job.check else None
            except Exception as exc:  # a failing job is counted, and the pass goes on
                dt = time.monotonic() - t0
                err = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
                traceback.print_exc()
            rec["jobs"].append({"name": job.name, "seconds": dt, "error": err})
    rec["seconds"] = sum(j["seconds"] for j in rec["jobs"])
    rec["cpu_s"] = procs.tree_cpu_s(sid) - cpu0
    if tracer.on:
        gc1, heap = tracer.jvm_gc_heap()
        rec.update(gc_s=gc1 - gc0, heap_used_mb=heap, spans=tracer.spans[first_span:])
    if os.environ.get("SPARK_GRAFT_SCAN_FANOUT") is not None:
        raise RuntimeError("SPARK_GRAFT_SCAN_FANOUT leaked into the benchmark process")
    rec["after"] = wl.after_pass()
    return rec


def main() -> int:
    with open(sys.argv[1]) as fh:
        req = json.load(fh)

    import eecs_485___mapreduce_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(pkg_dir) != os.getcwd():
        raise RuntimeError(f"package imported from {pkg_dir}, not from the checkout {os.getcwd()}")
    from eecs_485___mapreduce_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{req['workload']}")
    t1 = time.monotonic()
    wl = WORKLOADS[req["workload"]](spark, req["inputs"], req["seed"], req["run_dir"])
    wl.open()
    t2 = time.monotonic()
    spark.range(1).count()
    res = {
        "package": pkg_dir,
        "setup_s": time.monotonic() - req["launched"],
        "session_start_s": t1 - t0,
        "open_s": t2 - t1,
        "passes": [],
    }
    if req["role"] == "main":
        tracer = spans.Tracer(spark) if req["trace"] else spans.NULL
        res["passes"].append(run_pass(wl, "cold", spans.NULL))
        for _ in range(wl.warm_passes):
            res["passes"].append(run_pass(wl, "warm", spans.NULL))
        measured, n = 0.0, 0
        # With tracing on, timed passes alternate traced and untraced so
        # the run itself shows the tracing overhead.
        while measured < req["seconds"] or n < max(wl.min_timed_passes, 2 if req["trace"] else 1):
            traced = req["trace"] and n % 2 == 0
            rec = run_pass(wl, "timed", tracer if traced else spans.NULL)
            res["passes"].append(rec)
            measured += rec["seconds"]
            n += 1
        if req["trace"]:
            tracer.dump(req["spans_out"])
    with open(req["out"], "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # The result is on disk; run.py stops the JVM and the Python workers
    # of this session, so skip Spark's orderly shutdown.
    os._exit(code)
