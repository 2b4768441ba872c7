"""The three workloads: what one pass runs, and how each job is checked.

A workload is one closed-loop client: it starts a job only after the
previous one has finished. A job is a ``Job(name, run, check)``; ``run``
is the timed call into the package, ``check`` (untimed) returns an error
message or None. Only public package functions are called.

``prepare`` makes the inputs and the expected outputs; the caller runs
it outside every timed region and caches its results by seed.
"""

from __future__ import annotations

import json
import os
import random
import shlex
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import gen
import spans

# The 22 bench-tagged registry queries. ``cpu_probe_lcg`` is tagged too
# but is a host-speed probe, not user work, so it is left out.
QUERIES = (
    "funnel_view_click_purchase",
    "rolling_1h_user_value",
    "text_tfidf_top_terms",
    "embedding_quantize_int8",
    "similarity_topk_cosine",
    "text_unigram_logprob",
    "asof_join_purchase_click",
    "events_sliding_windows",
    "events_hourly",
    "sessionize_two_level_stitch",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_gram_matrix",
    "multimodal_frame_sample",
    "text_token_stats",
    "ddsketch_price_quantiles",
    "wordcount",
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_region_revenue",
    "q7_nation_volume",
    "q10_returned_items",
)

TABLES_SEED = 42  # the query tables are fixed; the seed orders the queries
CORPUS_MB = 4.0
BATCHES = 4
PIPE_MAPPERS = 4
PIPE_WC_REDUCERS = 4


@dataclass
class Job:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None] | None = None


class Workload:
    """One pass's jobs come from ``pass_jobs(kind)``, kind being "cold",
    "warm" or "timed"; ``after_pass`` clears per-pass state and returns
    its counters. ``tracer`` is set by the caller before each pass.

    Pass times level off after the cold pass (second and later passes
    differ by no more than pass-to-pass noise), so by default the second
    pass is already timed."""

    tracer = spans.NULL
    warm_passes = 0
    min_timed_passes = 1


def _normalize():
    """``tests/conftest.py::normalize``, imported without letting the
    suite's ``SPARK_GRAFT_SCAN_FANOUT=off`` default leak into this
    process."""
    import sys

    saved = dict(os.environ)
    sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
    try:
        from conftest import normalize
    finally:
        sys.path.pop(0)
        os.environ.clear()
        os.environ.update(saved)
    return normalize


# ----------------------------------------------------------------- prepare


def prepare(workload: str, seed: int, cache: str) -> dict:
    """Make (or find cached) inputs and expected outputs; return paths."""
    tables = os.path.join(cache, f"tables-{TABLES_SEED}")
    if workload in ("queries", "table-commits") and not os.path.exists(os.path.join(tables, "DONE")):
        tmp = tables + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.make_tables(tmp, TABLES_SEED)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(tables, ignore_errors=True)
        os.replace(tmp, tables)
    if workload == "queries":
        oracle = os.path.join(cache, f"oracle-{TABLES_SEED}.json")
        if not os.path.exists(oracle):
            gen.write_json(oracle, _oracle_results(tables))
        return {"tables": tables, "oracle": oracle}
    if workload == "text-jobs":
        corpus = os.path.join(cache, f"corpus-{seed}")
        expected = os.path.join(corpus, "expected.json")
        if not os.path.exists(expected):
            shutil.rmtree(corpus, ignore_errors=True)
            gen.write_json(expected, gen.make_corpus(corpus, seed, CORPUS_MB, BATCHES))
        return {"corpus": corpus, "expected": expected}
    if workload == "table-commits":
        plan = gen.commit_plan(seed)
        expected = os.path.join(cache, f"commits-{seed}.parquet")
        counts = os.path.join(cache, f"commits-{seed}.json")
        if not os.path.exists(counts):
            gen.write_json(counts, _replay_commits(tables, plan, expected))
        return {"tables": tables, "plan": plan, "expected": expected, "counts": counts}
    raise ValueError(f"unknown workload {workload!r}")


def _duck(tables: str):
    import duckdb

    from eecs_485___mapreduce_spark.sources import TABLES

    con = duckdb.connect()
    con.execute(f"SET threads={os.cpu_count()}")
    con.execute(f"SET temp_directory='{os.path.join(tables, '..', 'duckdb-tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    return con


def _oracle_results(tables: str) -> dict:
    """Each query's DuckDB oracle at the generated tables: sorted column
    names and ``normalize``d rows."""
    from eecs_485___mapreduce_spark.registry import all_queries

    normalize = _normalize()
    registry = all_queries()
    con = _duck(tables)
    out = {}
    for name in QUERIES:
        cur = con.execute(registry[name].oracle)
        cols = [d[0] for d in cur.description]
        out[name] = {"cols": sorted(cols), "rows": normalize(cur.fetchall(), cols)}
    return out


def _merge_source_sql(plan: dict, j: int) -> str:
    m = plan["merges"][j]
    return (
        "SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus, o_totalprice + 1 AS o_totalprice, "
        f"o_orderdate, o_orderpriority FROM orders WHERE ({m['update']}) OR ({m['insert']})"
    )


def _replay_commits(tables: str, plan: dict, expected_path: str) -> dict:
    """The ``table-commits`` operations replayed in DuckDB: writes the
    final rows (sorted by key) and returns the row counts to expect."""
    con = _duck(tables)
    con.execute(f"CREATE TABLE t AS SELECT * FROM orders WHERE {plan['create']}")
    v0 = con.execute("SELECT count(*) FROM t").fetchone()[0]
    for pred in plan["appends"]:
        con.execute(f"INSERT INTO t SELECT * FROM orders WHERE {pred}")
    for j in range(len(plan["merges"])):
        src = _merge_source_sql(plan, j)
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM ({src}))")
        con.execute(f"INSERT INTO t {src}")
    con.execute(f"DELETE FROM t WHERE {plan['delete']}")
    sets = ", ".join(f"{c} = {e}" for c, e in plan["update_set"].items())
    con.execute(f"UPDATE t SET {sets} WHERE {plan['update']}")
    con.execute("SELECT * FROM t ORDER BY o_orderkey").df().to_parquet(expected_path)
    final = con.execute("SELECT count(*) FROM t").fetchone()[0]
    return {"v0": v0, "final": final}


# --------------------------------------------------------------- workloads


class Queries(Workload):
    """The headline analytics and LLM-pipeline mix through the noop sink.

    The warm-up pass is the verification pass: it collects every query
    and checks it against its oracle. The cold and timed passes write to
    the noop sink and have no output to check."""

    name = "queries"
    warm_passes = 1
    # A pass is 22 different queries (0.14-0.9 s each); two timed passes
    # give the job percentiles 44 samples instead of 22.
    min_timed_passes = 2

    def __init__(self, spark, inputs: dict, seed: int, run_dir: str):
        from eecs_485___mapreduce_spark.registry import all_queries

        registry = all_queries()
        missing = [q for q in QUERIES if q not in registry or not registry[q].bench]
        if missing:
            raise KeyError(f"pinned bench queries missing from the registry: {missing}")
        self.spark, self.inputs = spark, inputs
        self.fns = {q: registry[q].fn for q in QUERIES}
        self.rng = random.Random(seed)

    def open(self) -> None:
        from eecs_485___mapreduce_spark.sources import TABLES, load_table

        for t in TABLES:
            load_table(self.spark, self.inputs["tables"], t)

    def after_pass(self) -> dict:
        from eecs_485___mapreduce_spark.functions import release_scope

        return {"persisted": release_scope()}

    def pass_jobs(self, kind: str) -> list[Job]:
        order = list(QUERIES)
        self.rng.shuffle(order)
        if kind == "warm":
            oracle, normalize = _load_json(self.inputs["oracle"]), _normalize()
            return [Job(q, self._collect(q), _compare(oracle[q], normalize)) for q in order]
        return [Job(q, self._noop(q)) for q in order]

    def _noop(self, q: str):
        from eecs_485___mapreduce_spark.plans import physical_plan

        fn, sf, tr = self.fns[q], self.inputs["tables"], self.tracer

        def run():
            with tr.span("queries.build", q):
                df = fn(self.spark, sf)
            if tr.on:
                with tr.span("plans.plan", q):
                    physical_plan(df)
            with tr.span("spark.exec", q):
                df.write.mode("overwrite").format("noop").save()

        return run

    def _collect(self, q: str):
        def run():
            df = self.fns[q](self.spark, self.inputs["tables"])
            return df.columns, df.collect()

        return run



def _compare(want: dict, normalize):
    """Check ``(columns, rows)`` against a query's cached oracle result."""
    want_rows = [tuple(r) for r in want["rows"]]

    def check(out) -> str | None:
        cols, rows = out
        if sorted(cols) != want["cols"]:
            return f"columns {sorted(cols)} != oracle {want['cols']}"
        got = normalize(rows, cols)
        if got != want_rows:
            diff = [(a, b) for a, b in zip(got, want_rows) if a != b][:2]
            return f"rows differ: {len(got)} vs oracle {len(want_rows)}, first {diff}"
        return None

    return check


def _load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def _part_lines(out_dir: str) -> list[str]:
    lines: list[str] = []
    for f in sorted(os.listdir(out_dir)):
        if f.startswith("part-"):
            with open(os.path.join(out_dir, f)) as fh:
                lines.extend(fh.read().splitlines())
    return lines


def _dir_stats(out_dir: str) -> tuple[int, int]:
    parts = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    return len(parts), sum(os.path.getsize(os.path.join(out_dir, f)) for f in parts)


class TextJobs(Workload):
    """The reference's own capability: streaming (piped executables)
    and native word count and grep over text batches."""

    name = "text-jobs"

    def __init__(self, spark, inputs: dict, seed: int, run_dir: str):
        from eecs_485___mapreduce_spark.engine import MapReduceEngine

        self.spark = spark
        self.expected = _load_json(inputs["expected"])["batches"]
        self.engine = MapReduceEngine(spark)
        self.out = os.path.join(run_dir, "out")
        fixtures = os.path.join(os.getcwd(), "tests", "fixtures")
        self.exe = {k: os.path.join(fixtures, f"{k}.py") for k in ("wc_map", "wc_reduce", "grep_map", "grep_reduce")}
        self.launches = os.path.join(run_dir, "launches")
        self.shim = os.path.join(os.path.dirname(os.path.abspath(__file__)), "count_exec.sh")
        self.sink = {"files": 0, "bytes": 0}

    def open(self) -> None:
        from eecs_485___mapreduce_spark.sources import read_text_dir

        for b in self.expected:
            read_text_dir(self.spark, b["dir"])

    def after_pass(self) -> dict:
        launched = 0
        if os.path.exists(self.launches):
            with open(self.launches) as fh:
                launched = len(fh.readlines())
            os.remove(self.launches)
        out = {"pipe_procs": launched, "out_files": self.sink["files"], "out_mb": self.sink["bytes"] / 1e6}
        self.sink = {"files": 0, "bytes": 0}
        return out

    def pass_jobs(self, kind: str) -> list[Job]:
        jobs = []
        for i in range(len(self.expected)):
            jobs += [
                Job(f"pipe_wc.b{i}", self._pipe(i, "wc", PIPE_WC_REDUCERS), self._check_wc(i, "pipe_wc")),
                Job(f"pipe_grep.b{i}", self._pipe(i, "grep", 1), self._check_grep(i, "pipe_grep")),
                Job(f"native_wc.b{i}", self._native_wc(i), self._check_wc(i, "native_wc")),
                Job(f"native_grep.b{i}", self._native_grep(i), self._check_grep(i, "native_grep")),
            ]
        return jobs

    def _out(self, kind: str, i: int) -> str:
        return os.path.join(self.out, f"{kind}.b{i}")

    def _pipe(self, i: int, prog: str, reducers: int):
        from eecs_485___mapreduce_spark.engine import StreamingJob

        # Piped commands are split with shlex, so paths are quoted.
        mapper, reducer = (shlex.quote(self.exe[f"{prog}_{k}"]) for k in ("map", "reduce"))
        if self.tracer.on:
            # Count executable launches: each piped command runs through
            # a shell shim that appends a line to a file, then execs.
            shim = f"/bin/sh {shlex.quote(self.shim)} {shlex.quote(self.launches)}"
            mapper, reducer = (f"{shim} {e}" for e in (mapper, reducer))
        job = StreamingJob(
            input_directory=self.expected[i]["dir"],
            output_directory=self._out(f"pipe_{prog}", i),
            mapper_executable=mapper,
            reducer_executable=reducer,
            num_mappers=PIPE_MAPPERS,
            num_reducers=reducers,
        )

        def run():
            with self.tracer.span(f"engine.pipe_{prog}", f"b{i}"):
                self.engine.submit_job(job)
                self.engine.run_pending()

        return run

    def _native_wc(self, i: int):
        from pyspark.sql import functions as F

        from eecs_485___mapreduce_spark.operators import wordcount_text_dir
        from eecs_485___mapreduce_spark.sinks import write_text

        def run():
            with self.tracer.span("operators.native_wc", f"b{i}"):
                df = wordcount_text_dir(self.spark, self.expected[i]["dir"])
                line = F.concat_ws("\t", "word", F.col("cnt").cast("string"))
                write_text(df.select(line), self._out("native_wc", i))

        return run

    def _native_grep(self, i: int):
        from eecs_485___mapreduce_spark.operators import grep_text_dir
        from eecs_485___mapreduce_spark.sinks import write_text

        def run():
            with self.tracer.span("operators.native_grep", f"b{i}"):
                write_text(grep_text_dir(self.spark, self.expected[i]["dir"], gen.GREP_WORD), self._out("native_grep", i))

        return run

    def _count_sink(self, out_dir: str) -> None:
        files, size = _dir_stats(out_dir)
        self.sink["files"] += files
        self.sink["bytes"] += size

    def _check_wc(self, i: int, kind: str):
        def check(_) -> str | None:
            out_dir = self._out(kind, i)
            self._count_sink(out_dir)
            got: dict[str, int] = {}
            for line in _part_lines(out_dir):
                word, _, n = line.partition("\t")
                if word in got:
                    return f"word {word!r} emitted twice"
                got[word] = int(n)
            want = self.expected[i]["wc"]
            if got != want:
                bad = sorted(set(got.items()) ^ set(want.items()))[:3]
                return f"{len(got)} words vs {len(want)} expected; first differences {bad}"
            return None

        return check

    def _check_grep(self, i: int, kind: str):
        def check(_) -> str | None:
            out_dir = self._out(kind, i)
            self._count_sink(out_dir)
            got, want = _part_lines(out_dir), self.expected[i]["grep"]
            if got != want:
                at = next((k for k, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
                return f"{len(got)} lines vs {len(want)} expected; first difference at line {at}"
            return None

        return check


class TableCommits(Workload):
    """The write side: a fresh transaction-log table per pass, built
    from ``orders`` and changed by twelve operations in order."""

    name = "table-commits"

    def __init__(self, spark, inputs: dict, seed: int, run_dir: str):
        self.spark, self.inputs = spark, inputs
        self.plan = inputs["plan"]
        self.counts = _load_json(inputs["counts"])
        self.root = os.path.join(run_dir, "tables")
        self.n_pass = 0
        self.stats: dict = {}

    def open(self) -> None:
        from eecs_485___mapreduce_spark.sources import load_table

        self.orders = load_table(self.spark, self.inputs["tables"], "orders")

    def after_pass(self) -> dict:
        shutil.rmtree(self.td, ignore_errors=True)
        out, self.stats = self.stats, {}
        return out

    def pass_jobs(self, kind: str) -> list[Job]:
        from pyspark.sql import functions as F

        from eecs_485___mapreduce_spark import txnlog

        self.n_pass += 1
        td = self.td = os.path.join(self.root, f"p{self.n_pass}")
        plan, orders, spark, stats = self.plan, self.orders, self.spark, self.stats

        def op(name: str, layer: str, fn, check=None) -> Job:
            def run():
                with self.tracer.span(f"txnlog.{layer}", name):
                    try:
                        return fn()
                    except txnlog.TxnConflict:
                        stats["conflicts"] = stats.get("conflicts", 0) + 1
                        raise

            return Job(name, run, check)

        def merge_source(j: int):
            m = plan["merges"][j]
            return orders.where(f"({m['update']}) OR ({m['insert']})").select(
                "o_orderkey",
                "o_custkey",
                F.lit("M").alias("o_orderstatus"),
                (F.col("o_totalprice") + 1).alias("o_totalprice"),
                "o_orderdate",
                "o_orderpriority",
            )

        traced = self.tracer.on

        def compact():
            if traced:
                stats["live_files_pre_compact"] = txnlog.snapshot_stats(td)["files"]
            out = txnlog.txn_compact(spark, td, cluster_by=["o_orderdate"])
            if traced:
                stats["live_files_post_compact"] = txnlog.snapshot_stats(td)["files"]
            return out

        def vacuum():
            if traced:
                stats["written_bytes"] = _tree_bytes(td)
                stats["versions"] = len(txnlog.txn_history(td))
            # Zero grace is safe: this loop is the only writer and its
            # previous commit has returned.
            out = txnlog.txn_vacuum(td, retain_versions=1, min_age_s=0.0)
            if traced:
                stats["live_bytes"] = _tree_bytes(os.path.join(td, txnlog.DATA_DIR))
            return out

        jobs = [op("create", "create", lambda: txnlog.txn_create(orders.where(plan["create"]), td))]
        for i, pred in enumerate(plan["appends"]):
            jobs.append(op(f"append{i}", "append", lambda p=pred: txnlog.txn_append(orders.where(p), td)))
        for j in range(len(plan["merges"])):
            jobs.append(op(f"merge{j}", "merge", lambda j=j: txnlog.txn_merge(spark, td, merge_source(j), ["o_orderkey"])))
        return jobs + [
            op("delete", "delete", lambda: txnlog.txn_delete_where(spark, td, plan["delete"])),
            op("update", "update", lambda: txnlog.txn_update_where(spark, td, plan["update"], plan["update_set"])),
            op("compact", "compact", compact),
            op("read_latest", "read", lambda: txnlog.read_snapshot(spark, td).count(), self._check_latest),
            op("read_v0", "read", lambda: txnlog.read_snapshot(spark, td, version=0).count(), self._check_v0),
            op("vacuum", "vacuum", vacuum, self._check_vacuum),
        ]

    def _check_latest(self, n: int) -> str | None:
        import pandas as pd

        from eecs_485___mapreduce_spark import txnlog

        if n != self.counts["final"]:
            return f"latest snapshot has {n} rows, replay has {self.counts['final']}"
        want = pd.read_parquet(self.inputs["expected"])
        got = txnlog.read_snapshot(self.spark, self.td).toPandas()
        got = got[list(want.columns)].sort_values("o_orderkey").reset_index(drop=True)
        for c in want.columns:
            a, b = got[c], want[c]
            if c == "o_orderdate":
                a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
            if not a.equals(b):
                k = int((a != b).to_numpy().argmax())
                return f"column {c} differs from the replay, first at o_orderkey={want['o_orderkey'][k]}"
        return None

    def _check_v0(self, n: int) -> str | None:
        return None if n == self.counts["v0"] else f"version 0 has {n} rows, replay has {self.counts['v0']}"

    def _check_vacuum(self, _) -> str | None:
        from eecs_485___mapreduce_spark import txnlog

        n = len(txnlog.txn_history(self.td))
        return None if n == 9 else f"log holds {n} versions, expected 9"


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (Queries, TextJobs, TableCommits)}
