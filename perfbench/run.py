"""Pipeline-pass benchmark of the spark-graft engine.

Runs one workload (a fixed list of catalog queries, see workloads.py) as
repeated pipeline passes in one process on ``local[--cores]``, checks
every query's result against its DuckDB oracle, and prints one JSON
result as the last line of standard output:

    python3 perfbench/run.py --workload prosopography --seed 1 --seconds 30 --trace 0

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (event log, Catalyst phase times,
streaming progress, per-query spans) and writes its spans under
``.perfbench_work/traces``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
# scripts/check_correctness.py provides the result canonicalization
sys.path.append(os.path.join(ROOT, "scripts"))

import datagen  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, all_queries  # noqa: E402

# a run must end well inside the 180 s a caller allows it
DEADLINE_S = 170
# every run's steady passes start with one warm-up pass: it is checked
# against the oracle and not reported, and it takes the steepest part of
# the JIT warm-up slope out of the reported passes. After it, --seconds buys
# one reported pass per PASS_SLOT_S, at least MIN_STEADY; the count never
# depends on how fast the code runs, so two commits are read at the same
# point of the warm-up curve
PASS_SLOT_S = 10
MIN_STEADY = 3
# a traced run's reported passes: untraced (False) and traced (True) in ABBA
# order, so a linear warm-up drift cancels out of trace.overhead_s
TRACED_PASSES = (False, True, True, False)

END_TO_END = {"setup_s": "s", "cold_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "session.sweep_s": "s",
    "session.persistent_rdds": "count",
    "session.reset_s": "s",
    "session.memo_entries": "count",
    "session.cached_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.exchanges": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.sched_delay_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.core_util": "ratio",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "sinks.write_s": "s",
    "sinks.bytes": "count",
    "sinks.files": "count",
    "trace.overhead_s": "s",
    **{f"q.{q}.s": "s" for q in all_queries()},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0, help="query-order permutation; 0 = catalog order")
    p.add_argument("--seconds", type=float, default=30.0,
                   help=f"measured time: one steady pass per {PASS_SLOT_S} s, at least {MIN_STEADY}")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=3, help="N of local[N]")
    p.add_argument("--data", default=None,
                   help="read the input tables from this directory instead of generating them")
    return p.parse_args(argv)


def steady_passes(seconds: float) -> int:
    return max(MIN_STEADY, int(seconds // PASS_SLOT_S))


def query_order(names: list[str], seed: int) -> list[str]:
    order = list(names)
    if seed:
        random.Random(seed).shuffle(order)
    return order


def fingerprint(pdf) -> tuple[int, str, list[str]]:
    """(row count, order-insensitive value hash, sorted columns)."""
    from check_correctness import canonical

    cols, rows, digest = canonical(pdf)
    return len(rows), digest, cols


def configure_env(run_dir: str, cores: int, event_log: str | None) -> None:
    """Point every temp file, Spark local dir and Python worker at this
    checkout; must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Bench:
    """One workload's passes in one session, with their timings."""

    def __init__(self, spark, queries, data_dir: str, out_dir: str, workload: str):
        from prosnet_prefect_pipelines_spark import session

        self.spark, self.queries, self.session = spark, queries, session
        self.data_dir, self.out_dir = data_dir, out_dir
        self.sinks = dict(WORKLOADS[workload]["queries"])
        self.null_lang_added: set[str] = set()
        self.oracle = None

    # -- sinks ---------------------------------------------------------
    def sink(self, name: str, df, path: str) -> None:
        kind = self.sinks[name]
        if kind == "noop":
            df.write.format("noop").mode("overwrite").save()
        elif kind == "json":
            from prosnet_prefect_pipelines_spark import sinks

            sinks.write_json_docs(df, path)
        else:
            from prosnet_prefect_pipelines_spark.sources import rdf

            if "o_lang" not in df.columns:
                # entity_resolution returns (s, p, o) only; the writer
                # needs o_lang, so publish its triples as untagged
                from pyspark.sql import functions as F

                df = df.withColumn("o_lang", F.lit(None).cast("string"))
                self.null_lang_added.add(name)
            (rdf.write_ntriples if kind == "ntriples" else rdf.write_turtle)(df, path)

    # -- oracle --------------------------------------------------------
    def check(self, name: str, df) -> tuple[int, str | None]:
        """(result rows, None) when ``df`` matches its DuckDB oracle, else
        (rows, the reason)."""
        import duckdb

        import __spark_entry__ as entry

        if self.oracle is None:
            self.oracle = duckdb.connect()
            for t in datagen.TABLES:
                self.oracle.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                )
        got = fingerprint(df.toPandas())
        want = fingerprint(self.oracle.sql(entry.oracle_sql()[name]).df())
        return got[0], None if got == want else f"fingerprint {got[:2]} != oracle {want[:2]}"

    # -- passes --------------------------------------------------------
    def between_passes(self) -> tuple[float, float]:
        """Reset memo fixtures, collect Python and JVM garbage, drop the
        last pass's written output; returns the reset's (start, end)."""
        t0 = time.time()
        self.session.reset_memo_fixtures(self.spark)
        t1 = time.time()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        shutil.rmtree(self.out_dir, ignore_errors=True)
        return t0, t1

    def run_pass(self, order: list[str], check: bool, traced: bool) -> dict:
        """One pass. With ``check``, each result is fingerprinted after its
        sink and before its sweep (which frees blocks a re-run needs),
        outside the query's timed spans."""
        from layers import cached_mb, catalyst, dir_size

        queries = []
        for name in order:
            q = {"name": name}
            path = os.path.join(self.out_dir, name)
            try:
                t0 = time.time()
                df = self.queries[name](self.spark, self.data_dir)
                q["build"] = (t0, time.time())
                if traced:
                    t0 = time.time()
                    q["catalyst"] = catalyst(df)
                    q["catalyst_span"] = (t0, time.time())
                t0 = time.time()
                self.sink(name, df, path)
                q["action"] = (t0, time.time())
                if check:
                    q["rows"], q["error"] = self.check(name, df)
                if traced:
                    q["cached_mb"] = cached_mb(self.spark)
                    if self.sinks[name] != "noop":
                        q["sink_bytes"], q["sink_files"] = dir_size(path)
            except Exception as exc:  # a failed query counts; the pass goes on
                q["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            t0 = time.time()
            q["swept"] = self.session.sweep_persistent_rdds(self.spark)
            q["sweep"] = (t0, time.time())
            q["s"] = sum(
                q[k][1] - q[k][0] for k in ("build", "catalyst_span", "action", "sweep") if k in q
            )
            if q.get("error"):
                print(f"# FAIL {name}: {q['error']}", file=sys.stderr)
            queries.append(q)
        return {
            "queries": queries,
            "traced": traced,
            "s": sum(q["s"] for q in queries),
            "cached_mb": max((q.get("cached_mb", 0.0) for q in queries), default=0.0),
            "memo_entries": sum(len(c) for c in self.session._MEMO_CACHES),
        }


def layer_metrics(passes: list[dict], log: dict, progress, cores: int) -> dict:
    """Per-pass sums of each layer's readings; the caller takes medians."""
    from layers import in_window

    rows = []
    for p in passes:
        m = dict.fromkeys(PER_LAYER, 0.0)
        for q in p["queries"]:
            m[f"q.{q['name']}.s"] = q["s"]
            m["session.sweep_s"] += q["sweep"][1] - q["sweep"][0]
            m["session.persistent_rdds"] += q["swept"]
            if "build" not in q:
                continue
            m["plans.build_s"] += q["build"][1] - q["build"][0]
            if "catalyst" in q:
                for k in ("analysis", "optimization", "planning"):
                    m[f"catalyst.{k}_s"] += q["catalyst"][k]
                m["catalyst.exchanges"] += q["catalyst"]["exchanges"]
            if "action" in q:
                a = q["action"][1] - q["action"][0]
                m["exec.action_s"] += a
                if "sink_bytes" in q:
                    m["sinks.write_s"] += a
                    m["sinks.bytes"] += q["sink_bytes"]
                    m["sinks.files"] += q["sink_files"]
            m["plans.build_jobs"] += len(in_window(log["jobs"], *q["build"]))
            if "action" in q:
                m["exec.jobs"] += len(in_window(log["jobs"], *q["action"]))
                m["exec.stages"] += len(in_window(log["stages"], *q["action"]))
                for t in in_window(log["tasks"], *q["action"]):
                    m["exec.tasks"] += 1
                    for k in ("task_s", "sched_delay_s", "gc_s", "shuffle_read_mb",
                              "shuffle_write_mb", "spill_mb"):
                        m[f"exec.{k}"] += t[k]
            lo, hi = q["build"][0] * 1000, q["sweep"][1] * 1000
            runs: dict[str, int] = {}
            for t, batch_s, commit_s, run_id, state_rows in progress:
                if lo <= t <= hi:
                    m["streaming.batches"] += 1
                    m["streaming.batch_s"] += batch_s
                    m["streaming.commit_s"] += commit_s
                    runs[run_id] = max(runs.get(run_id, 0), state_rows)
            m["streaming.state_rows"] += sum(runs.values())
        m["session.memo_entries"] = p["memo_entries"]
        m["session.cached_mb"] = p["cached_mb"]
        if m["exec.action_s"]:
            m["exec.core_util"] = m["exec.task_s"] / (m["exec.action_s"] * cores)
        rows.append(m)
    return {k: stats.median(r[k] for r in rows) for k in PER_LAYER}


def spans(run_id: str, setup: tuple, resets: list, cold: dict, steady: list) -> list[dict]:
    """The run's layer spans: name, start, end, parent, run id."""
    out = [{"id": 0, "name": "run", "start": setup[0], "end": time.time(), "parent": None}]

    def add(name, se, parent):
        out.append({"id": len(out), "name": name, "start": se[0], "end": se[1], "parent": parent})
        return len(out) - 1

    add("session.get_spark", setup[1], 0)
    for r in resets:
        add("session.reset_memo_fixtures", r, 0)
    for i, p in enumerate([cold] + steady):
        qs = p["queries"]
        pid = add(f"pass.{i}", (qs[0].get("build", qs[0]["sweep"])[0], qs[-1]["sweep"][1]), 0)
        for q in qs:
            qid = add(f"query.{q['name']}", (q.get("build", q["sweep"])[0], q["sweep"][1]), pid)
            for key, name in (("build", "plans.build"), ("catalyst_span", "catalyst"),
                              ("action", "exec.action"), ("sweep", "session.sweep")):
                if key in q:
                    add(name, q[key], qid)
    for s in out:
        s["run"] = run_id
    return out


def write_trace(args, order: list[str], bench: Bench, metrics: dict, span_list: list) -> None:
    """Write the traced run's spans and metrics under .perfbench_work/traces."""
    from prosnet_prefect_pipelines_spark.plans import catalog

    run_id = span_list[0]["run"]
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{run_id}.json")
    with open(path, "w") as fh:
        json.dump({
            "run": run_id, "workload": args.workload, "seed": args.seed,
            "cores": args.cores, "order": order,
            "modules": {q: catalog.MODULES[q] for q in order},
            "coverage": {q: catalog.COVERAGE[q] for q in order},
            "null_o_lang_added": sorted(bench.null_lang_added),
            "metrics": metrics,
            "spans": span_list,
        }, fh, indent=1)
    print(f"# trace written to {os.path.relpath(path, ROOT)}")


def stop_jvm() -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def on_deadline(signum, frame):
    print(f"error: run exceeded {DEADLINE_S} s", file=sys.stderr)
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.proc.kill()
        gw.proc.wait()
    os._exit(3)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"error: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    data_dir = os.path.abspath(args.data) if args.data else datagen.ensure_data(WORK)
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    os.makedirs(runs)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    configure_env(run_dir, args.cores, event_log)
    order = query_order([q for q, _ in WORKLOADS[args.workload]["queries"]], args.seed)

    try:
        try:
            # set-up: from here to a live session, the catalog imported and
            # every input table readable
            t_setup = time.time()
            sys.path.insert(0, ROOT)
            from prosnet_prefect_pipelines_spark import session

            t0 = time.time()
            spark = session.get_spark("perfbench", cpus=args.cores)
            start = (t0, time.time())
            import __spark_entry__ as entry

            queries = entry.queries()
            for t in datagen.TABLES:
                spark.read.parquet(os.path.join(data_dir, f"{t}.parquet")).schema
            setup_s = time.time() - t_setup

            if args.trace:
                from layers import ProgressRecorder

                progress = ProgressRecorder()
                spark.streams.addListener(progress)

            bench = Bench(spark, queries, data_dir, os.path.join(run_dir, "out"), args.workload)
            resets = [bench.between_passes()]
            cold = bench.run_pass(order, check=False, traced=False)
            if args.trace:
                plan = [False, *TRACED_PASSES]
            else:
                plan = [False] * (1 + steady_passes(args.seconds))
            steady: list[dict] = []
            for i, trace_pass in enumerate(plan):
                resets.append(bench.between_passes())
                steady.append(bench.run_pass(order, check=i == 0, traced=trace_pass))
            if args.trace:
                time.sleep(0.5)  # let the listener bus deliver the last progress events
        finally:
            stop_jvm()  # also closes the event log
        passes = [cold] + steady
        attempted = sum(len(p["queries"]) for p in passes)
        failed = sum(1 for p in passes for q in p["queries"] if q.get("error"))
        if args.trace:
            from layers import read_event_log

            traced = [p for p in steady[1:] if p["traced"]]
            untraced = [p for p in steady[1:] if not p["traced"]]
            metrics = layer_metrics(
                traced, read_event_log(event_log), list(progress.batches), args.cores
            )
            metrics["session.start_s"] = start[1] - start[0]
            metrics["session.reset_s"] = stats.median(e - s for s, e in resets[1:])
            metrics["trace.overhead_s"] = (
                stats.median(p["s"] for p in traced) - stats.median(p["s"] for p in untraced)
            )
            units = PER_LAYER
            write_trace(args, order, bench, metrics, spans(
                f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}",
                (t_setup, start), resets, cold, steady,
            ))
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_s": cold["s"],
                "pass_s": stats.median(p["s"] for p in steady[1:]),
            }
            units = END_TO_END
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# workload={args.workload} seed={args.seed} cores={args.cores} "
          f"order={','.join(order)}")
    print("# pass seconds (cold, warm-up, reported): " + " ".join(
        f"{p['s']:.3f}{'t' if p['traced'] else ''}" for p in [cold] + steady))
    for q in steady[0]["queries"]:
        print(f"#   {q['name']}: rows={q.get('rows', '-')} s=" + " ".join(
            f"{r['s']:.3f}" for p in [cold] + steady for r in p["queries"]
            if r["name"] == q["name"]))
    if bench.null_lang_added:
        print(f"# null o_lang added before write_ntriples: {','.join(sorted(bench.null_lang_added))}")
    print(f"# fail_frac={failed / attempted:.4f} ({failed}/{attempted}) "
          f"wall={time.time() - T_PROCESS:.1f}s")
    for k, v in metrics.items():
        print(f"# {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
