#!/usr/bin/env python3
"""Closed-loop benchmark of the query engine and the rebuild pipeline.

    python3 perfbench/run.py --workload scan_agg --seed 1 --seconds 10 --trace 0

Run it from the repository root. One client runs the workload's operations
one after another on a fresh ``local[<cpus>]`` session, for at least
``--seconds`` of whole passes. ``--seed`` orders the queries of a query
workload within each pass and generates the input of ``rebuild``. Every
operation's output is checked after the timed interval. The last
line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the run alternates untraced and traced passes and reports per-layer
metrics from the traced ones. The line before the result carries the
host and plan context; the full record (per-query and per-table times,
spans, fingerprints) is written to ``.bench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Each query workload is sized so one run (session start, one warm-up
# pass, three timed passes, oracle checks) takes ~55-60 s on 4 cores: a
# benchmark round of 4 + 22 runs per workload has 3420 s.

#: Relational and windowing headline queries: build time is mostly
#: ``load_table`` schema inference, execution is scan -> aggregate, and
#: q03 collects ~15k rows.
SCAN_AGG = (
    "q01_pricing_summary",
    "q02_multi_access_rollup",
    "q03_score_stats",
    "q07_rollup_revenue",
    "q08_dim_denorm",
    "q21_tumbling_window",
    "q22_session_stats",
    "q36_byte_histogram",
)

#: Heavy operators: a fixpoint loop that runs ~20 jobs while the query is
#: built (q194 BFS) and a shuffle-heavy similarity join (q182).
OPERATORS = (
    "q182_prefix_jaccard_join",
    "q194_bfs_hops",
)

QUERY_WORKLOADS = {"scan_agg": SCAN_AGG, "operators": OPERATORS}

#: Generated table scale: lineitem has 6M x SF rows.
SF = 0.01
#: The query workloads read one fixed generation of the tables; their
#: --seed orders the queries within each pass.
TABLES_SEED = 0
#: Copies of the reference-shaped fixture in a generated rebuild input.
REBUILD_BLOCKS = 1
#: Untimed passes after session start: the cold one. The JIT keeps
#: compiling after it (a scan_agg pass spends ~30% more CPU in the second
#: pass than in the fourth), so the timed loop runs at least MIN_UNTRACED
#: untraced passes and reports their median, which drops the second.
#: More warm-up does not reach a steady state within the budget:
#: operators' q194 generates new classes every pass, and the JIT compiler
#: threads still take 35-45% of its pass CPU after three warm-up passes.
WARMUP_PASSES = 1
MIN_UNTRACED = 3
#: Largest share of a query's or a rebuilt table's traced wall time that
#: may fall outside every layer span and job.
UNACCOUNTED_BOUND = 0.25

#: Spans that partition a traced query.
QUERY_SPANS = ("build", "readers", "plan", "collect", "caching")
#: Spans that partition a traced rebuild command.
REBUILD_SPANS = ("read", "rebuild.build", "write")

QUERY_LAYERS = (
    "readers.calls readers.s readers.jobs build.s build.jobs plan.s exec.s "
    "exec.jobs exec.stages exec.tasks exec.task_run_s exec.task_cpu_s "
    "exec.shuffle_read_mb exec.shuffle_write_mb exec.spill_mb collect.s "
    "collect.rows caching.released"
).split()


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run: its arguments, scratch directory, failures and
    the context record written at the end."""

    def __init__(self, args: argparse.Namespace, work: str, t0: float):
        self.args = args
        self.work = work
        self.t0 = t0
        self.attempted = 0
        self.failed = 0
        self.context: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "errors": [],
        }

    def fail(self, what: str, err: object) -> None:
        self.failed += 1
        self.context["errors"].append(f"{what}: {err!r}"[:500])
        print(f"# FAILED {what}: {err!r}"[:2000], file=sys.stderr)

    def passes(self, one_pass, min_untraced: int) -> dict[str, list]:
        """Run ``one_pass(traced)`` until ``--seconds`` have elapsed and at
        least ``min_untraced`` untraced passes ran; with tracing, untraced
        and traced passes alternate, starting and ending untraced. Returns
        each pass's result, keyed by kind."""
        import host

        out: dict[str, list] = {"untraced": [], "traced": []}
        jiffies0, load0 = host.cpu_jiffies(), host.load_1m()
        t0 = time.perf_counter()
        while True:
            traced = bool(self.args.trace) and len(out["untraced"]) > len(out["traced"])
            cpu0, p0 = host.tree_cpu_s(), time.perf_counter()
            res = one_pass(traced)
            res["wall_s"] = time.perf_counter() - p0
            res["cpu_s"] = host.tree_cpu_s() - cpu0
            out["traced" if traced else "untraced"].append(res)
            # traced runs end on an untraced pass, so each traced pass has
            # an untraced neighbour on both sides
            if (
                time.perf_counter() - t0 >= self.args.seconds
                and len(out["untraced"]) >= min_untraced
                and (not self.args.trace or len(out["untraced"]) > len(out["traced"]) > 0)
            ):
                break
        self.context.update(
            cpus=host.cpus(),
            load_1m_before=load0,
            load_1m_after=host.load_1m(),
            steal_frac=host.steal_frac(jiffies0, host.cpu_jiffies()),
            pass_wall_s={k: [p["wall_s"] for p in v] for k, v in out.items()},
            pass_cpu_s={k: [p["cpu_s"] for p in v] for k, v in out.items()},
        )
        return out

    def generate(self, make) -> None:
        t0 = time.perf_counter()
        self.context["input_rows"] = make()
        self.context["gen_s"] = time.perf_counter() - t0

    def end_setup(self) -> float:
        """Close the set-up phase (imports, session start, input
        generation, warm-up): record its wall time and return its CPU
        seconds, those of the whole process tree since it started."""
        import host

        self.context["setup_wall_s"] = time.perf_counter() - self.t0
        return host.tree_cpu_s()


def _session(work: str, trace: bool):
    """A fresh local[<cpus>] session whose scratch files stay in ``work``."""
    from synth_transform_spark.session import get_spark, silence_bounded_window_warnings

    overrides = {
        # no hsperfdata: HotSpot writes it under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work} "
            "-XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # jobs are read after each unit of work; the default retention
        # (100 jobs/stages) is shorter than one rebuilt table's jobs
        overrides.update(
            {
                "spark.ui.retainedJobs": "10000",
                "spark.ui.retainedStages": "10000",
                "spark.sql.ui.retainedExecutions": "10000",
            }
        )
    with contextlib.redirect_stdout(sys.stderr):
        spark = get_spark("perfbench", **overrides)
        silence_bounded_window_warnings(spark)
    return spark


# -- query workloads -----------------------------------------------------------
def _query_op(run: Run, spark, query, data_dir: str, tracer):
    """Build one query and collect it to pandas. Returns (seconds, pandas
    result or None if it raised, the traced unit span or None)."""
    from synth_transform_spark.caching import release_cached

    run.attempted += 1
    t0 = time.perf_counter()
    try:
        if tracer is None:
            pdf = query.spark(spark, data_dir).toPandas()
            dt = time.perf_counter() - t0
            release_cached()
            return dt, pdf, None
        with tracer.span("query", query=query.name) as unit:
            with tracer.span("build"):
                df = query.spark(spark, data_dir)
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("collect") as collect:
                pdf = df.toPandas()
                collect.attrs["rows"] = len(pdf)
            with tracer.span("caching") as caching:
                caching.attrs["released"] = release_cached()
        tracer.close_unit(unit)
        return unit.dur, pdf, unit
    except Exception as ex:  # the op failed; the loop goes on
        release_cached()
        run.fail(query.name, ex)
        return time.perf_counter() - t0, None, None


def _query_layers(tracer, units) -> dict[str, float]:
    """Per-layer totals over the traced query units of one pass. Layer self
    times partition each unit: readers, build (minus readers), plan, exec
    (jobs run by the collect call), collect (minus exec) and caching. The
    unaccounted share of a unit is its time inside none of those spans
    and no job."""
    tot = dict.fromkeys(QUERY_LAYERS, 0.0)
    gaps = []
    for unit in units:
        parts = {c.name: c for c in tracer.children(unit)}
        build, plan, collect, caching = (parts[k] for k in ("build", "plan", "collect", "caching"))
        readers = [c for c in tracer.children(build) if c.name == "readers"]
        readers_s = sum(r.dur for r in readers)
        exec_s = tracer.job_time(collect)
        exec_jobs = tracer.jobs_under(collect)
        tot["readers.calls"] += len(readers)
        tot["readers.s"] += readers_s
        tot["readers.jobs"] += sum(len(tracer.jobs_under(r)) for r in readers)
        tot["build.s"] += build.dur - readers_s
        tot["build.jobs"] += sum(1 for c in tracer.children(build) if c.name == "job")
        tot["plan.s"] += plan.dur
        tot["exec.s"] += exec_s
        tot["exec.jobs"] += len(exec_jobs)
        tot["collect.s"] += collect.dur - exec_s
        tot["collect.rows"] += collect.attrs["rows"]
        tot["caching.released"] += caching.attrs["released"]
        for job in exec_jobs:
            for st in job.attrs["stages"]:
                tot["exec.stages"] += 1
                tot["exec.tasks"] += st["tasks"]
                tot["exec.task_run_s"] += st["run_s"]
                tot["exec.task_cpu_s"] += st["cpu_s"]
                tot["exec.shuffle_read_mb"] += st["shuffle_read_mb"]
                tot["exec.shuffle_write_mb"] += st["shuffle_write_mb"]
                tot["exec.spill_mb"] += st["spill_mb"]
        gaps.append(tracer.uncovered(unit, QUERY_SPANS) / unit.dur)
    tot["trace.unaccounted_max"] = max(gaps)
    return tot


def run_queries(run: Run, spark, names: tuple[str, ...]) -> dict:
    from bench import plan_fingerprint
    from synth_transform_spark.caching import release_cached
    from synth_transform_spark.plans import REGISTRY
    from synth_transform_spark.testing import compare, duckdb_connection
    from tables import generate_tables
    from spans import Tracer, wrap_readers

    args = run.args
    data_dir = os.path.join(run.work, "tables")
    run.generate(lambda: generate_tables(data_dir, TABLES_SEED, SF))
    run.context["sf"] = SF
    queries = [REGISTRY[n] for n in names]

    fingerprints = {}
    for _ in range(WARMUP_PASSES):
        for q in queries:
            run.attempted += 1
            try:
                df = q.spark(spark, data_dir)
                if q.name not in fingerprints:
                    fingerprints[q.name] = plan_fingerprint(df)
                df.toPandas()
            except Exception as ex:
                run.fail(f"warm-up {q.name}", ex)
            release_cached()
    run.context["plan_fingerprints"] = fingerprints
    setup_s = run.end_setup()

    # seed = the query order within each pass
    rng = random.Random(args.seed)
    tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
    results: list[tuple[str, object]] = []
    latencies: dict[str, list[float]] = {}

    def one_pass(traced: bool) -> dict:
        units, lat = [], []
        with wrap_readers(tracer) if traced else contextlib.nullcontext():
            for q in rng.sample(queries, len(queries)):
                dt, pdf, unit = _query_op(run, spark, q, data_dir, tracer if traced else None)
                results.append((q.name, pdf))
                lat.append(dt)
                latencies.setdefault(q.name, []).append(dt)
                if unit is not None:
                    units.append(unit)
        out = {"query_p50_s": _median(lat)}
        if traced:
            out["layers"] = _query_layers(tracer, units)
            out["per_query"] = {
                u.attrs["query"]: {"s": u.dur, "jobs": len(tracer.jobs_under(u))} for u in units
            }
        return out

    passes = run.passes(one_pass, MIN_UNTRACED)
    run.context["query_s"] = {k: _median(v) for k, v in latencies.items()}

    # correctness, outside the timed interval: every result against its
    # DuckDB oracle over the same generated tables
    con = duckdb_connection(data_dir)
    oracles: dict[str, object] = {}
    for name, pdf in results:
        if pdf is None:
            continue  # counted when it raised
        if name not in oracles:
            oracles[name] = con.execute(REGISTRY[name].oracle).df()
        verdict = compare(pdf, oracles[name])
        if not verdict.ok:
            run.fail(f"oracle {name}", verdict.detail)
    con.close()

    untraced = passes["untraced"]
    if not args.trace:
        # wall time is reported in the context, not bounded: a CPU-steal
        # episode on the shared host inflates it by 40-100% for minutes
        run.context["latency_s"] = {
            "wall_s": _median([p["wall_s"] for p in untraced]),
            "query_p50_s": _median([p["query_p50_s"] for p in untraced]),
        }
        return {"setup_s": setup_s, "cpu_s": _median([p["cpu_s"] for p in untraced])}
    traced = passes["traced"]
    run.context["per_query"] = [p["per_query"] for p in traced]
    run.context["spans"] = tracer.records()
    metrics = {k: _median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    worst = max(p["layers"]["trace.unaccounted_max"] for p in traced)
    if worst > UNACCOUNTED_BOUND:
        run.fail("accounting", f"a query left {worst:.3f} of its traced wall outside every layer")
    metrics["trace.overhead_s"] = _median([p["wall_s"] for p in traced]) - _median(
        [p["wall_s"] for p in untraced]
    )
    return metrics


# -- rebuild workload ----------------------------------------------------------
def _cli(argv: list[str]) -> dict:
    """Run one ``synth`` CLI command; return the JSON it prints."""
    from synth_transform_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = cli.main(argv)
    if code != 0:
        raise RuntimeError(f"{argv[0]} exited {code}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _digest(path: str) -> str:
    """Order-insensitive digest of a parquet table's rows."""
    import hashlib

    import pyarrow.parquet as pq

    def canon(v):
        return repr(round(v, 9)) if isinstance(v, float) else repr(v)

    rows = sorted(
        "|".join(canon(v) for v in row.values()) for row in pq.read_table(path).to_pylist()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


@contextlib.contextmanager
def _wrap_pipeline(tracer):
    """Time ``pipeline.rebuild.rebuild``, each parquet read and each
    parquet write as spans while active."""
    import importlib

    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    # the package re-exports the function under the submodule's name
    rebuild_mod = importlib.import_module("synth_transform_spark.pipeline.rebuild")

    build, read, write = rebuild_mod.rebuild, DataFrameReader.parquet, DataFrameWriter.parquet

    def traced_build(*a, **kw):
        with tracer.span("rebuild.build"):
            return build(*a, **kw)

    def traced_read(self, *paths, **kw):
        with tracer.span("read"):
            return read(self, *paths, **kw)

    def traced_write(self, path, *a, **kw):
        with tracer.span("write", table=os.path.basename(path).split(".")[0]):
            return write(self, path, *a, **kw)

    rebuild_mod.rebuild = traced_build
    DataFrameReader.parquet, DataFrameWriter.parquet = traced_read, traced_write
    try:
        yield
    finally:
        rebuild_mod.rebuild = build
        DataFrameReader.parquet, DataFrameWriter.parquet = read, write


def run_rebuild(run: Run, spark) -> dict:
    from pipeline_input import expected_rows, generate_pipeline_input
    from synth_transform_spark.caching import release_cached
    from spans import Tracer

    args = run.args
    root = os.path.join(run.work, "input")
    run.generate(lambda: generate_pipeline_input(root, args.seed, REBUILD_BLOCKS))
    expected = expected_rows(REBUILD_BLOCKS)
    src, res = os.path.join(root, "sources"), os.path.join(root, "resources")
    tracer = None
    n_passes = 0

    def one_pass(traced: bool) -> dict:
        nonlocal n_passes
        n_passes += 1
        out = os.path.join(run.work, f"warehouse{n_passes}")
        dump = os.path.join(run.work, f"dump{n_passes}.sql")
        result = {"out_dir": out, "dump_file": dump}
        with _wrap_pipeline(tracer) if traced else contextlib.nullcontext():
            for cmd, argv in (
                ("rebuild", ["rebuild", "--sources", src, "--resources", res, "--out", out]),
                ("dump", ["dump", "--warehouse", out, "--out", dump]),
            ):
                run.attempted += 1
                t0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.span(cmd) as unit:
                            result[cmd] = _cli(argv)
                        tracer.close_unit(unit)
                        result[f"{cmd}_unit"] = unit
                    else:
                        result[cmd] = _cli(argv)
                except Exception as ex:
                    run.fail(cmd, ex)
                    result[cmd] = {}
                result[f"{cmd}_s"] = time.perf_counter() - t0
                release_cached()
        return result

    one_pass(False)  # warm-up: a session's first rebuild runs ~60% slower
    setup_s = run.end_setup()
    tracer = Tracer(spark, f"rebuild-{args.seed}") if args.trace else None
    passes = run.passes(one_pass, 1)

    # correctness, outside the timed interval
    digests: dict[str, str] = {}
    for p in passes["untraced"] + passes["traced"]:
        rebuilt, dumped = p["rebuild"].get("rebuilt", {}), p["dump"].get("dumped", {})
        if rebuilt != expected:
            run.fail("rebuild rows", {"expected": expected, "rebuilt": rebuilt})
        if not dumped or any(rebuilt.get(t) != n for t, n in dumped.items()):
            run.fail("dump rows", {"rebuilt": rebuilt, "dumped": dumped})
        for table in rebuilt:
            d = _digest(os.path.join(p["out_dir"], f"{table}.parquet"))
            if digests.setdefault(table, d) != d:
                run.fail(f"digest {table}", "differs between passes")
        if "rebuild_unit" in p and "dump_unit" in p:
            p["layers"] = _rebuild_layers(tracer, p, dumped)
    run.context["rows"] = {"expected": expected, "rebuilt": rebuilt, "dumped": dumped}
    _check_digests(run, digests)
    untraced = passes["untraced"]
    if not args.trace:
        return {
            "setup_s": setup_s,
            "wall_s": _median([p["wall_s"] for p in untraced]),
            "rebuild_s": _median([p["rebuild_s"] for p in untraced]),
            "dump_s": _median([p["dump_s"] for p in untraced]),
            "cpu_s": _median([p["cpu_s"] for p in untraced]),
        }
    traced = passes["traced"]
    run.context["spans"] = tracer.records()
    run.context["per_table"] = [p["layers"].pop("per_table") for p in traced]
    metrics = {k: _median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    metrics["trace.overhead_s"] = _median([p["wall_s"] for p in traced]) - _median(
        [p["wall_s"] for p in untraced]
    )
    worst = max(p["layers"]["trace.unaccounted_max"] for p in traced)
    if worst > UNACCOUNTED_BOUND:
        run.fail("accounting", f"a table left {worst:.3f} of its traced write outside every layer")
    return metrics


def _table_layers(tracer, write) -> dict:
    """One traced table write: planning (from the call to its SQL
    execution's submission), execution (the SQL execution, jobs and the
    driver work between them) and the share of the write in neither."""
    sql = [c for c in tracer.descendants(write) if c.name == "sql"]
    plan_s = min(c.start for c in sql) - write.start if sql else 0.0
    job_s = tracer.job_time(write)
    exec_s = tracer.sql_time(write)
    return {
        "s": write.dur,
        "jobs": len(tracer.jobs_under(write)),
        "plan_s": plan_s,
        "exec_s": exec_s,
        "job_s": job_s,
        "unaccounted": max(0.0, tracer.uncovered(write, ("sql",)) - plan_s) / write.dur,
    }


def _rebuild_layers(tracer, p: dict, dumped: dict) -> dict:
    """Per-layer totals of one traced rebuild + dump pair."""
    rebuild, dump_unit = p["rebuild_unit"], p["dump_unit"]
    build = [c for c in tracer.children(rebuild) if c.name == "rebuild.build"]
    reads = [c for c in tracer.children(rebuild) if c.name == "read"]
    writes = [c for c in tracer.children(rebuild) if c.name == "write"]
    per_table = {w.attrs["table"]: _table_layers(tracer, w) for w in writes}
    return {
        "rebuild.build_s": sum(b.dur for b in build),
        "rebuild.build_jobs": sum(len(tracer.jobs_under(b)) for b in build),
        "read.s": sum(r.dur for r in reads),
        "plan.s": sum(t["plan_s"] for t in per_table.values()),
        "write.s": sum(w.dur for w in writes),
        "write.jobs": sum(len(tracer.jobs_under(w)) for w in writes),
        "write.exec_s": sum(t["exec_s"] for t in per_table.values()),
        "write.job_s": sum(t["job_s"] for t in per_table.values()),
        "write.mb": _dir_mb(p["out_dir"]),
        # the command's time in no read, build, write or job: argument
        # parsing, directory set-up, the JSON it prints
        "rebuild.other_s": tracer.uncovered(rebuild, REBUILD_SPANS),
        "dump.s": dump_unit.dur,
        "dump.jobs": len(tracer.jobs_under(dump_unit)),
        "dump.mb": os.path.getsize(p["dump_file"]) / 2**20,
        "dump.rows": sum(dumped.values()),
        "trace.unaccounted_max": max(t["unaccounted"] for t in per_table.values()),
        "per_table": per_table,
    }


def _check_digests(run: Run, digests: dict[str, str]) -> None:
    """Compare the per-table digests with those of the other trace mode's
    run of the same seed, when one has been recorded."""
    out_dir = os.path.join(ROOT, ".bench_out")
    path = os.path.join(out_dir, f"rebuild-seed{run.args.seed}-digests.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
    for mode, other in seen.items():
        if mode != str(run.args.trace) and other != digests:
            run.fail("digest", f"trace={run.args.trace} differs from trace={mode}")
    seen[str(run.args.trace)] = digests
    os.makedirs(out_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump(seen, fh)
    run.context["digests"] = digests


# -- entry point -----------------------------------------------------------------
def _unit(metric: str) -> str:
    if metric == "trace.unaccounted_max":
        return "share"
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith(("_mb", ".mb")):
        return "MB"
    return "count"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Closed-loop engine benchmark.")
    p.add_argument("--workload", required=True, choices=[*QUERY_WORKLOADS, "rebuild"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    t0 = time.perf_counter()
    args = _parse(argv)
    for needed in ("synth_transform_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found next to perfbench/", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every process this run starts keeps its scratch files in the checkout
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    run = Run(args, work, t0)
    spark = None
    try:
        s0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        run.context["session_start_s"] = time.perf_counter() - s0
        if args.workload == "rebuild":
            metrics = run_rebuild(run, spark)
        else:
            metrics = run_queries(run, spark, QUERY_WORKLOADS[args.workload])
        import host

        # JVM resident memory follows GC timing (2.2-4.3 GB across seeds of
        # one workload), too noisy to bound: it is context, not a metric
        run.context["peak_rss_mb"] = host.tree_peak_rss_mb()
        if args.trace:
            metrics["session.start_s"] = run.context["session_start_s"]
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as fh:
        json.dump({**run.context, "result": result}, fh)
    context = {k: v for k, v in run.context.items() if k not in ("spans", "per_query", "per_table")}
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
