#!/usr/bin/env python3
"""Cold, layer-traced benchmark of filemap_spark.

    python3 perfbench/run.py --workload tpch|curation|ingest --seed N \\
        --seconds S --trace 0|1 [--record] [--ops-out FILE]

Run from the root of a checkout. One Python client in one process drives a
closed loop (each op is issued when the previous one returns; no client
threads) against a fresh `local[k]` session, k = min(4, nproc). Every run
starts a new process and session, and before each timed op the benchmark
clears Spark's cache, releases the rank cache, unpersists every remaining
RDD and asserts none is left, so no op reads a cache left by another.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(spans around the benchmark's own calls plus thin run-time wrappers around
public engine functions; the engine sources are not edited). Each op's
output is checked against digests recorded in perfbench/expected.json;
`--record` rewrites those instead (and cross-checks the tpch digests
against DuckDB running each query's oracle SQL). The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

# spark.ui.* retention only sizes the status store the counters are read
# from; the defaults (1000 jobs/stages) would drop early ops of a run.
SPARK_CONFS = {
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}
DRIVER_MEM = "1g"


class Ctx:
    """What a workload needs from the run: session, tracer, dirs, seed."""

    def __init__(self, spark, tracer, work, seed, seconds):
        import numpy as np

        from workloads import VARIANTS

        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.data = DATA
        self.seconds = seconds
        # inputs whose outputs are checked come from one of VARIANTS
        # recorded draws; the op order needs no record and uses the seed
        self.variant = seed % VARIANTS
        self.rng = np.random.default_rng(self.variant)
        self.order_rng = np.random.default_rng(seed)
        self.pipeline_stages = 0


def _prepare_env(work: str) -> None:
    """Keep every file Spark, its JVM and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    confs = dict(SPARK_CONFS)
    confs["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _install_wrappers(tracer, stats: dict) -> None:
    """Thin run-time wrappers around public engine functions (traced runs)."""
    # the classic DataFrame overrides the actions of pyspark.sql.DataFrame
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from filemap_spark import cli
    from filemap_spark.operators import text
    from filemap_spark.registry import all_queries
    from workloads import dir_bytes

    for fn in all_queries().values():
        mod = sys.modules[fn.__module__]
        if getattr(mod, fn.__name__, None) is fn:
            tracer.wrap(mod, fn.__name__, "registry", "build")
    tracer.wrap(cli, "run_stage", "cli.run_stage")
    tracer.wrap(cli, "_survivors_from_pairs", "cli.survivors")
    tracer.wrap(text, "incremental_lsh_ingest", "state.ingest")
    tracer.wrap(DataStreamWriter, "start", "stream.start")
    tracer.wrap(StreamingQuery, "awaitTermination", "stream.drain")
    # Catalyst: each action the verbs and queries run plans its DataFrame
    # first, so its phase timings can be read before the jobs start.
    tracer.plan_before(DataFrame, "collect", lambda df: df)
    tracer.plan_before(DataFrame, "count", lambda df: df)
    tracer.plan_before(DataFrameWriter, "parquet", lambda w: w._df)
    tracer.plan_before(DataFrameWriter, "text", lambda w: w._df)

    compact = text.compact_parquet_dir

    def compact_parquet_dir(spark, path, *args, **kwargs):
        size = dir_bytes(path)[0] if os.path.isdir(path) else 0
        with tracer.span("compact"):
            before, after = compact(spark, path, *args, **kwargs)
        if after < before:
            stats["compact.runs"] += 1
            stats["compact.bytes_rewritten"] += size
        return before, after

    text.compact_parquet_dir = compact_parquet_dir


def _cold_guard(spark, tracer) -> None:
    from filemap_spark.functions.ranks import release_rank_cache

    spark.catalog.clearCache()
    release_rank_cache()
    tracer.release_persistent()
    left = tracer.persistent_rdds()
    if left:
        raise RuntimeError(f"{left} persistent RDDs survive the cold-run guard")


def _peak_rss_mb(jvm_pid: int) -> float:
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def _versions() -> dict:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def _oracle_digests(names: dict[str, str]) -> dict[str, dict]:
    """DuckDB digests of each tpch query's oracle SQL over the same data."""
    import duckdb

    from filemap_spark.registry import all_oracle
    from workloads import TPCH_TABLES, digest_rows

    oracle = all_oracle()
    con = duckdb.connect()
    try:
        for t in TPCH_TABLES + ("documents",):
            path = os.path.join(DATA, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for qid, name in names.items():
            cur = con.execute(oracle[name])
            out[qid] = digest_rows([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def run(args, work: str) -> tuple[dict, list[dict], dict]:
    from filemap_spark.session import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    k = min(4, len(os.sched_getaffinity(0)))
    load_start = os.getloadavg()
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{k}]")
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm_pid = sc._gateway.proc.pid
    try:
        tracer = Tracer(spark, args.workload, enabled=bool(args.trace))
        stats = {"compact.runs": 0, "compact.bytes_rewritten": 0}
        if args.trace:
            _install_wrappers(tracer, stats)
        ctx = Ctx(spark, tracer, work, args.seed, args.seconds)
        workload = WORKLOADS[args.workload]()

        from filemap_spark.io import load_table

        tables = workload.setup(ctx)
        t = time.perf_counter()
        for d, name in tables:
            load_table(spark, d, name).write.format("noop").mode("overwrite").save()
        warm_s = time.perf_counter() - t

        expected = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                expected = json.load(f)
        fallback = set(expected.get("_rows_only", []))
        records: list[dict] = []
        checked: dict[str, dict] = {}
        check_s = 0.0
        first = tracer.mark()
        _cold_guard(spark, tracer)
        t_first = time.perf_counter()
        ops = workload.ops(ctx)
        for name, key, call in ops:
            _cold_guard(spark, tracer)
            lo = tracer.mark()
            tracer.op = name
            rec = {"op": name, "key": key, "ok": True}
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    digest_fn = call()
            except Exception:
                rec["ok"] = False
                rec["error"] = traceback.format_exc(limit=3)
                digest_fn = None
            rec["s"] = time.perf_counter() - t
            tracer.op = None
            rec["persisted_rdds"] = tracer.persistent_rdds()
            t = time.perf_counter()
            if digest_fn is not None:
                got = digest_fn()
                checked.setdefault(key, got)
                if args.record:
                    rec["ok"] = checked[key] == got
                else:
                    want = expected.get(key)
                    if key in fallback:
                        rec["ok"] = want is not None and want["rows"] == got["rows"]
                    else:
                        rec["ok"] = want == got
                rec["digest"] = got
            check_s += time.perf_counter() - t
            if args.trace:
                rec.update(tracer.counters(lo, tracer.mark(), python_metrics=True))
            records.append(rec)
        wall_s = time.perf_counter() - t_first - check_s
        setup_s = t_first - T0
        totals = tracer.counters(first, tracer.mark(), python_metrics=False)

        lat = [r["s"] for r in records]
        failed = [r for r in records if not r["ok"]]
        for r in failed:
            print(f"perfbench: FAILED op {r['op']} ({r['key']})"
                  + (f"\n{r['error']}" if "error" in r else ": output digest mismatch"),
                  file=sys.stderr)
        if args.trace:
            metrics = _layer_metrics(ctx, workload, tracer, records, stats,
                                     session_s, warm_s, wall_s, k)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall_s, "s"),
                "op_p50_s": (statistics.median(lat), "s"),
                "peak_rss_mb": (_peak_rss_mb(jvm_pid), "MB"),
                "shuffle_bytes": (float(totals["exec.shuffle_write_bytes"]), "bytes"),
                "write_amp": (totals["exec.output_bytes"] / totals["exec.input_bytes"], "ratio"),
            }
        if args.record:
            _record(args.workload, checked, [r for r in records if not r["ok"]])
        # the result carries the metrics BENCHMARK.json lists for this mode;
        # the rest are printed on the context line
        with open(BENCHMARK) as f:
            listed = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
        context = {
            "workload": args.workload, "seed": args.seed, "variant": ctx.variant,
            "trace": args.trace, "seconds": args.seconds, "nproc": os.cpu_count(),
            "k": k, "driver_memory": DRIVER_MEM, "ops": len(records),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            **_versions(),
            "unlisted_metrics": {n: {"value": v, "unit": u}
                                 for n, (v, u) in metrics.items() if n not in listed},
        }
        result = {
            "correct": not failed and len(records) > 0,
            "attempted": len(records),
            "failed": len(failed),
            "metrics": {n: {"value": metrics[n][0], "unit": metrics[n][1]} for n in listed},
        }
        return result, records, context
    finally:
        _stop(spark)


def _layer_metrics(ctx, workload, tr, records, stats, session_s, warm_s, wall_s, k):
    sums: dict[str, float] = {}
    for r in records:
        for key, v in r.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and "." in key:
                sums[key] = sums.get(key, 0) + v
    op_s = sum(r["s"] for r in records)
    build_s = tr.total("registry")
    # planning inside a builder's eager action is already part of build_s
    catalyst_s = sum(s[2] - s[1] for s in tr.op_spans()
                     if s[0] == "catalyst" and not tr.has_ancestor(s, "registry"))
    m = {
        "session.start_s": (session_s, "s"),
        "io.warm_scan_s": (warm_s, "s"),
        "exec.input_bytes": (sums.get("exec.input_bytes", 0), "bytes"),
        "build.s": (build_s, "s"),
        "build.jobs": (sums.get("build.jobs", 0), "count"),
        "build.job_s": (sums.get("build.job_s", 0.0), "s"),
    }
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = (tr.catalyst.get(f"catalyst.{p}_ms", 0.0), "ms")
    m["exec.s"] = (op_s - build_s - catalyst_s, "s")
    units = {"jobs": "count", "stages": "count", "skipped_stages": "count",
             "tasks": "count", "executor_run_ms": "ms", "executor_cpu_ms": "ms",
             "gc_ms": "ms", "shuffle_write_bytes": "bytes",
             "shuffle_write_records": "count", "shuffle_read_bytes": "bytes",
             "spill_bytes": "bytes", "output_bytes": "bytes"}
    for name, unit in units.items():
        m[f"exec.{name}"] = (sums.get(f"exec.{name}", 0), unit)
    m["exec.core_util"] = (sums.get("exec.executor_run_ms", 0) / (op_s * 1e3 * k), "ratio")
    m["udf.python_ms"] = (sums.get("udf.python_ms", 0.0), "ms")
    m["udf.python_rows"] = (sums.get("udf.python_rows", 0), "count")
    m["cache.persisted_rdds"] = (sum(r["persisted_rdds"] for r in records), "count")
    state = workload.layer_metrics() if hasattr(workload, "layer_metrics") else {}
    m["state.ingest_s"] = (tr.total("state.ingest"), "s")
    for name, unit in (("state.append_bytes", "bytes"), ("state.files", "count"),
                       ("state.live_bytes", "bytes")):
        m[name] = (state.get(name, 0), unit)
    m["compact.runs"] = (stats["compact.runs"], "count")
    m["compact.s"] = (tr.total("compact"), "s")
    m["compact.bytes_rewritten"] = (stats["compact.bytes_rewritten"], "bytes")
    for verb in ("run_quality", "run_dedup", "run_decontam", "run_stats",
                 "run_dedup_stream", "run_pipeline"):
        m[f"cli.verb_s.{verb}"] = (tr.total(f"cli.{verb}"), "s")
    m["cli.dedup_stream_self_s"] = (tr.self_time("cli.run_dedup_stream"), "s")
    m["pipe.stage_s"] = (tr.total("cli.run_stage"), "s")
    ran = tr.count("cli.run_stage")
    m["memo.stage_hit_ratio"] = (
        (ctx.pipeline_stages - ran) / ctx.pipeline_stages if ctx.pipeline_stages else 0.0,
        "ratio")
    m["ingest.space_amp"] = (state.get("ingest.space_amp", 0.0), "ratio")
    noop = [r["s"] for r in records if r["op"] == "noop"]
    m["ingest.noop_s"] = (noop[-1] if noop else 0.0, "s")
    m["trace.wall_s"] = (wall_s, "s")
    return {n: (float(v), u) for n, (v, u) in m.items()}


def _record(workload: str, checked: dict[str, dict], unstable: list[dict]) -> None:
    """Merge this run's digests into expected.json. A key whose digest
    differs from an earlier recording, or within this run, is demoted to a
    row-count check and listed under _rows_only."""
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f)
    rows_only = set(expected.get("_rows_only", []))
    rows_only |= {r["key"] for r in unstable}
    for key, got in checked.items():
        if key in expected and expected[key] != got:
            rows_only.add(key)
        expected.setdefault(key, got)
    if workload == "tpch":
        from filemap_spark.cli import TPCH_QUERIES

        duck = _oracle_digests(TPCH_QUERIES)
        mismatch = sorted(q for q in TPCH_QUERIES if expected.get(f"tpch/{q}") != duck[q])
        expected["_tpch_oracle_mismatch"] = mismatch
        for q in mismatch:
            print(f"perfbench: tpch {q} digest differs from DuckDB oracle", file=sys.stderr)
    expected["_rows_only"] = sorted(rows_only)
    with open(EXPECTED, "w") as f:
        json.dump(dict(sorted(expected.items())), f, indent=1)
        f.write("\n")


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tpch", "curation", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record expected digests instead of checking them")
    ap.add_argument("--ops-out", default=None,
                    help="also write per-op records (latency, counters) as JSON here")
    args = ap.parse_args(argv)
    for need in (os.path.join(ROOT, "filemap_spark"), BENCHMARK, DATA):
        if not os.path.exists(need):
            print(f"perfbench: missing {need}; run from a full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(work)
        result, records, context = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.ops_out:
        with open(args.ops_out, "w") as f:
            json.dump({"context": context, "ops": records}, f, indent=1)
    for r in records:
        print(f"{r['op']:>16} {r['s']:8.3f} s  ok={r['ok']}", file=sys.stderr)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
