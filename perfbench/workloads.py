"""The benchmark's three workloads and the output digests that check them.

Each workload makes its inputs from the seed, warms the page cache, and
then yields ops; an op is one timed call into the engine's public entry
points (`registry.all_queries()` query functions, `cli` verb functions).
The runner times each op and evaluates the digest thunk it returns after
the clock stops.

Why these three (perfbench/README.md has the layer -> metric map;
BENCHMARK.json checks curation and ingest):
- tpch: read-only JVM analytics, no Python, no writes, no persisted state.
  It is the control on which UDF, state and curation changes show no change.
- curation: the dataset-in/dataset-out LLM-corpus chain: token and shingle
  exchanges, eager localCheckpoint jobs, Python/Arrow PNG decode, writes.
- ingest: new-files-only arrivals: append writes, state re-reads,
  compaction checks, RDD.pipe forks and the memo-marker path.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import glob
import hashlib
import json
import os

import numpy as np
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
# The seed picks one of this many recorded eval splits / arrival orders, so
# every input the benchmark can generate has a recorded expected digest.
VARIANTS = 4
N_EVAL = 25  # held-out eval docs for decontam
N_BASE = 400  # ingest: docs ingested untimed in setup
BATCH = 20  # ingest: docs per arrival
MAX_ARRIVALS = 5  # (500 - N_BASE) // BATCH
PIPE_STAGES = [("map", "tr -s ' ' '\\n'"), ("reduce", "sort | uniq -c")]


# -- digests -----------------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = round(float(v), 6)
        return format(0.0 if f == 0 else f, ".6f")
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest_rows(columns: list[str], rows) -> dict:
    """Row count plus md5 of the sorted canonical rows (columns by name,
    floats at 6 dp, so Spark and DuckDB results hash alike)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "md5": h.hexdigest()}


def _read_parquet_rows(path: str) -> tuple[list[str], list[tuple]]:
    t = pq.read_table(path)
    cols = t.column_names
    return cols, list(zip(*(t.column(c).to_pylist() for c in cols)))


def digest_output(ret, parquet_dir: str | None = None, text_dir: str | None = None) -> dict:
    """Digest of a verb call: its returned audit value plus the rows of its
    output dataset."""
    h = hashlib.md5(json.dumps(ret, sort_keys=True, default=_canon).encode())
    rows = 0
    if parquet_dir is not None:
        d = digest_rows(*_read_parquet_rows(parquet_dir))
        rows += d["rows"]
        h.update(d["md5"].encode())
    if text_dir is not None:
        lines = []
        for f in sorted(glob.glob(os.path.join(text_dir, "part-*"))):
            with open(f) as fh:
                lines.extend(fh.read().splitlines())
        d = digest_rows(["value"], [(x,) for x in lines])
        rows += d["rows"]
        h.update(d["md5"].encode())
    return {"rows": rows, "md5": h.hexdigest()}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory tree."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


# -- workloads ---------------------------------------------------------------


class Tpch:
    """The 22 TPC-H shapes (cli.TPCH_QUERIES -> registry ids) in seeded
    order, each built through all_queries()[id](spark, sf_dir) and fully
    collected."""

    name = "tpch"
    pass_s = 20.0  # nominal seconds of one 22-query pass

    def setup(self, ctx) -> list[tuple[str, str]]:
        from filemap_spark.registry import all_queries

        self.queries = all_queries()
        return [(ctx.data, t) for t in TPCH_TABLES]

    def ops(self, ctx):
        from filemap_spark.cli import TPCH_QUERIES

        qids = sorted(TPCH_QUERIES, key=lambda q: int(q[1:]))
        for _ in range(max(1, round(ctx.seconds / self.pass_s))):
            for i in ctx.order_rng.permutation(len(qids)):
                qid = qids[i]
                fn = self.queries[TPCH_QUERIES[qid]]
                yield qid, f"tpch/{qid}", functools.partial(self._query, ctx, fn)

    @staticmethod
    def _query(ctx, fn):
        tr = ctx.tracer
        with tr.span("registry", "build"):
            df = fn(ctx.spark, ctx.data)
        with tr.span("operators", "exec"):
            rows = df.collect()
        return lambda: digest_rows(df.columns, rows)


class Curation:
    """quality(clean_lines, learned) -> dedup near -> dedup substring ->
    dedup image -> decontam (seeded held-out eval split) -> stats, each
    step reading the previous step's output corpus."""

    name = "curation"
    pass_s = 20.0  # nominal seconds of one six-verb chain

    def setup(self, ctx) -> list[tuple[str, str]]:
        docs = pq.read_table(os.path.join(ctx.data, "documents.parquet"))
        held = np.zeros(docs.num_rows, dtype=bool)
        held[ctx.rng.choice(docs.num_rows, N_EVAL, replace=False)] = True
        self.corpus = os.path.join(ctx.work, "corpus")
        self.eval = os.path.join(ctx.work, "eval")
        for d, mask in ((self.corpus, ~held), (self.eval, held)):
            os.makedirs(d)
            pq.write_table(docs.filter(mask), os.path.join(d, "documents.parquet"))
        return [(self.corpus, "documents"), (self.eval, "documents")]

    def ops(self, ctx):
        from filemap_spark import cli

        s = ctx.spark
        steps = (
            ("quality", "run_quality",
             lambda i, o: cli.run_quality(s, i, o, clean_lines=True, gate="learned")),
            ("dedup_near", "run_dedup", lambda i, o: cli.run_dedup(s, i, o, method="near")),
            ("dedup_substring", "run_dedup",
             lambda i, o: cli.run_dedup(s, i, o, method="substring")),
            ("dedup_image", "run_dedup", lambda i, o: cli.run_dedup(s, i, o, modality="image")),
            ("decontam", "run_decontam",
             lambda i, o: cli.run_decontam(s, i, o, eval_dir=self.eval)),
            ("stats", "run_stats", lambda i, o: cli.run_stats(s, i)),
        )
        for p in range(max(1, round(ctx.seconds / self.pass_s))):
            cur = self.corpus
            for step, verb, fn in steps:
                out = os.path.join(ctx.work, "curation", f"p{p}", step)
                key = f"curation/v{ctx.variant}/{step}"
                yield step, key, functools.partial(self._verb, ctx, verb, fn, cur, out)
                if step != "stats":
                    cur = out

    @staticmethod
    def _verb(ctx, verb, fn, inp, out):
        with ctx.tracer.span(f"cli.{verb}", "exec"):
            ret = fn(inp, out)
        docs = os.path.join(out, "documents.parquet")
        return lambda: digest_output(ret, docs if os.path.isdir(docs) else None)


class Ingest:
    """filemap's new-files-only model: a seeded base ingested untimed, then
    K seeded arrivals (one parquet file plus the same docs as one text file
    each), each followed by run_dedup_stream (text) and
    run_pipeline(memo=True); a final arrival with no new files is the
    make no-op."""

    name = "ingest"
    arrival_s = 20.0  # nominal seconds of one arrival

    def setup(self, ctx) -> list[tuple[str, str]]:
        from filemap_spark import cli

        self.docs = pq.read_table(os.path.join(ctx.data, "documents.parquet"))
        self.perm = ctx.rng.permutation(self.docs.num_rows)
        self.k = max(1, min(MAX_ARRIVALS, round(ctx.seconds / self.arrival_s)))
        self.corpus = os.path.join(ctx.work, "corpus")
        self.text = os.path.join(ctx.work, "text")
        self.out = os.path.join(ctx.work, "dedup")
        self.pipe = os.path.join(ctx.work, "pipeline")
        os.makedirs(self.corpus)
        os.makedirs(self.text)
        self.input_bytes = 0
        self._drop(0, self.perm[:N_BASE])
        cli.run_dedup_stream(ctx.spark, self.corpus, self.out)
        cli.run_pipeline(ctx.spark, self.text, self.pipe, PIPE_STAGES, memo=True)
        self.append_bytes = 0
        return [(ctx.data, "documents")]

    def _drop(self, i: int, idx) -> None:
        batch = self.docs.take(np.sort(idx))
        f = os.path.join(self.corpus, f"b{i:03d}.parquet")
        pq.write_table(batch, f)
        t = os.path.join(self.text, f"b{i:03d}.txt")
        with open(t, "w") as fh:
            fh.writelines(s + "\n" for s in batch.column("text").to_pylist())
        self.input_bytes += os.path.getsize(f) + os.path.getsize(t)

    def _state_bytes(self) -> tuple[int, int]:
        a = dir_bytes(os.path.join(self.out, "_lsh_state"))
        b = dir_bytes(os.path.join(self.out, "_pairs"))
        return a[0] + b[0], a[1] + b[1]

    def ops(self, ctx):
        for i in range(1, self.k + 1):
            lo = N_BASE + (i - 1) * BATCH
            self._drop(i, self.perm[lo:lo + BATCH])
            before = self._state_bytes()[0]
            name = f"a{i:02d}"
            yield name, f"ingest/v{ctx.variant}/{name}", functools.partial(self._arrival, ctx)
            self.append_bytes += max(0, self._state_bytes()[0] - before)
        # no new files: outputs must equal the last arrival's
        yield "noop", f"ingest/v{ctx.variant}/a{self.k:02d}", functools.partial(self._arrival, ctx)

    def _arrival(self, ctx):
        from filemap_spark import cli

        with ctx.tracer.span("cli.run_dedup_stream", "exec"):
            kept = cli.run_dedup_stream(ctx.spark, self.corpus, self.out)
        with ctx.tracer.span("cli.run_pipeline", "exec"):
            n = cli.run_pipeline(ctx.spark, self.text, self.pipe, PIPE_STAGES, memo=True)
        ctx.pipeline_stages += len(PIPE_STAGES)
        docs = os.path.join(self.out, "documents.parquet")
        final = os.path.join(self.pipe, "final")
        return lambda: digest_output({"dedup": list(kept), "pipeline": n}, docs, final)

    def layer_metrics(self) -> dict[str, float]:
        live, files = self._state_bytes()
        outputs = dir_bytes(self.pipe)[0] + dir_bytes(os.path.join(self.out, "documents.parquet"))[0]
        return {
            "state.append_bytes": self.append_bytes,
            "state.files": files,
            "state.live_bytes": live,
            "ingest.space_amp": (live + outputs) / self.input_bytes,
        }


WORKLOADS = {w.name: w for w in (Tpch, Curation, Ingest)}
