"""`fm`-style command-line interface — the reference's user-facing surface
(SURVEY §3.1 [K]: one `fm` entry point running shell map/reduce pipelines
over directories of text files), re-expressed on Spark.

    python -m filemap_spark map  INPUT OUTPUT --cmd "grep foo"
    python -m filemap_spark mapreduce INPUT OUTPUT \
        --cmd "tr ' ' '\\n'" --reduce "sort | uniq -c" [--buckets 32]
    python -m filemap_spark pipeline INPUT OUTPUT \
        --cmd "tr ' ' '\\n'" --reduce "sort | uniq -c" --cmd "grep -v '^1 '"
    python -m filemap_spark query SF_DIR "SELECT ..."   # SQL over views
    python -m filemap_spark dedup SF_DIR OUTPUT --method near  # clean corpus
    python -m filemap_spark dedup SF_DIR OUTPUT --method substring
        # cut duplicated >=50-token spans out of every doc (ExactSubstr)
    python -m filemap_spark quality SF_DIR OUTPUT [--clean-lines] \
        [--gate learned|dsir|kn] [--scores-out DIR]  # rule gate, the
        # trained NB tier, the DSIR importance gate, or the KN
        # perplexity-median gate; --scores-out exports the per-doc
        # verdict frame (OUTPUT='-' = scores only, no kept corpus)
    python -m filemap_spark decontam SF_DIR OUTPUT --eval-dir BENCH \
        [--max-frac F] [--report-out DIR]  # drop docs sharing a
        # 13-gram with the benchmark corpus (text_contamination_ngram)

Semantics preserved from the reference:
- dataset = a local directory (or glob, `{a,b}` alternatives included) of
  text files, hidden names skipped; `.gz`, `.bz2` and `.deflate` read
  decompressed, like filemap's transparent decompression. The stage's
  tasks open the files themselves, so a path must be local (or a shared
  POSIX mount): another file system's URI, a nested directory, two files
  that would share an output name and a `.lz4`/`.snappy`/`.zst` input
  raise before any output is touched;
- map = a shell pipeline, lines in → lines out, forked once per input file
  into a same-named output (less its codec extension), like filemap. One
  job packs the files to map into at most `defaultParallelism` tasks, and
  each task streams each file it holds through its own `sh -c CMD` fork;
- reduce = shuffle lines by their key, the text before their first space (a
  tab does not split it; a line without a space is its own key), into hash
  buckets, then one shell pipeline per bucket, each writing its own part
  file; every bucket forks, an empty one too;
- a command that exits with a status above 1 fails its stage and commits
  nothing (1 passes: it is grep's "no lines selected");
- stages: every verb runs the same stage kernel. `map IN OUT` is one map
  stage whose output dir is OUT; `mapreduce --memo` maps into the hidden
  OUT/_map and reduces into OUT, while without `--memo` the map's lines
  stream straight into the reduce (no OUT/_map); `pipeline` chains ANY
  number of --cmd / --reduce stages in command-line order (filemap's
  multi-stage dataset DAG) through OUTPUT/stage00, stage01, ... and
  OUTPUT/final; `map --stream` maps into OUT/data. Each stage dir is a
  state root (filemap_spark/state.py): its outputs are staged under
  _staging/ and committed by one rename of its manifest, and opening it
  deletes any file the manifest does not list;
- memoization (make's rule): a stage's manifest records its command and
  the (size, mtime) of each input file, a reduce's its bucket count too.
  With `--memo` a map stage re-maps only the new or changed files and
  drops the outputs of deleted ones. A memoized reduce keeps the lines
  each bucket has received in its hidden `_buckets/` table (one delta
  file per bucket per run), so a re-run shuffles only the new input
  files and forks each bucket over its stored lines and then its new
  ones; a changed or deleted input, a new bucket count or a bucket full
  of deltas re-buckets every file, and a changed command alone forks
  over the stored buckets with no shuffle. A stage with nothing to do
  writes nothing, so invalidation cascades downstream exactly like the
  reference's cached-dataset chain;
- incremental: `map --stream` is the memoized map, so a re-run after new
  files appear maps ONLY the new (or changed) files, filemap's incremental
  model.
"""

from __future__ import annotations

import argparse
import bz2
import contextlib
import gzip
import hashlib
import itertools
import os
import re
import subprocess
import sys
import threading
import urllib.parse
import zlib
from functools import partial
from typing import Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from filemap_spark import state
from filemap_spark.session import job_phase, releasing
from filemap_spark.state import _hidden


def _fingerprint(input_path: str, cmds: list[str]) -> str:
    """Memo fingerprint: sha256 over the command strings and the
    (path, size, mtime_ns) of every file under the paths the input glob
    names — the warehouse's `_input_fingerprint` file walk."""
    import glob as globmod

    from filemap_spark.plans.memo import _input_fingerprint

    h = hashlib.sha256()
    for c in cmds:
        h.update(c.encode())
    h.update(_input_fingerprint(globmod.glob(input_path) or [input_path]).encode())
    return h.hexdigest()


# the compression extensions a map stage reads decompressed (a map output
# is plain text, so its name drops the extension), and Hadoop codecs'
# extensions it refuses: their block formats have no stdlib reader
_CODEC_EXTS = (".gz", ".bz2", ".deflate")
_UNREADABLE = (".lz4", ".snappy", ".zst")

# the exit statuses a shell stage accepts: 1 is grep's "no lines selected"
_PASSING = (0, 1)

_CHUNK = 1 << 20

# the Arrow frames of the shell stages (schemas built here, not parsed by
# the JVM): packed file lists, binary lines, bucket indices, a bucket's
# part and new line counts, a map output's line count
_FILES = T.StructType([T.StructField("files", T.ArrayType(T.ArrayType(T.StringType())))])
_VALUE = T.StructType([T.StructField("value", T.BinaryType())])
_BUCKET = T.StructType([T.StructField("bucket", T.LongType())])
_LINES = T.StructType([T.StructField("lines", T.LongType()), T.StructField("new", T.LongType())])
_COUNTS = T.StructType([T.StructField("name", T.StringType()), T.StructField("lines", T.LongType())])
_BOM = b"\xef\xbb\xbf"
_URI = re.compile(r"([A-Za-z][\w+.-]*):/")
_GLOB = re.compile(r"([\\\[\]{}*?])")

# a reduce stage's tables: its part files, and the hidden table of the
# lines each bucket has received, one delta file a bucket a run
_BUCKETS = "_buckets"
_REDUCE_TABLES = ("", _BUCKETS)
# a run that would leave a bucket more deltas than this (compact_parquet_dir's
# min_files) re-buckets every file instead
_MAX_DELTAS = 16


def _memo_hit(output: str, fp: str) -> dict | None:
    """OUTPUT's manifest when it records the fingerprint FP, else None."""
    manifest = state.read_manifest(output)
    return manifest if manifest.get("fingerprint") == fp else None


def _local(path: str) -> str:
    """PATH as a local path (a `file:` URI's path). Any other URI scheme
    raises: a shell stage's tasks open their inputs and write their
    outputs with POSIX calls, on a path every executor shares."""
    uri = _URI.match(path)
    if uri and uri.group(1).lower() != "file":
        raise ValueError(
            f"{path}: the shell stages read and write local (or shared "
            f"POSIX) paths, not {uri.group(1)}: URIs"
        )
    return urllib.parse.urlparse(path).path if uri else path


def _fork(cmd: str, data: Iterable[bytes], what: str, out=subprocess.PIPE) -> Iterator[bytes]:
    """Fork `sh -c CMD` once, feed it DATA (`\\n`-terminated lines, in
    chunks) on stdin from a thread, and yield its output in chunks; given
    OUT, a file descriptor, the command writes there and nothing is
    yielded. A status outside `_PASSING` raises, naming WHAT (a file or a
    bucket)."""
    failed: list[Exception] = []
    with subprocess.Popen(["sh", "-c", cmd], stdin=subprocess.PIPE, stdout=out) as proc:

        def feed() -> None:
            try:
                # a command may stop reading early (`head`)
                with contextlib.suppress(BrokenPipeError), proc.stdin:
                    for chunk in data:
                        proc.stdin.write(chunk)
            except Exception as e:  # the input failed: so does the stage
                failed.append(e)

        feeder = threading.Thread(target=feed, daemon=True)
        feeder.start()
        if proc.stdout:
            yield from iter(partial(proc.stdout.read, _CHUNK), b"")
        feeder.join()
    if failed:
        raise failed[0]
    if proc.returncode not in _PASSING:
        raise RuntimeError(f"{what}: sh -c {cmd!r} exited with status {proc.returncode}")


def _chunks(path: str) -> Iterator[bytes]:
    """PATH's bytes, decompressed by its extension, in chunks."""
    ext = os.path.splitext(path)[1]
    if ext == ".deflate":  # Hadoop's DefaultCodec: one zlib stream
        z = zlib.decompressobj()
        with open(path, "rb") as f:
            yield from map(z.decompress, iter(partial(f.read, _CHUNK), b""))
        yield z.flush()
        return
    with {".gz": gzip.open, ".bz2": bz2.open}.get(ext, open)(path, "rb") as f:
        yield from iter(partial(f.read, _CHUNK), b"")


def _lines(path: str) -> Iterator[bytes]:
    """PATH's lines in chunks of whole `\\n`-terminated lines, split as
    Hadoop's line reader splits them: at `\\n`, `\\r\\n` or `\\r`, with a
    leading UTF-8 byte-order mark skipped. A last line without a
    terminator gets one."""
    tail, last, head = b"", b"\n", True
    for chunk in _chunks(path):
        if head and chunk:
            chunk, head = chunk.removeprefix(_BOM), False
        chunk = tail + chunk
        tail = b"\r" if chunk.endswith(b"\r") else b""  # may start a `\r\n`
        chunk = chunk[: len(chunk) - len(tail)].replace(b"\r\n", b"\n").replace(b"\r", b"\n")
        if chunk:
            last = chunk[-1:]
            yield chunk
    if tail or last != b"\n":
        yield b"\n"


def _count(path: str) -> int:
    """PATH's line count, as Spark's text source counts it (`_lines`)."""
    return sum(chunk.count(b"\n") for chunk in _lines(path))


def _write(cmd: str, data: Iterable[bytes], what: str, path: str) -> int:
    """Fork CMD over DATA (see `_fork`) writing the file PATH itself, give
    a last output line without `\\n` one, and return PATH's line count."""
    fd = os.open(path, os.O_RDWR | os.O_CREAT | os.O_TRUNC, 0o666)
    try:
        for _ in _fork(cmd, data, what, out=fd):
            pass  # the command writes fd itself
        end = os.fstat(fd).st_size
        if end and os.pread(fd, 1, end - 1) != b"\n":
            os.pwrite(fd, b"\n", end)
    finally:
        os.close(fd)
    return _count(path)


def _batch(lines: bytes) -> pa.RecordBatch:
    """LINES, `\\n`-terminated, as a batch of one binary `value` column
    holding each line without its `\\n`."""
    ends = np.flatnonzero(np.frombuffer(lines, np.uint8) == ord("\n"))
    offsets = np.concatenate(([0], ends - np.arange(len(ends)))).astype(np.int32)
    value = pa.Array.from_buffers(
        pa.binary(), len(ends),
        [None, pa.py_buffer(offsets), pa.py_buffer(lines.replace(b"\n", b""))],
    )
    return pa.RecordBatch.from_arrays([value], ["value"])


def _batches(chunks: Iterable[bytes]) -> Iterator[pa.RecordBatch]:
    """CHUNKS of `\\n`-separated lines as `_batch`es of whole lines; a last
    line without `\\n` is kept."""
    tail = b""
    for chunk in chunks:
        chunk = tail + chunk
        cut = chunk.rfind(b"\n") + 1
        chunk, tail = chunk[:cut], chunk[cut:]
        if chunk:
            yield _batch(chunk)
    if tail:
        yield _batch(tail + b"\n")


def _terminated(batches: Iterable[pa.RecordBatch]) -> Iterator:
    """The values of BATCHES' one binary column, each followed by `\\n`,
    one joined buffer a batch."""
    for batch in batches:
        col = batch.column(0)
        if len(col):
            yield pc.binary_join(pa.ListArray.from_arrays([0, len(col)], col), b"\n")[0].as_buffer()
            yield b"\n"


def _packed(spark: SparkSession, todo: list[tuple[str, str]]) -> DataFrame:
    """TODO's (input path, output name) files as a local frame of at most
    `defaultParallelism` rows, each one list of them, balanced by size; a
    local frame of n rows scans as n tasks, one file list each."""
    n = max(1, min(len(todo), spark.sparkContext.defaultParallelism))
    bins: list[list[tuple[str, str]]] = [[] for _ in range(n)]
    load = [0] * n
    for size, path, name in sorted(((os.path.getsize(p), p, nm) for p, nm in todo), reverse=True):
        i = load.index(min(load))
        bins[i].append((path, name))
        load[i] += size
    return spark.createDataFrame([(b,) for b in bins], _FILES)


def _files(batches: Iterable[pa.RecordBatch]) -> Iterator[list[str]]:
    """Each (input path, output name) of the `_packed` file lists in
    BATCHES."""
    for batch in batches:
        for files in batch.column(0).to_pylist():
            yield from files


def _map_task(cmd: str, staged: str, batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """`mapInArrow` body of a map stage: fork CMD once per file of BATCHES
    (`_files`), streaming the file in and its output straight into
    STAGED/name (`_write`), and yield a row of each name and its line
    count."""
    for path, name in _files(batches):
        n = _write(cmd, _lines(path), name, os.path.join(staged, name))
        yield pa.RecordBatch.from_pydict({"name": [name], "lines": [n]})


def _map_batches(cmd: str, batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """`mapInArrow` body of `mapreduce`'s streamed map: fork CMD once per
    file of BATCHES (`_files`), yielding its output lines as binary
    `_batch`es."""
    for path, name in _files(batches):
        yield from _batches(_fork(cmd, _lines(path), name))


def _map_files(spark: SparkSession, txn: state.Transaction, cmd: str, todo: list[tuple[str, str]]) -> dict[str, int]:
    """Map TODO's (input path, output name) files in ONE job of at most
    `defaultParallelism` tasks (`_packed`), each forking CMD once per file
    it holds into the stage's staging dir, then add the outputs to the
    stage and return their line counts by name. A file streams through
    its fork, so none is held in memory whole. The tasks open the inputs
    and write staging themselves, so executors need the paths the driver
    sees."""
    staged = txn.staging()
    os.makedirs(staged)
    lines = dict(_packed(spark, todo).mapInArrow(partial(_map_task, cmd, staged), _COUNTS).collect())
    for _, name in todo:
        txn.add(os.path.join(staged, name), txn.root, name)
    return lines


def _tee(chunks: Iterable, path: str) -> Iterator:
    """CHUNKS, each also written to the file PATH."""
    with open(path, "wb") as f:
        for chunk in chunks:
            f.write(chunk)
            yield chunk


def _reduce_bucket(
    cmd: str, staged: str, i: int, stored: Iterable[str], batches: Iterable[pa.RecordBatch], keep: bool = False
) -> tuple[int, int]:
    """Fork CMD once over bucket I's lines, those of its STORED delta
    files and then its new ones (BATCHES of one binary column), into
    STAGED/part-I (`_write`). With KEEP the new lines are also written to
    STAGED/delta-I, all of them even when the command stops reading
    early (`head`). Returns the part's line count and the new lines'."""
    new = 0

    def fresh() -> Iterator:
        nonlocal new
        for batch in batches:
            new += batch.num_rows
            yield from _terminated((batch,))

    lines = _tee(fresh(), os.path.join(staged, f"delta-{i:05d}")) if keep else fresh()
    data = itertools.chain(*map(_chunks, stored), lines)
    n = _write(cmd, data, f"bucket {i}", os.path.join(staged, f"part-{i:05d}"))
    for _ in lines:  # what the command left unread
        pass
    return n, new


def _reduce_task(cmd: str, staged: str, stored: dict[int, list[str]], keep: bool, batches) -> Iterator[pa.RecordBatch]:
    """`mapInArrow` body of a reduce over its shuffle: this task's bucket
    (`_reduce_bucket`), one row of its line counts."""
    i = TaskContext.get().partitionId()
    n, new = _reduce_bucket(cmd, staged, i, stored.get(i, ()), batches, keep)
    yield pa.RecordBatch.from_pydict({"lines": [n], "new": [new]})


def _stored_task(cmd: str, staged: str, stored: dict[int, list[str]], batches) -> Iterator[pa.RecordBatch]:
    """`mapInArrow` body of a reduce with nothing to shuffle: each bucket
    index of BATCHES forks over its stored lines alone."""
    for i in (i for batch in batches for i in batch.column(0).to_pylist()):
        n, _ = _reduce_bucket(cmd, staged, i, stored.get(i, ()), ())
        yield pa.RecordBatch.from_pydict({"lines": [n], "new": [0]})


def _reduce(
    spark: SparkSession,
    lines: DataFrame | None,
    txn: state.Transaction,
    cmd: str,
    buckets: int,
    files: int,
    stored: dict[int, list[str]] | None = None,
    keep: bool = False,
) -> int:
    """Shuffle LINES (a DataFrame of one `value` column, string or binary,
    read from FILES input files; None when there is nothing new) into
    BUCKETS hash buckets by their key, the text before their first space
    (a whole line without one), and fork CMD once per bucket, empty ones
    too, over the bucket's STORED deltas (its committed lines, by bucket
    index) and then its new lines in binary Arrow batches, into the
    bucket's own part file. The stage's part files are replaced with the
    non-empty ones. With KEEP each bucket's new lines become its delta of
    this run in the `_buckets/` table, beside the stored ones; STORED None
    re-buckets, dropping every stored delta. Prints one line of what was
    bucketed and returns the line count of the parts. Part and delta names
    carry the run's staging id, so a crashed run's files never share a
    committed name, and `part-NNNNN`/`NNNNN-` keep the bucket index."""
    staged = txn.staging()
    os.makedirs(staged)
    counts = []
    if lines is not None:
        value = F.col("value")
        counts = (
            lines.repartition(buckets, F.substring_index(value.cast("string"), " ", 1))
            .select(value.cast("binary"))
            .mapInArrow(partial(_reduce_task, cmd, staged, stored or {}, keep), _LINES)
            .collect()
        )
    # with nothing new there is no shuffle, and AQE runs no task over a
    # shuffle it finds empty: then each bucket forks over its stored lines
    if not counts:
        counts = (
            spark.createDataFrame([(i,) for i in range(buckets)], _BUCKET)
            .mapInArrow(partial(_stored_task, cmd, staged, stored or {}), _LINES)
            .collect()
        )
    new = sum(r.new for r in counts)
    s = "s" if files != 1 else ""
    print(
        f"reduce: re-bucketed {files} file{s} ({new} lines) into {buckets} buckets" if stored is None
        else f"reduce: bucketed {files} new file{s} ({new} lines) into {buckets} buckets" if files
        else f"reduce: no new file, forked {buckets} stored buckets",
        file=sys.stderr,
    )
    table = os.path.join(txn.root, _BUCKETS)
    txn.drop(txn.root)
    if stored is None:
        txn.drop(table)
    run = os.path.basename(staged)
    for name in sorted(os.listdir(staged)):
        path = os.path.join(staged, name)
        if os.path.getsize(path):
            kind, i = name.split("-")
            if kind == "part":
                txn.add(path, txn.root, f"{name}-{run}")
            else:
                txn.add(path, table, f"{i}-{run}")
    return sum(r.lines for r in counts)


def _read_text(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The lines of the files PATHS, named one by one (a name's `[]{}*?`
    escaped, as Hadoop reads it as a glob) and listed on the driver: they
    are files on a local or shared path, and past
    `parallelPartitionDiscovery.threshold` (32) paths Spark lists them in
    a job of one task per path (1,000 paths on a 4-core `local[4]`:
    3.6-5.9 s, against 0.2 s on the driver)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(max(len(paths), 32)))
    try:
        return spark.read.text([_GLOB.sub(r"\\\1", path) for path in paths])
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _commit(txn: state.Transaction) -> None:
    txn.commit()
    # Hadoop's marker of a completed output
    open(os.path.join(txn.root, "_SUCCESS"), "w").close()


def _total(root: str) -> int:
    """The line count of stage dir ROOT's last commit, from its manifest: a
    reduce's total, or the sum of a map's per-output counts. A file with
    no count (its manifest written by an older layout) is counted here;
    a reduce's `_buckets/` deltas are no output."""
    manifest = state.read_manifest(root)
    lines = manifest.get("lines", {})
    if isinstance(lines, int):
        return lines
    return sum(
        lines[f] if f in lines else _count(os.path.join(root, f))
        for f in manifest["files"] if not os.path.dirname(f)
    )


def _braces(pattern: str) -> list[str]:
    """PATTERN with Hadoop glob's `{a,b}` alternatives expanded (Python's
    glob has none); an unclosed `{` is literal."""
    depth = 0
    for i, c in enumerate(pattern):
        if c == "{":
            if not depth:
                brace, last, parts = i, i + 1, []
            depth += 1
        elif c == "," and depth == 1:
            parts.append(pattern[last:i])
            last = i + 1
        elif c == "}" and depth:
            depth -= 1
            if not depth:
                parts.append(pattern[last:i])
                head, rest = pattern[:brace], pattern[i + 1 :]
                return [x for p in parts for x in _braces(head + p + rest)]
    return [pattern]


def _input_files(input_path: str) -> dict[str, str]:
    """Output name → absolute path of every file a map stage reads for
    INPUT (a local directory, file or glob, Hadoop's `{a,b}` alternatives
    included): each matched file and the files directly inside each
    matched directory, hidden names skipped. The output name is the
    file's own, less a compression extension. What the stage cannot map
    file by file raises here, before any output is touched: no match, a
    nested directory, two files that would share an output name, or a
    codec with no stdlib reader."""
    import glob as globmod

    pattern = _local(input_path)
    roots = sorted({m for p in _braces(pattern) for m in globmod.glob(p)}) or [pattern]
    if not any(os.path.exists(r) for r in roots):
        raise FileNotFoundError(input_path)
    files: dict[str, str] = {}
    for root in roots:
        if root != pattern and _hidden(os.path.basename(root)):
            continue  # a glob match the text source skips
        paths = (
            [os.path.join(root, n) for n in os.listdir(root) if not _hidden(n)]
            if os.path.isdir(root)
            else [root]
        )
        for path in paths:
            if os.path.isdir(path):
                raise ValueError(
                    f"{path}: a map stage reads the files directly inside its "
                    f"input dirs, not nested dirs; name those with a glob"
                )
            if not os.path.isfile(path):
                continue
            name, ext = os.path.splitext(os.path.basename(path))
            if ext in _UNREADABLE:
                raise ValueError(
                    f"{path}: a map stage reads plain, .gz, .bz2 and .deflate "
                    f"files; decompress {ext} inputs first"
                )
            if ext not in _CODEC_EXTS:
                name += ext
            if name in files:
                raise ValueError(
                    f"{files[name]} and {path} would both map to {name}"
                )
            files[name] = os.path.abspath(path)
    return files


class _Plan(NamedTuple):
    # the opened stage dir, with what the stage drops already dropped and
    # the manifest to commit as its meta
    txn: state.Transaction
    # the (input path, output name) files to map, or a reduce's to bucket
    todo: list[tuple[str, str]]
    # a reduce's stored deltas by bucket index (None re-buckets every
    # file), and whether it keeps its buckets' lines for the next run
    stored: dict[int, list[str]] | None = None
    keep: bool = False


def _plan(
    kind: str, input_path: str, output: str, cmd: str, buckets: int, memo: bool
) -> _Plan | None:
    """A stage's memo. Opens OUTPUT as a state root, which deletes the
    data files its manifest does not list (what a crashed run moved in),
    also when the stage turns out to be up to date. Returns None when it
    is (which writes nothing), else what the stage must do.

    The rule is make's: the manifest records the command and the (size,
    mtime_ns) of every input file, a reduce's its bucket count too. A map
    keeps each output whose input file is unchanged, drops the outputs of
    deleted inputs and maps the rest; a changed command re-maps every
    file. A reduce keeps the lines each bucket has received (`_buckets/`)
    and buckets only the input files new since its manifest; a changed
    command alone forks over the stored buckets. It re-buckets every file
    when a recorded input changed or was deleted, the bucket count
    changed, the manifest records no inputs (an older layout, or a run
    without `memo`), or a bucket would hold more than `_MAX_DELTAS`
    deltas. Without `memo` everything reruns and a reduce keeps no
    buckets."""
    files = _input_files(input_path)
    txn = state.Transaction(output, _REDUCE_TABLES if kind == "reduce" else ("",))
    inputs: dict[str, dict] = {}
    for path in files.values():
        st = os.stat(path)
        inputs[path] = {"size": st.st_size, "mtime_ns": st.st_mtime_ns}
    command = f"{kind}\x00{cmd}"
    same = memo and txn.meta.get("command") == command
    old = txn.meta.get("inputs", {})
    if kind == "reduce":
        table = os.path.join(txn.root, _BUCKETS)
        stored: dict[int, list[str]] = {}
        for name in txn.files(table):
            stored.setdefault(int(name.split("-")[0]), []).append(os.path.join(table, name))
        todo = [(path, name) for name, path in sorted(files.items()) if path not in old]
        # only a memoized run records its bucket count, with its inputs
        keep = (
            memo
            and txn.meta.get("buckets") == buckets
            and all(inputs.get(path) == st for path, st in old.items())
            and not (todo and max(map(len, stored.values()), default=0) >= _MAX_DELTAS)
        )
        if keep and same and not todo:
            return None
        if not keep:
            stored, todo = None, [(path, name) for name, path in sorted(files.items())]
        txn.meta = {"command": command, "inputs": inputs, "buckets": buckets} if memo else {}
        return _Plan(txn, todo, stored, memo)
    listed = set(txn.files(output))
    todo = [
        (path, name) for name, path in sorted(files.items())
        if not (same and old.get(path) == inputs[path] and name in listed)
    ]
    gone = listed - set(files)
    if same and not todo and not gone:
        return None
    for name in gone:
        txn.drop(output, name)
    # the line counts of the outputs kept
    lines = txn.meta.get("lines", {}) if same else {}
    txn.meta = {"command": command, "inputs": inputs, "lines": lines}
    return _Plan(txn, todo)


def run_stage(
    spark: SparkSession,
    input_path: str,
    output: str,
    kind: str,
    cmd: str,
    buckets: int = 32,
    plan: _Plan | None = None,
) -> int:
    """One shell stage, carried out as `plan` says (see `_plan`; by
    default everything reruns) and committed to its dir OUTPUT by one
    state commit; returns the dir's line count. A map stage forks CMD once
    per input file still to map (`_map_files`). A reduce stage reads the
    files it buckets by their paths (never its input dir, which may be
    hidden), shuffles them into its buckets and replaces its part files
    (`_reduce`); a memoized one commits its buckets' new deltas with them.
    The manifest keeps the count of each map output, or a reduce's total,
    as the tasks that wrote them counted."""
    plan = plan or _plan(kind, input_path, output, cmd, buckets, memo=False)
    txn = plan.txn
    if kind == "reduce":
        paths = [path for path, _ in plan.todo]
        lines = _read_text(spark, paths) if paths else None
        txn.meta["lines"] = _reduce(spark, lines, txn, cmd, buckets, len(paths), plan.stored, plan.keep)
    else:
        lines = txn.meta["lines"]  # the kept outputs'
        if plan.todo:
            lines.update(_map_files(spark, txn, cmd, plan.todo))
        txn.meta["lines"] = {
            n: lines[n] if n in lines else _count(os.path.join(txn.root, n))
            for n in txn.files(txn.root)
        }
    _commit(txn)
    return _total(txn.root)


def _run_stages(
    spark: SparkSession,
    input_path: str,
    stages: list[tuple[str, str, str]],
    buckets: int,
    memo: bool,
    op: str,
) -> int:
    """Run (kind, cmd, dir) stages in order, each reading the dir of the
    one before (the first reads INPUT), and return the last dir's line
    count. A stage that is up to date is skipped; a stage's jobs are
    described `OP:kind`. Every path is checked to be local before any
    stage dir is opened."""
    cur = _local(input_path)
    stages = [(kind, cmd, _local(d)) for kind, cmd, d in stages]
    n = None
    for i, (kind, cmd, stage_out) in enumerate(stages):
        plan = _plan(kind, cur, stage_out, cmd, buckets, memo)
        if plan is None:
            print(f"memo hit: stage {i} ({kind}) up to date", file=sys.stderr)
            n = None
        else:
            with job_phase(spark, kind, op):
                n = run_stage(spark, cur, stage_out, kind, cmd, buckets=buckets, plan=plan)
        cur = stage_out
    return _total(cur) if n is None else n


def run_map(
    spark: SparkSession,
    input_path: str,
    output: str,
    cmd: str,
    reduce_cmd: str | None = None,
    buckets: int = 32,
) -> int:
    """The `map` / `mapreduce` verbs without `--memo`; returns the output
    line count. `map` is one map stage with OUTPUT as its dir. A
    `mapreduce` keeps no map output it would not reuse: the per-file
    forks' lines stream straight into the reduce's exchange as binary
    Arrow batches (`mapInArrow` over the packed file lists), and OUTPUT
    keeps no buckets and records no inputs, so a later `--memo` run
    re-buckets every file."""
    if reduce_cmd is None:
        return _run_stages(spark, input_path, [("map", cmd, output)], buckets, False, "map")
    files = _input_files(input_path)
    txn = state.Transaction(_local(output), _REDUCE_TABLES)
    todo = [(path, name) for name, path in sorted(files.items())]
    lines = _packed(spark, todo).mapInArrow(partial(_map_batches, cmd), _VALUE)
    with job_phase(spark, "reduce", "mapreduce"):
        txn.meta = {"lines": _reduce(spark, lines, txn, reduce_cmd, buckets, len(todo))}
    _commit(txn)
    return txn.meta["lines"]


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output: str,
    stages: list[tuple[str, str]],
    buckets: int = 32,
    memo: bool = False,
) -> int:
    """Chain (kind, cmd) stages through per-stage dataset directories and
    return the line count of the last one.

    Stage i reads stage i-1's directory (stage 0 reads INPUT) and writes
    OUTPUT/stage{i:02d}; the last stage writes OUTPUT/final. Each stage
    dir is a state root (filemap_spark/state.py). With `memo` each stage
    follows make's rule over the files of the stage before (`_plan`): a
    map stage maps only the files that are new or changed since its
    manifest and drops the outputs of deleted ones; a reduce stage
    shuffles only the new files into its stored buckets, and re-buckets
    everything when a file it bucketed changed or went. A stage with
    nothing to do writes nothing, so invalidation cascades downstream
    exactly like make: add an input file and only it is mapped and
    bucketed; touch one and only it is re-mapped before the reduce
    re-buckets; edit stage 2's command and stages 2..n rerun while 0..1
    are reused. The stages' jobs are described `pipeline:map` and
    `pipeline:reduce`."""
    if not stages:
        raise ValueError("pipeline needs at least one --cmd/--reduce stage")
    dirs = [f"stage{i:02d}" for i in range(len(stages) - 1)] + ["final"]
    roots = [
        (kind, cmd, os.path.join(output, d)) for (kind, cmd), d in zip(stages, dirs)
    ]
    return _run_stages(spark, input_path, roots, buckets, memo, "pipeline")


def run_map_stream(
    spark: SparkSession, input_path: str, output: str, cmd: str
) -> int:
    """Incremental map over a directory: the memoized map stage into
    OUTPUT/data, so a run maps only the files that are new or changed
    since the last one (and drops the outputs of deleted ones). Returns
    the line count of OUTPUT/data."""
    stages = [("map", cmd, os.path.join(output, "data"))]
    return _run_stages(spark, input_path, stages, 32, True, "map")


@releasing
def run_query(
    spark, sf_dir: str, sql: str, output: str | None = None, limit: int = 100
) -> int:
    """SQL entry point over the registered contract-table views (SURVEY
    §3.2 entry point (2)): every table in sf_dir becomes a temp view and
    the query plans through the same Catalyst path as the DataFrame ops.
    Prints up to `limit` rows as TSV, or writes the full result to parquet
    when `output` is given (dataset-out, so results chain into further
    runs)."""
    from filemap_spark.io import register_views

    register_views(spark, sf_dir)
    df = spark.sql(sql)
    if output:
        df.write.mode("overwrite").parquet(output)
        return spark.read.parquet(output).count()
    rows = df.take(limit)
    print("\t".join(df.columns))
    for r in rows:
        print("\t".join("" if v is None else str(v) for v in r))
    return len(rows)


def _mm_hash_fn(modality: str):
    """The decode+hash stage for a perceptual-dedup modality — the same
    stage the graded batch ops and incremental twins run (PNG decode →
    dHash for images, WAV decode → energy-contour hash for audio)."""
    from filemap_spark.operators.multimodal import (
        _audio_fhash_frame,
        _image_dhash_frame,
    )

    return _image_dhash_frame if modality == "image" else _audio_fhash_frame


def _survivors_from_pairs(docs, edges):
    """Min-id survivor rule over a duplicate-pair graph: connected
    components, drop every non-representative member — the
    dedup_materialize_clean rule shared by every dedup path here."""
    from filemap_spark.operators.relational import alternating_star_components

    # one evaluation of the pair plan: the emptiness probe and the
    # components' own checkpoint both read this one
    edges = edges.localCheckpoint()
    if not edges.take(1):
        return docs
    labels = alternating_star_components(edges)
    removed = labels.where(F.col("component") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    return docs.join(removed, "doc_id", "left_anti")


@releasing
def run_dedup(
    spark,
    input_dir: str,
    output: str,
    method: str = "exact",
    modality: str = "text",
) -> tuple[int, int]:
    """Materialize a survivors-only corpus from INPUT/documents.parquet —
    LLM-pipeline dedup as a one-command dataset-in/dataset-out step.
    `exact` keeps the min-doc_id member of each identical-text group (the
    dedup_exact_text survivor rule); `near` runs the shingle Jaccard>=0.8
    pair graph through connected components and keeps each component's min
    member (dedup_materialize_clean's rule); `substring` (round 17)
    keeps EVERY doc but cuts the duplicated ≥50-token spans out of its
    text — the Lee et al. ExactSubstr APPLICATION step over
    `dedup_exact_substring`'s per-doc mask, removing every occurrence
    (the dedup_line_level "deleted everywhere" precedent: a doc whose
    whole text was duplicated survives with empty text, like the
    all-boilerplate line case); the cut runs JVM-side per doc — the
    collected span list joins back doc-keyed and one filter/zip_with
    expression drops covered positions, no token explode, no shuffle
    beyond the graded op's own. `--modality image|audio`
    (round 15, VERDICT r14 task 7) swaps the pair generator for the
    perceptual fingerprint path the graded mm ops run — real PNG/WAV
    decode → 64-bit dHash / energy-contour hash → block-pigeonhole
    candidate join — with the same min-id survivor rule; `method` is moot
    there (perceptual pairs subsume exact byte dups: identical media share
    a fingerprint). The output directory gets `documents.parquet`, so it
    is itself a valid corpus dir — dedup output feeds straight into any
    other verb or operator."""
    from pyspark.sql.window import Window

    from filemap_spark.io import load_table

    docs = load_table(spark, input_dir, "documents")
    n_total = docs.count()
    if modality != "text":
        from filemap_spark.functions.blocked import (
            CORPUS_MATCHED_KNOB,
            fingerprint_near_dup_pairs,
        )

        hashes = (
            _mm_hash_fn(modality)(docs.select("doc_id", "text"))
            .withColumnRenamed("fp", "h")
            .localCheckpoint()
        )
        nb, bb, t = CORPUS_MATCHED_KNOB
        pairs = fingerprint_near_dup_pairs(
            hashes, id_col="doc_id", hash_col="h",
            n_blocks=nb, block_bits=bb, threshold=t,
        )
        clean = _survivors_from_pairs(
            docs,
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
        )
    elif method == "exact":
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        clean = (
            docs.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
        )
    elif method == "substring":
        from filemap_spark.operators.text import dedup_exact_substring

        cuts = (
            dedup_exact_substring(spark, input_dir)
            .groupBy("doc_id")
            .agg(
                F.collect_list(
                    F.struct("span_start", "span_end")
                ).alias("cuts")
            )
        )
        kept_words = F.expr(
            "transform(filter("
            " zip_with(split(text, ' '),"
            "          sequence(1, size(split(text, ' '))),"
            "          (w, i) -> struct(w as w, i as i)),"
            " x -> cuts is null or not exists(cuts,"
            "      c -> x.i >= c.span_start and x.i <= c.span_end)),"
            " x -> x.w)"
        )
        clean = (
            docs.join(cuts, "doc_id", "left")
            .withColumn("text", F.array_join(kept_words, " "))
            .select(
                "doc_id",
                "text",
                "lang",
                "source",
                F.length("text").cast("bigint").alias("n_chars"),
            )
        )
    else:
        from filemap_spark.operators.relational import _jaccard_cc_labels

        labels = _jaccard_cc_labels(spark, input_dir)
        survivors = labels.where(F.col("component") == F.col("doc_id")).select(
            "doc_id"
        )
        clean = docs.join(survivors, "doc_id")
    out = os.path.join(output, "documents.parquet")
    clean.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).count(), n_total


@releasing
def run_dedup_stream(
    spark,
    input_dir: str,
    output: str,
    threshold: float = 0.8,
    modality: str = "text",
) -> tuple[int, int]:
    """Incremental near-dedup over a GROWING corpus directory — the
    persisted-index paths wired to a Structured-Streaming parquet file
    source, filemap's new-files-only model end-to-end:

      - the file-source checkpoint (OUTPUT/_checkpoint) hands each run
        ONLY the parquet files that appeared since the last run;
      - `text` (default): each micro-batch ingests into the persisted
        LSH index under OUTPUT/_lsh_state
        (operators/text.py:incremental_lsh_ingest) — unseen docs are
        shingled/minhashed/banded once; the existing corpus contributes
        only through the index, whose files each batch scans (never
        re-shingles). A batch small enough to broadcast probes the index
        by its keys; a larger one (this verb sets no maxFilesPerTrigger,
        so a run drains every new file as one batch) shuffles the index;
      - `image` / `audio` (round 15, VERDICT r14 task 7): each
        micro-batch ingests into the persisted fingerprint ledger under
        OUTPUT/_fp_state (functions/blocked.py:
        incremental_fingerprint_ingest) — the anti-join on seen doc_ids
        runs BEFORE the decode stage, so each run decodes+hashes only
        its delta (PNG→dHash / WAV→energy hash), and the batch's
        fingerprints pigeonhole-probe the persisted index;
      - verified duplicate pairs accumulate in OUTPUT/_pairs;
      - OUTPUT is one state root (filemap_spark/state.py): a micro-batch's
        ledger, index and `_pairs` rows commit together by one rename of
        OUTPUT/_filemap_memo.json, keyed by the foreachBatch batch id, so a
        crash before the rename replays the whole batch and a replay of a
        committed batch is a no-op;
      - after the drain the state tables and `_pairs` are compacted
        (compact_parquet_dir's hysteresis) in one more commit;
      - the survivors-only corpus is rebuilt from the input directory +
        accumulated pairs via connected components (min-id survivor — the
        same rule as `dedup --method near`), written to
        OUTPUT/documents.parquet so the output chains as a corpus dir. A
        rebuild re-reads the whole input directory and all accumulated
        pairs and rewrites the survivor corpus, so it runs only when the
        fingerprint of those two inputs (file paths, sizes, mtimes)
        differs from the one the manifest records after the last
        rebuild: a run that ingested nothing, and compacted nothing,
        leaves documents.parquet untouched and returns the (kept, total)
        the manifest recorded with that fingerprint, running no job.

    Returns (kept, total-ingested). Re-running with no new files is a
    cheap no-op drain. tests/test_cli.py pins: two-batch arrival, the
    second run touching only batch-2 docs, the final corpus matching
    a from-scratch batch dedup of the union — for text AND the
    perceptual modalities — the no-op run writing nothing, and a crash
    on either side of the batch commit."""
    from filemap_spark.operators.text import (
        _LSH_STATE_TABLES,
        compact_lsh_state,
        compact_parquet_dir,
    )

    if modality == "text":
        from filemap_spark.operators.text import incremental_lsh_ingest

        state_name, names = "_lsh_state", _LSH_STATE_TABLES
        ingest = partial(incremental_lsh_ingest, threshold=threshold)
    else:
        from filemap_spark.functions.blocked import (
            CORPUS_MATCHED_KNOB,
            incremental_fingerprint_ingest,
        )

        state_name, names = "_fp_state", ("fingerprints.parquet",)
        nb, bb, t = CORPUS_MATCHED_KNOB
        ingest = partial(
            incremental_fingerprint_ingest, hash_fn=_mm_hash_fn(modality),
            n_blocks=nb, block_bits=bb, threshold=t,
        )
    state_dir = os.path.join(output, state_name)
    ledger = os.path.join(state_dir, names[0])
    pairs_dir = os.path.join(output, "_pairs")
    tables = [os.path.join(state_name, n) for n in names] + ["_pairs"]

    def sink(batch_df, batch_id):
        with state.transaction(output, tables, batch=batch_id) as txn:
            if not txn.replay:
                with job_phase(spark, "ingest", "dedup_stream"):
                    pairs = ingest(spark, batch_df.select("doc_id", "text"), state_dir=state_dir)
                with job_phase(spark, "stage", "dedup_stream"):
                    txn.append(pairs.drop("hamming"), pairs_dir)

    q = (
        spark.readStream.schema(spark.read.parquet(input_dir).schema)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(output, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # each micro-batch adds a file set per state table and to _pairs, so a
    # long-running arrival loop otherwise collects unbounded small files
    # the next run's probes and pair re-reads pay for; the hysteresis in
    # compact_parquet_dir keeps this from rewriting the full state on
    # every drain
    with state.transaction(output, tables) as txn, job_phase(spark, "compact", "dedup_stream"):
        if modality == "text":
            compact_lsh_state(spark, state_dir)
        else:
            compact_parquet_dir(spark, ledger)
        compact_parquet_dir(spark, pairs_dir)
    if not txn.files(ledger):  # empty input dir, nothing ingested
        return 0, 0
    out = os.path.join(output, "documents.parquet")
    # survivors are a function of the input files and the pairs alone
    fp = _fingerprint(input_dir, ["survivors", _fingerprint(pairs_dir, [])])
    hit = _memo_hit(output, fp)
    if hit and "kept" in hit and os.path.exists(os.path.join(out, "_SUCCESS")):
        return hit["kept"], hit["total"]
    with job_phase(spark, "survivors", "dedup_stream"):
        edges = spark.read.parquet(pairs_dir).select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        clean = _survivors_from_pairs(spark.read.parquet(input_dir), edges)
        clean.write.mode("overwrite").parquet(out)
        kept, n_total = spark.read.parquet(out).count(), spark.read.parquet(ledger).count()
    # a rebuild cut short leaves no _SUCCESS, so it never reads as current
    with state.transaction(output, tables) as txn:
        txn.meta.update(fingerprint=fp, kept=kept, total=n_total)
    return kept, n_total


# The 22 canonical TPC-H query shapes → registry ids (corpus-adapted
# forms; see each op's docstring for what was reshaped and why).
TPCH_QUERIES = {
    "q1": "agg_pricing_summary",
    "q2": "join_min_cost_supplier_q2",
    "q3": "join_shipping_priority_q3",
    "q4": "subq_exists_late_q4",
    "q5": "join_snowflake_q5",
    "q6": "agg_revenue_band_q6",
    "q7": "join_nation_volume_q7",
    "q8": "agg_market_share_q8",
    "q9": "agg_profit_by_nation_q9",
    "q10": "join_returned_rev_q10",
    "q11": "subq_value_concentration_q11",
    "q12": "join_late_shipment_q12",
    "q13": "join_custdist_q13",
    "q14": "agg_promo_share_q14",
    "q15": "subq_top_supplier_q15",
    "q16": "agg_supplier_variety_q16",
    "q17": "subq_small_qty_q17",
    "q18": "join_top_orders_q18",
    "q19": "agg_disjunctive_revenue_q19",
    "q20": "subq_excess_share_q20",
    "q21": "join_sole_late_shipper_q21",
    "q22": "subq_idle_customers_q22",
}


@releasing
def run_tpch(
    spark, sf_dir: str, which: list[str] | None = None, output: str | None = None
) -> list[tuple[str, str, int, float]]:
    """Run the TPC-H parity suite (all 22 shapes, or a subset) against the
    contract tables in `sf_dir`. Returns (qid, registry id, rows, secs)
    per query; with `output`, each result also lands as
    OUTPUT/<qid>.parquet (the production sink path — results are written,
    not collected, so driver memory stays O(1) regardless of result
    size)."""
    import time as _time

    from filemap_spark.registry import all_queries

    queries = all_queries()
    rows_out: list[tuple[str, str, int, float]] = []
    for qid in which or sorted(TPCH_QUERIES, key=lambda q: int(q[1:])):
        name = TPCH_QUERIES[qid]
        t0 = _time.time()
        df = queries[name](spark, sf_dir)
        if output:
            df.write.mode("overwrite").parquet(os.path.join(output, qid + ".parquet"))
            n = spark.read.parquet(os.path.join(output, qid + ".parquet")).count()
        else:
            n = df.count()
        rows_out.append((qid, name, n, round(_time.time() - t0, 3)))
    return rows_out


@releasing
def run_stats(spark, input_dir: str) -> dict[str, float]:
    """Corpus-health report (round 5) — the numbers a curation run prints
    first, over any corpus dir with documents.parquet (including the
    output of `dedup`): doc/token counts, language/source spread, exact
    near-dup pressure (docs sharing an md5(text)), and the Gini
    concentration of doc lengths (few huge docs dominating the token
    budget). Composes the same primitives as the graded operators."""
    from filemap_spark.io import load_table

    docs = load_table(spark, input_dir, "documents")
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    ).collect()[0]
    dup_docs = (
        docs.groupBy(F.md5("text"))
        .count()
        .where(F.col("count") > 1)
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("d"))
        .collect()[0]["d"]
    )
    from filemap_spark.functions.ranks import with_global_rank

    ranked = with_global_rank(
        docs.select("doc_id", "n_chars"), "n_chars", "doc_id",
        rank_col="rk", total_col="n",
    )
    g = ranked.agg(
        F.round(
            (
                2 * F.sum(F.col("rk") * F.col("n_chars"))
                - (F.max("n") + 1) * F.sum("n_chars")
            ).cast("double")
            / (F.max("n") * F.sum("n_chars")).cast("double"),
            6,
        ).alias("gini")
    ).collect()[0]["gini"]
    return {
        "n_docs": int(base["n_docs"]),
        "n_tokens": int(base["n_tokens"]),
        "n_langs": int(base["n_langs"]),
        "n_sources": int(base["n_sources"]),
        "n_docs_in_exact_dup_groups": int(dup_docs),
        "length_gini": float(g),
    }


def run_compact(
    spark,
    input_dir: str,
    output: str,
    sort_key: str,
    target_files: int = 4,
    max_records_per_file: int = 2_000_000,
) -> tuple[int, int, int]:
    """Small-file compaction as a CLI verb (round 5): rewrite a fragmented
    parquet dataset as `target_files` range-clustered files (the
    sink_compact_small_files operator's rewrite, operators/scans.py).
    Returns (files_before, files_after, rows)."""
    import glob as globmod

    from filemap_spark.operators.scans import compact_parquet_dataset

    before = len(globmod.glob(os.path.join(input_dir, "*.parquet")))
    compact_parquet_dataset(
        spark, input_dir, output, sort_key, target_files,
        max_records_per_file=max_records_per_file,
    )
    after = len(globmod.glob(os.path.join(output, "*.parquet")))
    rows = spark.read.parquet(output).count()
    return before, after, rows


@releasing
def run_quality(
    spark, input_dir: str, output: str, clean_lines: bool = False,
    gate: str = "rules", scores_out: str | None = None,
) -> dict[str, int]:
    """Quality-gate a corpus as a CLI verb (round 5): apply the
    `text_gopher_rules` gate over INPUT/documents.parquet and materialize
    the keepers (all original columns) to OUTPUT/documents.parquet —
    chainable into `dedup`/`stats`/another `quality` run, like every
    corpus-dir verb. With `clean_lines`, cross-corpus duplicated lines are
    first stripped via `dedup_line_level` (text and n_chars rewritten from
    the surviving lines; docs that were ALL boilerplate drop out before
    the gate even sees them). `--gate learned` (round 15, the
    text_quality_classifier tier) swaps the rule conjunction for the
    trained Naive-Bayes verdict — the CCNet-style upgrade path: bootstrap
    labels from the rules, gate on the model — and the audit reports the
    model/rules agreement instead of per-rule drop counts. Composes the
    graded operators; returns the audit the operator reads before
    trusting the gate.

    `--gate dsir` (round 17, VERDICT r16 task 6) gates on
    `text_dsir_importance`'s keep flag (exact-int log importance weight
    > 0: the doc looks more target-like than raw-average); `--gate kn`
    gates on `text_kneser_ney_logprob`'s per-doc mean −ln p at or under
    the corpus MEDIAN (exact percentile — the CCNet perplexity-gate
    shape; docs too short to have a bigram are unscored and dropped,
    counted in the audit).

    `scores_out` (round 16, VERDICT r15 task 7) exports the PER-DOC
    verdict frame as a parquet dataset — the learned gate's
    (doc_id, n_tokens, nb_score, nb_verdict, gopher_verdict, agree), or
    the rule gate's per-rule flag frame — so a curation operator can
    audit scores and model/rules disagreements doc by doc. Pass
    OUTPUT='-' to skip materializing the kept corpus entirely
    (scores-only mode: inspect before you gate)."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import (
        _line_dedup,
        text_dsir_importance,
        text_gopher_rules,
        text_kneser_ney_logprob,
        text_quality_classifier,
    )

    import shutil
    import tempfile

    docs = load_table(spark, input_dir, "documents")
    n_docs = docs.count()
    lines_removed = 0
    tmp_corpus = None
    try:
        if clean_lines:
            # one execution: checkpoint the line-dedup kernel's result (no
            # presentation sort — the verb only joins it by doc_id) so the
            # audit sum and the materialization join both read it
            cleaned = _line_dedup(docs).localCheckpoint()
            lines_removed = (
                cleaned.agg(
                    F.coalesce(
                        F.sum(F.col("n_paras") - F.col("n_kept")), F.lit(0)
                    ).alias("d")
                ).collect()[0]["d"]
            )
            docs = (
                docs.join(cleaned.where(F.col("n_kept") > 0), "doc_id")
                .select(
                    "doc_id",
                    F.col("clean_text").alias("text"),
                    "lang",
                    "source",
                    # cast: F.length yields int32; the corpus contract
                    # (FIXTURES.md) declares n_chars int64 — keep chainable
                    # outputs schema-identical to every other verb's
                    F.length("clean_text").cast("bigint").alias("n_chars"),
                )
            )
            # the gate must score the CLEANED text, so re-ingest it as a
            # corpus — under a real temp dir, never inside OUTPUT (a stale
            # _cleaned beside documents.parquet would ship with the corpus)
            tmp_corpus = tempfile.mkdtemp(prefix="filemap_quality_")
            docs.write.mode("overwrite").parquet(
                os.path.join(tmp_corpus, "documents.parquet")
            )
            docs = load_table(spark, tmp_corpus, "documents")
            input_dir = tmp_corpus
        if gate == "learned":
            verdicts = text_quality_classifier(spark, input_dir)
            # without scores_out, the audit and the keepers join each run the plan
            if scores_out:
                # checkpoint: the scores export, the audit agg, and the
                # keepers join below would otherwise each re-run the
                # train+score plan
                verdicts = verdicts.localCheckpoint()
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.coalesce(
                    F.sum(F.when(F.col("nb_verdict") == "keep", 1).otherwise(0)),
                    F.lit(0),
                ).alias("kept"),
                F.coalesce(F.sum("agree"), F.lit(0)).alias("agree"),
            ).collect()[0]
            keepers = verdicts.where(F.col("nb_verdict") == "keep").select(
                "doc_id"
            )
            audit = {
                "scored": audit_row["scored"],
                "kept": int(audit_row["kept"]),
                "agree_with_rules": int(audit_row["agree"]),
            }
        elif gate == "dsir":
            verdicts = text_dsir_importance(spark, input_dir)
            if scores_out:
                verdicts = verdicts.localCheckpoint()
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.coalesce(F.sum("dsir_keep"), F.lit(0)).alias("kept"),
                F.coalesce(
                    F.sum(F.when(F.col("n_feats") == 0, 1).otherwise(0)),
                    F.lit(0),
                ).alias("zero_feat"),
            ).collect()[0]
            keepers = verdicts.where(F.col("dsir_keep") == 1).select("doc_id")
            audit = {
                "scored": audit_row["scored"],
                "kept": int(audit_row["kept"]),
                "zero_feature_docs": int(audit_row["zero_feat"]),
            }
        elif gate == "kn":
            # one execution: the median threshold and the keep filter both
            # read the scored frame
            verdicts = text_kneser_ney_logprob(spark, input_dir).localCheckpoint()
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.expr("percentile(avg_neg_logp, 0.5)").alias("med"),
            ).collect()[0]
            med = audit_row["med"]
            keepers = verdicts.where(
                F.col("avg_neg_logp") <= F.lit(med)
            ).select("doc_id")
            kept = keepers.count()
            audit = {
                "scored": audit_row["scored"],
                "kept": kept,
                "unscored_short_docs": n_docs - audit_row["scored"],
                "median_neg_logp": round(float(med), 6) if med is not None else None,
            }
        else:
            verdicts = text_gopher_rules(spark, input_dir)
            if scores_out:
                verdicts = verdicts.localCheckpoint()
            # coalesce every summed counter: over an EMPTY corpus (a prior
            # run kept zero docs, or --clean-lines dropped everything)
            # sum() is NULL
            audit_row = verdicts.agg(
                F.count("*").alias("scored"),
                F.coalesce(
                    F.sum(F.when(F.col("verdict") == "keep", 1).otherwise(0)),
                    F.lit(0),
                ).alias("kept"),
                *[
                    F.coalesce(F.sum(1 - F.col(c)), F.lit(0)).alias(f"fail_{c}")
                    for c in ("r_len", "r_word_len", "r_short", "r_rep", "r_stop")
                ],
            ).collect()[0]
            keepers = verdicts.where(F.col("verdict") == "keep").select("doc_id")
            audit = {
                "scored": audit_row["scored"],
                "kept": int(audit_row["kept"]),
                **{
                    f"fail_{c}": int(audit_row[f"fail_{c}"])
                    for c in ("r_len", "r_word_len", "r_short", "r_rep", "r_stop")
                },
            }
        if scores_out:
            verdicts.write.mode("overwrite").parquet(scores_out)
            audit["scores_rows"] = spark.read.parquet(scores_out).count()
        if output != "-":
            docs.join(keepers, "doc_id", "left_semi").write.mode(
                "overwrite"
            ).parquet(os.path.join(output, "documents.parquet"))
    finally:
        if tmp_corpus is not None:
            shutil.rmtree(tmp_corpus, ignore_errors=True)
    return {
        "n_docs": n_docs,
        "lines_removed": int(lines_removed),
        **audit,
    }


@releasing
def run_decontam(
    spark,
    input_dir: str,
    output: str,
    eval_dir: str,
    max_frac: float = 0.0,
    report_out: str | None = None,
) -> dict[str, int]:
    """Benchmark-decontaminate a training corpus as a CLI verb (round
    16): drop every INPUT/documents.parquet doc sharing a 13-gram with
    ANY doc in EVAL_DIR/documents.parquet — the graded
    `text_contamination_ngram` rule with a real, separate benchmark
    corpus instead of the fixture split. `--max-frac` relaxes the gate
    to "drop only docs whose contaminated 13-gram fraction exceeds F"
    (default 0.0 = one collision drops, the published conservative
    rule); `--report-out` exports the per-contaminated-doc collision
    report as parquet. OUTPUT gets `documents.parquet` with all original
    columns, so it chains into `dedup`/`quality`/`stats` like every
    corpus-dir verb."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import _contam_ngrams, _contam_report

    docs = load_table(spark, input_dir, "documents")
    n_docs = docs.count()
    ws = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).localCheckpoint()
    ev = (
        _contam_ngrams(
            load_table(spark, eval_dir, "documents").select(
                "doc_id", F.split("text", " ").alias("ws")
            )
        )
        .select("ng")
        .distinct()
    )
    # the report is at most contaminated-doc-sized; checkpoint so the
    # optional export, the drop-set derivation, and the audit counts
    # run the probe join once
    report = _contam_report(_contam_ngrams(ws), ev).localCheckpoint()
    if report_out:
        report.orderBy("doc_id").write.mode("overwrite").parquet(report_out)
    dropped = report.where(F.col("contamination_frac") > max_frac).select(
        "doc_id"
    )
    out = os.path.join(output, "documents.parquet")
    docs.join(dropped, "doc_id", "left_anti").write.mode("overwrite").parquet(
        out
    )
    return {
        "n_docs": n_docs,
        "contaminated": report.count(),
        "dropped": dropped.count(),
        "kept": spark.read.parquet(out).count(),
    }


_BUCKETS_HELP = (
    "hash buckets of a reduce, one fork and part file each (default 32); "
    "with --memo a reduce stage dir keeps its bucket count and each "
    "bucket's lines, and a run with another count re-buckets every file"
)


class _StageAction(argparse.Action):
    """Collect repeated --cmd/--reduce flags as an ORDERED stage list."""

    def __call__(self, parser, namespace, values, option_string=None):
        stages = getattr(namespace, "stages", None) or []
        stages.append(("map" if option_string == "--cmd" else "reduce", values))
        namespace.stages = stages


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="filemap_spark", description=__doc__)
    sub = ap.add_subparsers(dest="verb", required=True)

    for verb in ("map", "mapreduce"):
        p = sub.add_parser(verb)
        p.add_argument("input")
        p.add_argument("output")
        p.add_argument("--cmd", required=True, help="map shell pipeline")
        if verb == "mapreduce":
            p.add_argument("--reduce", required=True, help="reduce shell pipeline")
            p.add_argument("--buckets", type=int, default=32, help=_BUCKETS_HELP)
        p.add_argument("--memo", action="store_true")
        p.add_argument("--stream", action="store_true")

    p = sub.add_parser("pipeline", help="chain --cmd/--reduce stages in CLI order")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--cmd", action=_StageAction, help="append a map stage")
    p.add_argument("--reduce", action=_StageAction, dest="stages", help="append a reduce stage")
    p.add_argument("--buckets", type=int, default=32, help=_BUCKETS_HELP)
    p.add_argument("--memo", action="store_true")

    p = sub.add_parser("query", help="SQL over the contract-table views in SF_DIR")
    p.add_argument("sf_dir")
    p.add_argument("sql")
    p.add_argument(
        "--output", default=None, help="write result parquet here instead of printing"
    )
    p.add_argument("--limit", type=int, default=100)

    p = sub.add_parser(
        "dedup", help="materialize a survivors-only corpus from INPUT/documents.parquet"
    )
    p.add_argument("input")
    p.add_argument("output")
    # default=None so the dispatch can tell an EXPLICIT --method exact
    # from the default when warning that a non-text modality (or
    # --stream) ignores it (ADVICE r15)
    p.add_argument(
        "--method",
        choices=("exact", "near", "substring"),
        default=None,
        help="exact = whole-doc identical-text survivors; near = Jaccard "
        "component survivors; substring = keep every doc but CUT the "
        "duplicated >=50-token spans out of its text (the Lee et al. "
        "ExactSubstr application step, dedup_exact_substring's mask)",
    )
    p.add_argument(
        "--stream",
        action="store_true",
        help="incremental near-dedup: INPUT is a growing parquet dir; only "
        "files new since the last run are ingested (persisted LSH index)",
    )
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument(
        "--modality",
        choices=("text", "image", "audio"),
        default="text",
        help="pair generator: text shingle-Jaccard (default), or the "
        "perceptual fingerprint paths (PNG→dHash / WAV→energy hash); "
        "with --stream, image/audio use the persisted fingerprint "
        "ledger (delta-only decode)",
    )

    p = sub.add_parser(
        "stats", help="corpus-health report over INPUT/documents.parquet"
    )
    p.add_argument("input")

    p = sub.add_parser(
        "quality",
        help="Gopher-rule gate INPUT/documents.parquet into a kept corpus",
    )
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument(
        "--clean-lines",
        action="store_true",
        help="strip cross-corpus duplicated lines before gating",
    )
    p.add_argument(
        "--gate",
        choices=("rules", "learned", "dsir", "kn"),
        default="rules",
        help="rules = the Gopher conjunction (default); learned = the "
        "trained Naive-Bayes tier (text_quality_classifier); dsir = the "
        "hashed-bigram importance-weight gate (text_dsir_importance, "
        "keep iff log p_target/p_raw > 0); kn = the Kneser-Ney "
        "perplexity gate (text_kneser_ney_logprob, keep iff the doc's "
        "mean -ln p is at or under the corpus median)",
    )
    p.add_argument(
        "--scores-out",
        default=None,
        help="also export the per-doc verdict frame (scores + agreement "
        "for --gate learned, per-rule flags otherwise) as a parquet "
        "dataset here; pass OUTPUT='-' to skip the kept corpus and "
        "export scores only",
    )

    p = sub.add_parser(
        "decontam",
        help="drop INPUT docs sharing a 13-gram with the EVAL benchmark corpus",
    )
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument(
        "--eval-dir",
        required=True,
        help="benchmark corpus dir (documents.parquet) to decontaminate against",
    )
    p.add_argument(
        "--max-frac",
        type=float,
        default=0.0,
        help="drop docs whose contaminated 13-gram fraction exceeds this "
        "(default 0.0: any collision drops)",
    )
    p.add_argument(
        "--report-out",
        default=None,
        help="also export the per-contaminated-doc collision report here",
    )

    p = sub.add_parser(
        "tpch",
        help="run the 22-query TPC-H parity suite over the tables in SF_DIR",
    )
    p.add_argument("sf_dir")
    p.add_argument(
        "--query",
        action="append",
        choices=sorted(TPCH_QUERIES, key=lambda q: int(q[1:])),
        help="run only this query (repeatable); default: all 22",
    )
    p.add_argument(
        "--output", default=None, help="write each result as OUTPUT/<qid>.parquet"
    )

    p = sub.add_parser(
        "ops",
        help="list the registered operator catalog (id, check type, semantics)",
    )
    p.add_argument(
        "--family",
        default=None,
        help="filter to one operator module (e.g. text, joins, aggregates)",
    )

    p = sub.add_parser(
        "memo",
        help="inspect or invalidate the content-addressed result warehouse",
    )
    p.add_argument("action", choices=("ls", "rm", "evict"))
    p.add_argument(
        "--warehouse",
        default=None,
        help="warehouse dir (default $FILEMAP_WAREHOUSE or the tmp default)",
    )
    p.add_argument("--key", default=None, help="key prefix filter for rm")
    p.add_argument(
        "--all",
        action="store_true",
        dest="rm_all",
        help="rm: drop EVERY committed entry (required when --key is absent)",
    )
    p.add_argument(
        "--max-bytes",
        type=int,
        default=None,
        help="evict least-recently-used entries until the warehouse fits "
        "(required for evict; 0 keeps only the newest entry)",
    )

    p = sub.add_parser(
        "compact",
        help="rewrite a fragmented parquet dataset as few range-clustered files",
    )
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("--sort-key", required=True)
    p.add_argument("--target-files", type=int, default=4)
    p.add_argument("--max-records-per-file", type=int, default=2_000_000)

    args = ap.parse_args(argv)
    if args.verb == "memo":
        # warehouse maintenance is pure filesystem work: no SparkSession
        from filemap_spark.plans.memo import (
            evict_lru,
            invalidate,
            warehouse_entries,
        )

        if args.action == "ls":
            entries = warehouse_entries(args.warehouse)
            for e in entries:
                print(f"{e['key']}\t{e['bytes']}\t{int(e['mtime'])}\t{e['files']}")
            print(f"{len(entries)} entries", file=sys.stderr)
        elif args.action == "rm":
            # destructive-default guard: a bare `memo rm` must not silently
            # drop the whole warehouse — demand --key or an explicit --all
            if args.key is None and not args.rm_all:
                print("memo rm: pass --key PREFIX, or --all to drop every entry",
                      file=sys.stderr)
                return 2
            n = invalidate(args.warehouse, prefix=args.key)
            print(f"{n} entries dropped", file=sys.stderr)
        else:
            if args.max_bytes is None:
                print("memo evict: --max-bytes is required "
                      "(0 keeps only the newest entry)", file=sys.stderr)
                return 2
            keys = evict_lru(args.warehouse, args.max_bytes)
            print(f"{len(keys)} entries evicted", file=sys.stderr)
        return 0
    if args.verb == "ops":
        # registry-only: no SparkSession needed to browse the catalog
        from filemap_spark.registry import _META, all_oracle, all_queries

        queries = all_queries()
        oracle = set(all_oracle())
        shown = 0
        for name in sorted(queries):
            family = _META[name][0]
            if args.family and family != args.family:
                continue
            doc = (queries[name].__doc__ or "").strip().splitlines()
            sem = doc[0].strip() if doc else "(undocumented)"
            check = "oracle" if name in oracle else "rows-only"
            print(f"{name}\t{family}\t{check}\t{sem}")
            shown += 1
        print(f"{shown} operators", file=sys.stderr)
        return 0
    if args.verb == "pipeline" and not getattr(args, "stages", None):
        p.error("pipeline needs at least one --cmd/--reduce stage")
    from filemap_spark.session import get_spark

    spark = get_spark("filemap-cli")
    if args.verb == "query":
        n = run_query(spark, args.sf_dir, args.sql, output=args.output, limit=args.limit)
        print(f"{n} rows", file=sys.stderr)
        return 0
    if args.verb == "dedup":
        if args.method is not None and (args.stream or args.modality != "text"):
            # ADVICE r15: an explicit --method with a non-text modality
            # (or --stream) was silently ignored — say so. Perceptual
            # pairs subsume exact byte dups (identical media share a
            # fingerprint); --stream IS the incremental near-dup path.
            why = "--stream" if args.stream else f"--modality {args.modality}"
            print(
                f"note: --method {args.method} is ignored with {why} "
                "(that path defines its own pair generator)",
                file=sys.stderr,
            )
        if args.stream:
            # --stream IS the incremental near-dup path; --method is moot
            kept, total = run_dedup_stream(
                spark, args.input, args.output,
                threshold=args.threshold, modality=args.modality,
            )
        else:
            kept, total = run_dedup(
                spark, args.input, args.output, args.method or "exact",
                modality=args.modality,
            )
        print(f"kept {kept}/{total} docs -> {args.output}", file=sys.stderr)
        return 0
    if args.verb == "stats":
        for k, v in run_stats(spark, args.input).items():
            print(f"{k}\t{v}")
        return 0
    if args.verb == "quality":
        audit = run_quality(
            spark, args.input, args.output, clean_lines=args.clean_lines,
            gate=args.gate, scores_out=args.scores_out,
        )
        for k, v in audit.items():
            print(f"{k}\t{v}")
        return 0
    if args.verb == "decontam":
        audit = run_decontam(
            spark, args.input, args.output, eval_dir=args.eval_dir,
            max_frac=args.max_frac, report_out=args.report_out,
        )
        for k, v in audit.items():
            print(f"{k}\t{v}")
        return 0
    if args.verb == "tpch":
        results = run_tpch(spark, args.sf_dir, which=args.query, output=args.output)
        for qid, name, n, secs in results:
            print(f"{qid}\t{name}\t{n}\t{secs:.3f}")
        print(f"{len(results)} queries", file=sys.stderr)
        return 0
    if args.verb == "compact":
        before, after, rows = run_compact(
            spark,
            args.input,
            args.output,
            args.sort_key,
            target_files=args.target_files,
            max_records_per_file=args.max_records_per_file,
        )
        print(
            f"compacted {before} -> {after} files ({rows} rows) -> {args.output}",
            file=sys.stderr,
        )
        return 0
    if args.verb == "pipeline":
        n = run_pipeline(
            spark,
            args.input,
            args.output,
            getattr(args, "stages", None) or [],
            buckets=args.buckets,
            memo=args.memo,
        )
        print(f"{n} lines -> {os.path.join(args.output, 'final')}", file=sys.stderr)
        return 0
    reduce_cmd = getattr(args, "reduce", None)
    buckets = getattr(args, "buckets", 32)
    if args.stream:
        if reduce_cmd:
            raise SystemExit("--stream supports map-only pipelines")
        n = run_map_stream(spark, args.input, args.output, args.cmd)
    elif args.memo:
        stages = [("map", args.cmd, args.output)]
        if reduce_cmd is not None:  # the map's outputs kept for new-files-only reruns
            stages = [("map", args.cmd, os.path.join(args.output, "_map")),
                      ("reduce", reduce_cmd, args.output)]
        n = _run_stages(spark, args.input, stages, buckets, True, args.verb)
    else:
        n = run_map(spark, args.input, args.output, args.cmd, reduce_cmd, buckets)
    print(f"{n} lines -> {args.output}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
