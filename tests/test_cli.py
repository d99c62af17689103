"""fm-style CLI semantics (filemap parity surface, SURVEY §3.1):
map/mapreduce shell pipelines over text datasets, make-like memoization,
and incremental (new-files-only) streaming runs."""

from __future__ import annotations

import gzip
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from filemap_spark.cli import (
    _fingerprint,
    _memo_hit,
    main,
    run_decontam,
    run_dedup,
    run_map,
    run_map_stream,
    run_pipeline,
    run_quality,
    run_stats,
)
from filemap_spark.io import load_table


def _write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_map_shell_pipeline(spark, tmp_path):
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["apple pie", "banana split", "apple cake"])
    out = str(tmp_path / "out")
    n = run_map(spark, str(src), out, "grep apple")
    rows = {r["value"] for r in spark.read.text(out).collect()}
    assert n == 2
    assert rows == {"apple pie", "apple cake"}


def test_mapreduce_wordcount_matches_native(spark, tmp_path):
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "b.txt"), ["c a"])
    out = str(tmp_path / "out")
    run_map(
        spark,
        str(src),
        out,
        cmd="tr ' ' '\\n'",
        reduce_cmd="sort | uniq -c | awk '{print $2, $1}'",
        buckets=4,
    )
    got = {}
    for r in spark.read.text(out).collect():
        word, n = r["value"].split(" ")
        got[word] = int(n)
    assert got == {"a": 4, "b": 2, "c": 2}


def test_memo_fingerprint_tracks_inputs_and_commands(tmp_path):
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["x"])
    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    fp1 = _fingerprint(str(src), ["grep x"])
    with open(os.path.join(out, "_filemap_memo.json"), "w") as f:
        json.dump({"fingerprint": fp1}, f)
    assert _memo_hit(out, fp1)
    # command change -> miss
    assert not _memo_hit(out, _fingerprint(str(src), ["grep y"]))
    # input change -> miss
    _write_lines(str(src / "b.txt"), ["y"])
    assert not _memo_hit(out, _fingerprint(str(src), ["grep x"]))


def test_pipeline_chains_stages_with_per_stage_memo(spark, tmp_path, capsys):
    """3-stage chained pipeline (map → reduce → map) in ONE invocation, each
    stage a memoized dataset dir; a re-run with --memo reuses every stage,
    and editing a mid-pipeline command recomputes only that stage onward."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "b.txt"), ["c a"])
    out = str(tmp_path / "out")
    stages = [
        ("map", "tr ' ' '\\n'"),
        ("reduce", "sort | uniq -c | awk '{print $2, $1}'"),
        ("map", "grep -v '^c '"),  # stage-2 filter: drop the word "c"
    ]
    n = run_pipeline(spark, str(src), out, stages, buckets=4, memo=True)
    final = os.path.join(out, "final")
    got = dict(r["value"].split(" ") for r in spark.read.text(final).collect())
    assert got == {"a": "4", "b": "2"}
    assert n == 2
    # stage dirs materialized with memo markers
    assert os.path.exists(os.path.join(out, "stage00", "_filemap_memo.json"))
    assert os.path.exists(os.path.join(out, "stage01", "_filemap_memo.json"))
    assert os.path.exists(os.path.join(final, "_filemap_memo.json"))

    # full re-run: every stage is a memo hit (outputs untouched)
    mtimes = {
        d: os.path.getmtime(os.path.join(out, d, "_SUCCESS"))
        for d in ("stage00", "stage01", "final")
    }
    n2 = run_pipeline(spark, str(src), out, stages, buckets=4, memo=True)
    assert n2 == 2
    for d, t in mtimes.items():
        assert os.path.getmtime(os.path.join(out, d, "_SUCCESS")) == t, d

    # change the LAST stage's command: stages 0-1 reuse, final recomputes
    stages2 = stages[:2] + [("map", "grep -v '^a '")]
    n3 = run_pipeline(spark, str(src), out, stages2, buckets=4, memo=True)
    got3 = dict(r["value"].split(" ") for r in spark.read.text(final).collect())
    assert got3 == {"b": "2", "c": "2"}
    assert n3 == 2
    for d in ("stage00", "stage01"):
        assert os.path.getmtime(os.path.join(out, d, "_SUCCESS")) == mtimes[d], d
    assert os.path.getmtime(os.path.join(final, "_SUCCESS")) != mtimes["final"]


def _dataset_bytes(d: str) -> dict[str, bytes]:
    """Per-partition data-file bytes of a stage dir, keyed by partition
    index (part file names embed a per-job UUID; the index + contents are
    the deterministic artifact)."""
    return {
        f.split("-")[1]: open(os.path.join(d, f), "rb").read()
        for f in sorted(os.listdir(d))
        if f.startswith("part-")
    }


def test_pipeline_middle_stage_edit_recomputes_downstream_only(
    spark, tmp_path
):
    """Filemap's actual make semantics at pipeline depth (VERDICT r12
    task 5): in a 3-stage memoized pipeline, editing the MIDDLE stage's
    command in one run must (a) reuse stage 0 (memo hit, output
    untouched), (b) recompute stages 1..n, and (c) leave artifacts
    byte-identical to a cold run of the edited pipeline — proving the
    cascade recomputes from the right inputs, not from stale state."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "b.txt"), ["c a"])
    out = str(tmp_path / "out")
    stages = [
        ("map", "tr ' ' '\\n'"),
        ("reduce", "sort | uniq -c | awk '{print $2, $1}'"),
        ("map", "cat"),
    ]
    run_pipeline(spark, str(src), out, stages, buckets=4, memo=True)
    mtimes = {
        d: os.path.getmtime(os.path.join(out, d, "_SUCCESS"))
        for d in ("stage00", "stage01", "final")
    }

    # edit the MIDDLE stage: count -> presence flag
    stages2 = [
        stages[0],
        ("reduce", "sort | uniq | awk '{print $1, \"seen\"}'"),
        stages[2],
    ]
    run_pipeline(spark, str(src), out, stages2, buckets=4, memo=True)
    final = os.path.join(out, "final")
    got = dict(
        r["value"].split(" ") for r in spark.read.text(final).collect()
    )
    assert got == {"a": "seen", "b": "seen", "c": "seen"}
    # upstream reuse: stage 0 untouched; downstream invalidation: 1 + final
    assert (
        os.path.getmtime(os.path.join(out, "stage00", "_SUCCESS"))
        == mtimes["stage00"]
    )
    for d in ("stage01", "final"):
        assert os.path.getmtime(os.path.join(out, d, "_SUCCESS")) != mtimes[d], d

    # byte-identity vs a cold run of the edited pipeline into a fresh dir
    cold = str(tmp_path / "cold")
    run_pipeline(spark, str(src), cold, stages2, buckets=4, memo=True)
    for d in ("stage01", "final"):
        assert _dataset_bytes(os.path.join(out, d)) == _dataset_bytes(
            os.path.join(cold, d)
        ), d


def test_pipeline_cli_verb_orders_stages(tmp_path):
    """`pipeline` verb collects --cmd/--reduce in command-line order."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["b a", "a a"])
    out = str(tmp_path / "out")
    rc = main(
        [
            "pipeline",
            str(src),
            out,
            "--cmd",
            "tr ' ' '\\n'",
            "--reduce",
            "sort | uniq -c | awk '{print $2, $1}'",
            "--buckets",
            "2",
        ]
    )
    assert rc == 0
    import glob

    lines = set()
    for f in glob.glob(os.path.join(out, "final", "part-*")):
        lines |= {ln for ln in open(f).read().splitlines() if ln}
    assert lines == {"a 3", "b 1"}


_WORDCOUNT = [
    ("map", "tr ' ' '\\n'"),
    ("reduce", "sort | uniq -c | awk '{print $2, $1}'"),
]
_WORDCOUNT_CMDS = [cmd for _, cmd in _WORDCOUNT]


def _stage_files(d: str) -> dict[str, bytes]:
    """Data files of a map stage dir (one per input file), by name."""
    return {
        f: open(os.path.join(d, f), "rb").read()
        for f in sorted(os.listdir(d))
        if not f.startswith(("_", "."))
    }


def _table_files(d: str) -> list[str]:
    """The data files on disk in a reduce stage dir's tables, relative to
    it: its part files and its `_buckets/` deltas."""
    deltas = os.path.join(d, "_buckets")
    return sorted([*_stage_files(d), *(f"_buckets/{f}" for f in _stage_files(deltas))])


def _mtimes(d: str) -> dict[str, int]:
    return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in _stage_files(d)}


def _assert_matches_cold(spark, src, out, stages, tmp_path, name):
    """Every stage dir of an incremental run equals a cold run's, byte for
    byte (reduce parts by partition index)."""
    cold = str(tmp_path / name)
    run_pipeline(spark, src, cold, stages, buckets=4, memo=True)
    for i, (kind, _) in enumerate(stages):
        d = "final" if i == len(stages) - 1 else f"stage{i:02d}"
        read = _stage_files if kind == "map" else _dataset_bytes
        assert read(os.path.join(out, d)) == read(os.path.join(cold, d)), d


def test_pipeline_map_stage_memoizes_per_input_file(spark, tmp_path):
    """A map stage holds one output per input file: adding a file maps
    only that file, a touched file is re-mapped, a deleted file's output
    disappears from the stage and from `final`, and a command edit re-maps
    every file. After each step every stage equals a cold run."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "b.txt"), ["c a"])
    (src / "e.txt").write_text("")  # an empty input still gets its output
    src, out = str(src), str(tmp_path / "out")
    stage00 = os.path.join(out, "stage00")
    final = os.path.join(out, "final")

    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    assert _stage_files(stage00) == {
        "a.txt": b"a\nb\na\nb\na\nc\n", "b.txt": b"c\na\n", "e.txt": b"",
    }
    t0 = _mtimes(stage00)

    # add a file: only it is mapped; the reduce reruns over every output
    _write_lines(os.path.join(src, "c.txt"), ["d a"])
    n = run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    t1 = _mtimes(stage00)
    assert {f: t1[f] for f in t0} == t0 and "c.txt" in t1
    got = dict(r["value"].split(" ") for r in spark.read.text(final).collect())
    assert got == {"a": "5", "b": "2", "c": "2", "d": "1"} and n == 4
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold_add")

    # touch a file: it alone is re-mapped
    _write_lines(os.path.join(src, "b.txt"), ["c a e"])
    st = os.stat(os.path.join(src, "b.txt"))
    os.utime(os.path.join(src, "b.txt"), ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    t2 = _mtimes(stage00)
    assert t2["b.txt"] != t1["b.txt"]
    assert {f: t2[f] for f in ("a.txt", "c.txt", "e.txt")} == {
        f: t1[f] for f in ("a.txt", "c.txt", "e.txt")
    }
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold_touch")

    # delete a file: its output leaves the stage and its words leave final
    os.remove(os.path.join(src, "c.txt"))
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    assert sorted(_stage_files(stage00)) == ["a.txt", "b.txt", "e.txt"]
    got = dict(r["value"].split(" ") for r in spark.read.text(final).collect())
    assert "d" not in got and got["a"] == "4"
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold_delete")

    # a full hit writes nothing, not even the manifest or _SUCCESS
    snap = {
        f: os.stat(os.path.join(stage00, f)).st_mtime_ns
        for f in os.listdir(stage00)
    }
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    assert {
        f: os.stat(os.path.join(stage00, f)).st_mtime_ns
        for f in os.listdir(stage00)
    } == snap

    # edit the command: every file is re-mapped
    t3 = _mtimes(stage00)
    edited = [("map", "tr ' ' '\\n' | grep -v '^c$'"), _WORDCOUNT[1]]
    run_pipeline(spark, src, out, edited, buckets=4, memo=True)
    t4 = _mtimes(stage00)
    assert sorted(t4) == sorted(t3)
    assert all(t4[f] != t3[f] for f in t3)
    _assert_matches_cold(spark, src, out, edited, tmp_path, "cold_edit")


def test_pipeline_map_stage_drops_unlisted_files(spark, tmp_path):
    """A run that died between renaming its outputs in and committing the
    manifest leaves files the manifest does not list. The next run deletes
    them before any stage reads the dir, so `final` equals a cold run."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a"])
    src, out = str(src), str(tmp_path / "out")
    stage00 = os.path.join(out, "stage00")
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)

    # the crashed run had mapped c.txt (under an older content) and a
    # since-deleted input; neither reached the manifest
    _write_lines(os.path.join(src, "c.txt"), ["c c"])
    with open(os.path.join(stage00, "c.txt"), "w") as f:
        f.write("stale\n")
    with open(os.path.join(stage00, "zz.txt"), "w") as f:
        f.write("orphan\n")
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    assert _stage_files(stage00) == {"a.txt": b"a\nb\na\n", "c.txt": b"c\nc\n"}
    got = dict(
        r["value"].split(" ")
        for r in spark.read.text(os.path.join(out, "final")).collect()
    )
    assert got == {"a": "2", "b": "1", "c": "2"}
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold")


def test_pipeline_upgrades_whole_stage_marker(spark, tmp_path):
    """A stage dir written before per-file memoization (one set of Spark
    part files and a {"fingerprint": ...} marker) lists no per-file output:
    the next memoized run re-maps every file, drops the old parts and
    leaves every stage equal to a cold run."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "b.txt"), ["c a"])
    src, out = str(src), str(tmp_path / "out")
    stage00 = os.path.join(out, "stage00")
    final = os.path.join(out, "final")
    (kind0, cmd0), (kind1, cmd1) = _WORDCOUNT
    # the old layout: a packed Spark write and a whole-stage marker per stage
    for d, inp, kind, cmd, lines in (
        (stage00, src, kind0, cmd0, "a b a b a c c a".split()),
        (final, stage00, kind1, cmd1, ["a 4", "b 2", "c 2"]),
    ):
        spark.createDataFrame([(v,) for v in lines], "value string").coalesce(1).write.text(d)
        with open(os.path.join(d, "_filemap_memo.json"), "w") as f:
            json.dump({"fingerprint": _fingerprint(inp, [f"{kind}\x00{cmd}"])}, f)
    assert any(f.startswith("part-") for f in os.listdir(stage00))
    assert any(f.startswith(".part-") for f in os.listdir(stage00))

    run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    assert sorted(_stage_files(stage00)) == ["a.txt", "b.txt"]
    assert not any(f.startswith(".part-") for f in os.listdir(stage00))
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold")


def _map_stage_outputs(spark, files: dict[str, bytes], cmd: str, tmp_path):
    """Write FILES into a fresh input dir, run one memoized `pipeline` map
    stage with CMD over it and return the stage's outputs by name."""
    src = tmp_path / "in"
    src.mkdir()
    for name, body in files.items():
        (src / name).write_bytes(body)
    out = str(tmp_path / "out")
    run_pipeline(spark, str(src), out, [("map", cmd)], memo=True)
    return _stage_files(os.path.join(out, "final"))


@pytest.mark.parametrize(
    "files, cmd, want",
    [
        (
            {"g.txt.gz": gzip.compress(b"x\ny\n"), "h.txt": b"z\n"},
            "cat",
            {"g.txt": b"x\ny\n", "h.txt": b"z\n"},
        ),
        ({"_x.txt": b"a\n", ".x.txt": b"b\n", "y.txt": b"c\n"}, "cat", {"y.txt": b"c\n"}),
        ({"a.txt": b"a\n", "a.txt.gz": gzip.compress(b"a\n")}, "cat", ValueError),
        (
            {"crlf.txt": b"a b\r\nc d\r\n", "cr.txt": b"p\rq\n", "nonl.txt": b"x y\nz"},
            "cat",
            {"crlf.txt": b"a b\nc d\n", "cr.txt": b"p\nq\n", "nonl.txt": b"x y\nz\n"},
        ),
        (
            {"e.txt": b"", "f.txt": b"1\n2\n", "g.txt": b"3"},
            "printf k",
            {"e.txt": b"k\n", "f.txt": b"k\n", "g.txt": b"k\n"},
        ),
        ({"bom.txt": b"\xef\xbb\xbfa\nb\n"}, "cat", {"bom.txt": b"a\nb\n"}),
    ],
    ids=[
        "gz_drops_codec_ext", "hidden_skipped", "name_collision", "line_ends", "fork_per_file",
        "utf8_bom_skipped",
    ],
)
def test_map_stage_file_parity(spark, tmp_path, files, cmd, want):
    """What one file becomes in a map stage: a `.gz` input is read
    decompressed into an output without the codec extension, hidden names
    are skipped, two inputs that would share an output name raise, every
    line reaches the command `\\n`-terminated whatever ended it in the
    file (a leading UTF-8 byte-order mark skipped, as Hadoop's line reader
    skips it), and every file (an empty one too) gets its own fork and
    output, whose last line gets a `\\n` if the command left it without
    one."""
    if want is ValueError:
        with pytest.raises(ValueError, match="would both map to a.txt"):
            _map_stage_outputs(spark, files, cmd, tmp_path)
    else:
        assert _map_stage_outputs(spark, files, cmd, tmp_path) == want


@pytest.mark.parametrize("kind", ["map", "reduce"])
@pytest.mark.parametrize("bad, status", [("exit 3", 3), ("no_such_cmd_xyz", 127)])
def test_failed_fork_fails_the_stage(spark, tmp_path, kind, bad, status):
    """A command that exits with a status above 1 fails its stage, naming
    the file (or bucket) and the status, and the stage commits nothing: a
    memoized rerun does not take the failure for a result, a good command
    then maps every file, and a later failure leaves that commit as it
    is. (Status 1 passes: it is grep's "no lines selected".)"""
    from filemap_spark import state

    src = tmp_path / "in"
    for i in range(5):
        _write_lines(str(src / f"f{i}.txt"), [f"w{i} x"])
    src, out = str(src), str(tmp_path / "out")
    stage = os.path.join(out, "stage00" if kind == "map" else "final")
    broken = [("map", bad), _WORDCOUNT[1]] if kind == "map" else [_WORDCOUNT[0], ("reduce", bad)]
    what = r"f\d\.txt" if kind == "map" else r"bucket \d+"

    for _ in range(2):  # the rerun fails again: nothing was memoized
        with pytest.raises(Exception, match=rf"{what}: sh -c .* exited with status {status}"):
            run_pipeline(spark, src, out, broken, buckets=4, memo=True)
        assert state.read_manifest(stage).get("files", []) == []

    assert run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True) == 6
    assert sorted(_stage_files(os.path.join(out, "stage00"))) == [f"f{i}.txt" for i in range(5)]
    committed = open(os.path.join(stage, state.MANIFEST), "rb").read()
    with pytest.raises(Exception, match=f"exited with status {status}"):
        run_pipeline(spark, src, out, broken, buckets=4, memo=True)
    assert open(os.path.join(stage, state.MANIFEST), "rb").read() == committed
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold")


def test_map_stage_packs_many_files_into_one_scan(spark, tmp_path):
    """Three hundred tiny files go through one map stage as ONE job of at
    most `defaultParallelism` tasks, each file still forked on its own
    into its own output."""
    from filemap_spark.cli import run_stage

    src = tmp_path / "in"
    src.mkdir()
    n = 300
    for i in range(n):
        (src / f"f{i:03d}.txt").write_text(f"{i} w{i % 7}\n" if i % 50 else "")
    out = str(tmp_path / "out")
    sc = spark.sparkContext
    sc.setJobGroup("many_files", "one map stage over many files")
    try:
        run_stage(spark, str(src), out, "map", "tr ' ' '\\n'; echo end")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("many_files")
    assert len(jobs) == 1, jobs
    tasks = sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(jobs[0]).stageIds)
    assert tasks <= sc.defaultParallelism, tasks
    assert _stage_files(out) == {
        f"f{i:03d}.txt": (f"{i}\nw{i % 7}\n" if i % 50 else "").encode() + b"end\n"
        for i in range(n)
    }


def test_map_lines_stream_in_chunks(monkeypatch, tmp_path):
    """A map stage streams each file through its fork in chunks, never
    whole: a `\\r\\n` split across two chunks still ends one line, and
    every codec reads the same lines."""
    import bz2
    import zlib

    from filemap_spark import cli

    monkeypatch.setattr(cli, "_CHUNK", 3)
    body = b"ab\r\ncd\r\r\nef\rgh"
    want = b"ab\ncd\n\nef\ngh\n"
    for name, data in (
        ("p.txt", body),
        ("g.txt.gz", gzip.compress(body[:7]) + gzip.compress(body[7:])),
        ("b.txt.bz2", bz2.compress(body)),
        ("d.txt.deflate", zlib.compress(body)),
    ):
        (tmp_path / name).write_bytes(data)
        assert b"".join(cli._lines(str(tmp_path / name))) == want, name


@pytest.mark.parametrize("cut", [1, 2, 5, 64])
def test_arrow_line_batches_match_a_plain_split(cut):
    """The Arrow line batches a streamed map yields (`_batches`, offsets
    built with numpy) hold what a plain split at `\\n` gives, whatever
    chunks the output comes in, and the reduce's feed (`_terminated`)
    turns them back into the same bytes."""
    from filemap_spark import cli

    out = b"a b\n\n\xff\xfe c\r\nlong line here\nlast"
    chunks = [out[i : i + cut] for i in range(0, len(out), cut)]
    batches = list(cli._batches(chunks))
    got = [v for b in batches for v in b.column(0).to_pylist()]
    assert got == out.split(b"\n")
    assert b"".join(bytes(x) for x in cli._terminated(batches)) == out + b"\n"


def test_map_reads_names_with_glob_metacharacters(spark, tmp_path):
    """Input names that Hadoop would split at (`,`) or read as a glob
    (`[]{}*?`) map like any other: the tasks open the files the driver
    listed, and no path goes through Hadoop's path parsing."""
    names = ["a,b.txt", "x[1].txt", "y{2}.txt", "z*.txt", "q?.txt"]
    src = tmp_path / "in"
    for i, name in enumerate(names):
        _write_lines(str(src / name), [f"w{i} v"])
    out = str(tmp_path / "out")
    assert run_map(spark, str(src), out, "cat") == len(names)
    assert _stage_files(out) == {name: f"w{i} v\n".encode() for i, name in enumerate(names)}
    n = run_map(spark, str(src), str(tmp_path / "wc"), *_WORDCOUNT_CMDS, buckets=4)
    assert n == len(names) + 1


@pytest.mark.parametrize(
    "layout, input_path, output, error",
    [
        ({}, "s3a://bucket/in", "out", "not s3a: URIs"),
        ({"in/a.txt": b"a\n"}, "in", "hdfs://nn/out", "not hdfs: URIs"),
        ({"in/a.txt": b"a\n", "in/sub/b.txt": b"b\n"}, "in", "out", "not nested dirs"),
        ({"d1/part-0": b"a\n", "d2/part-0": b"b\n"}, "d*", "out", "would both map to part-0"),
        ({"in/a.txt.lz4": b"\0"}, "in", "out", "decompress .lz4 inputs first"),
        ({}, "missing", "out", "missing"),
    ],
    ids=["uri_input", "uri_output", "nested_dir", "collision_across_dirs", "lz4", "no_match"],
)
@pytest.mark.parametrize("verb", ["map", "mapreduce"])
def test_map_refuses_inputs_it_cannot_map_per_file(
    spark, tmp_path, monkeypatch, verb, layout, input_path, output, error
):
    """What a map stage cannot map file by file fails loudly, before any
    output dir is made: another file system's URI (the tasks read and
    write with POSIX calls), a nested dir, two files (in different dirs)
    that would share an output name, and a codec with no stdlib reader."""
    for rel, body in layout.items():
        os.makedirs(tmp_path / os.path.dirname(rel), exist_ok=True)
        (tmp_path / rel).write_bytes(body)
    monkeypatch.chdir(tmp_path)
    before = sorted(os.listdir(tmp_path))
    reduce_cmd = _WORDCOUNT_CMDS[1] if verb == "mapreduce" else None
    with pytest.raises((ValueError, FileNotFoundError), match=error):
        run_map(spark, input_path, output, "cat", reduce_cmd)
    with pytest.raises((ValueError, FileNotFoundError), match=error):
        main([verb, input_path, output, "--cmd", "cat", "--memo"]
             + (["--reduce", reduce_cmd] if reduce_cmd else []))
    assert sorted(os.listdir(tmp_path)) == before


def test_map_reads_brace_globs_and_file_uris(spark, tmp_path):
    """An input glob takes Hadoop's `{a,b}` alternatives, and a `file:`
    URI names a local path."""
    for month in ("jan", "feb", "mar"):
        _write_lines(str(tmp_path / "logs" / month / f"{month}.txt"), [month])
    out = str(tmp_path / "out")
    assert run_map(spark, str(tmp_path / "logs" / "{jan,feb}"), out, "cat") == 2
    assert _stage_files(out) == {"jan.txt": b"jan\n", "feb.txt": b"feb\n"}
    assert run_map(spark, f"file://{tmp_path}/logs/mar", f"file://{out}", "cat") == 1
    assert _stage_files(out) == {"mar.txt": b"mar\n"}


def test_mapreduce_without_memo_keeps_no_map_output(spark, tmp_path, capsys):
    """`mapreduce` without `--memo` streams its map's lines straight into
    the reduce and keeps no OUT/_map; with `--memo` the map's outputs stay
    in OUT/_map, so an unchanged rerun is a hit for both stages."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "b.txt"), ["c a"])
    out = str(tmp_path / "out")
    args = ["mapreduce", str(src), out, "--cmd", _WORDCOUNT_CMDS[0],
            "--reduce", _WORDCOUNT_CMDS[1], "--buckets", "4"]
    want = {"a 4", "b 2", "c 2"}
    assert main(args) == 0
    assert not os.path.exists(os.path.join(out, "_map"))
    assert {r["value"] for r in spark.read.text(out).collect()} == want
    for _ in range(2):
        assert main(args + ["--memo"]) == 0
    assert sorted(_stage_files(os.path.join(out, "_map"))) == ["a.txt", "b.txt"]
    assert {r["value"] for r in spark.read.text(out).collect()} == want
    err = capsys.readouterr().err
    assert "memo hit: stage 0 (map)" in err and "memo hit: stage 1 (reduce)" in err


def test_pipeline_reduce_memo_keys_bucket_count(spark, tmp_path, capsys):
    """A reduce stage's memo fingerprint covers its bucket count: a
    memoized rerun with another bucket count misses and rewrites the
    stage, and a rerun with the same count hits."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), [" ".join(f"w{i}" for i in range(64))])
    src, out = str(src), str(tmp_path / "out")
    final = os.path.join(out, "final")

    def parts():
        return [f for f in os.listdir(final) if f.startswith("part-")]

    run_pipeline(spark, src, out, _WORDCOUNT, buckets=8, memo=True)
    assert 2 < len(parts()) <= 8
    capsys.readouterr()
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=2, memo=True)
    assert "stage 1 (reduce) up to date" not in capsys.readouterr().err
    assert len(parts()) <= 2
    got = {r["value"] for r in spark.read.text(final).collect()}
    assert got == {f"w{i} 1" for i in range(64)}
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=2, memo=True)
    assert "stage 1 (reduce) up to date" in capsys.readouterr().err


@pytest.mark.parametrize("boundary", ["before_rename", "before_delete", "after_commit"])
def test_pipeline_reduce_commit_survives_a_crash(spark, tmp_path, state_crash, boundary):
    """A reduce commits its part files, its buckets' deltas and its
    manifest with one rename. Whichever side of it a run dies on, the
    rerun leaves `final` equal to a cold run, holding only the part files
    and deltas its manifest lists."""
    from filemap_spark import state

    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), [" ".join(f"w{i % 9}" for i in range(40))])
    _write_lines(str(src / "b.txt"), ["w1 w2 x"])
    src, out = str(src), str(tmp_path / "out")
    final = os.path.join(out, "final")
    run_pipeline(spark, src, out, _WORDCOUNT, buckets=2, memo=True)
    state_crash(boundary)
    # the map stage is up to date; the reduce reruns for its bucket count
    with pytest.raises(Exception, match=boundary):
        run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True)
    assert run_pipeline(spark, src, out, _WORDCOUNT, buckets=4, memo=True) == 10
    listed = state.read_manifest(final)["files"]
    assert _table_files(final) == sorted(listed)
    assert any(f.startswith("part-") for f in listed)
    assert all(f.startswith(("part-", "_buckets/")) for f in listed)
    _assert_matches_cold(spark, src, out, _WORDCOUNT, tmp_path, "cold")


def test_pipeline_reduce_hit_drops_uncommitted_parts(spark, tmp_path, state_crash, capsys):
    """A reduce that died before its manifest rename leaves part files the
    manifest does not list. A rerun whose inputs match the last commit is
    a memo hit, and it still deletes them, so the next stage never maps
    them."""
    from filemap_spark import state

    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    src, out = str(src), str(tmp_path / "out")
    stage01 = os.path.join(out, "stage01")
    stages = _WORDCOUNT + [("map", "cat")]
    run_pipeline(spark, src, out, stages, buckets=4, memo=True)
    state_crash("before_rename")
    with pytest.raises(Exception, match="before_rename"):
        run_pipeline(spark, src, out, stages, buckets=2, memo=True)
    listed = state.read_manifest(stage01)["files"]
    assert set(_table_files(stage01)) > set(listed)  # the crashed run's files

    capsys.readouterr()
    assert run_pipeline(spark, src, out, stages, buckets=4, memo=True) == 3
    assert "stage 1 (reduce) up to date" in capsys.readouterr().err
    assert _table_files(stage01) == listed
    cold = str(tmp_path / "cold")
    run_pipeline(spark, src, cold, stages, buckets=4, memo=True)
    for d in ("stage01", "final"):
        assert _dataset_bytes(os.path.join(out, d)) == _dataset_bytes(os.path.join(cold, d)), d


def _parts(d: str) -> list[bytes]:
    """The lines of a stage dir's part files, sorted, as bytes."""
    return sorted(
        line for f, body in _stage_files(d).items() if f.startswith("part-")
        for line in body.splitlines()
    )


def test_reduce_keeps_the_bytes_its_input_holds(spark, tmp_path):
    """Bytes that are not UTF-8 reach the reduce's command and its part
    files as they are, through `pipeline` and through `mapreduce`'s
    streamed map alike."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_bytes(b"k \xff\xfe caf\xc3\xa9\nk plain\n")
    want = sorted([b"k \xff\xfe caf\xc3\xa9", b"k plain"])
    out = str(tmp_path / "pipe")
    run_pipeline(spark, str(src), out, [("map", "cat"), ("reduce", "cat")], buckets=2)
    assert _stage_files(os.path.join(out, "stage00")) == {"a.txt": (src / "a.txt").read_bytes()}
    assert _parts(os.path.join(out, "final")) == want
    out = str(tmp_path / "mr")
    assert run_map(spark, str(src), out, "cat", reduce_cmd="cat", buckets=2) == 2
    assert _parts(out) == want


@pytest.mark.parametrize(
    "buckets, body", [(3, b"x 1\nx 2\ny 3\n"), (8, b"x 1\nx 2\ny 3\n"), (3, b"")],
    ids=["3", "8", "empty_input"],
)
def test_reduce_forks_every_bucket(spark, tmp_path, buckets, body):
    """A reduce forks its command once per bucket, an empty bucket too (and
    every bucket of an empty input, where Spark runs no task), so `wc -l`
    leaves exactly one part file a bucket, and its counts add up to the
    input's lines."""
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_bytes(body)
    out = str(tmp_path / "out")
    assert run_pipeline(spark, str(src), out, [("reduce", "wc -l")], buckets=buckets) == buckets
    parts = _stage_files(os.path.join(out, "final"))
    assert len(parts) == buckets and all(f.startswith("part-") for f in parts)
    assert sum(int(body) for body in parts.values()) == body.count(b"\n")


def _traced(spark, fn):
    """FN()'s result, and the shuffle records written by the stages it ran
    by their job description (status store, attributed by stage-id range
    the way perfbench/spans.py does; a stage that ran writing none counts
    0)."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    dag, store, bus = jsc.dagScheduler(), jsc.statusStore(), jsc.listenerBus()
    bus.waitUntilEmpty(60000)
    lo = int(dag.nextStageId())
    out = fn()
    bus.waitUntilEmpty(60000)
    records: dict[str | None, int] = {}
    for s in range(lo, int(dag.nextStageId())):
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        desc = sd.description().get() if sd.description().isDefined() else None
        records[desc] = records.get(desc, 0) + int(sd.shuffleWriteRecords())
    return out, records


def _job_phases(spark, fn):
    """FN()'s result, and the description of each job it started (status
    store; None for a job without one)."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    dag, store, bus = jsc.dagScheduler(), jsc.statusStore(), jsc.listenerBus()
    bus.waitUntilEmpty(60000)
    lo = int(dag.nextJobId())
    out = fn()
    bus.waitUntilEmpty(60000)
    descs = []
    for j in range(lo, int(dag.nextJobId())):
        try:
            desc = store.job(j).description()
        except Py4JJavaError:  # not registered: no description to read
            continue
        descs.append(desc.get() if desc.isDefined() else None)
    return out, descs


_COUNT = [("map", "tr -s ' ' '\\n'"), ("reduce", "sort | uniq -c")]


def _words(k: int, n: int = 12) -> list[str]:
    """N lines of arrival K's words, some shared with other arrivals."""
    return [f"w{(k * 7 + i) % 23} k{k} x{i % 5}" for i in range(n)]


def _cold_parts(spark, src: str, tmp_path, name: str, stages=_COUNT, buckets: int = 4):
    """The sorted part lines of a cold `pipeline` run into a fresh dir."""
    cold = str(tmp_path / name)
    run_pipeline(spark, src, cold, stages, buckets=buckets, memo=True)
    return _parts(os.path.join(cold, "final"))


def test_pipeline_reduce_buckets_only_new_files(spark, tmp_path, capsys):
    """A memoized reduce keeps the lines each bucket has received in its
    `_buckets/` table, so an arrival's reduce shuffles exactly the lines of
    the new map outputs, and a command edit forks over the stored buckets
    with no shuffle at all. After each run `final`'s sorted lines equal a
    cold run's; the stages' jobs are named `pipeline:map` and
    `pipeline:reduce`, and the reduce says what it bucketed."""
    src = tmp_path / "in"
    src, out = str(src), str(tmp_path / "out")
    final = os.path.join(out, "final")
    for k in range(3):
        _write_lines(os.path.join(src, f"f{k}.txt"), _words(k))
        capsys.readouterr()
        _, records = _traced(spark, lambda: run_pipeline(spark, src, out, _COUNT, buckets=4, memo=True))
        err = capsys.readouterr().err
        assert {"pipeline:map", "pipeline:reduce"} <= set(records), records
        # the new map output holds one line per word of the arrival
        new = 36 * (k + 1) if k == 0 else 36
        assert records["pipeline:reduce"] == new, (k, records)
        if k:
            assert f"reduce: bucketed 1 new file ({new} lines) into 4 buckets" in err, err
        assert _parts(final) == _cold_parts(spark, src, tmp_path, f"cold{k}")
    deltas = os.listdir(os.path.join(final, "_buckets"))
    assert max(sum(d.startswith(f"{i:05d}-") for d in deltas) for i in range(4)) == 3

    edited = [_COUNT[0], ("reduce", "sort | uniq -c | sort -rn")]
    _, records = _traced(spark, lambda: run_pipeline(spark, src, out, edited, buckets=4, memo=True))
    assert records.get("pipeline:reduce") == 0, records
    assert "reduce: no new file, forked 4 stored buckets" in capsys.readouterr().err
    assert _parts(final) == _cold_parts(spark, src, tmp_path, "cold_edit", edited)


def test_pipeline_reduce_rebuckets_when_its_inputs_change(spark, tmp_path, monkeypatch, capsys):
    """A memoized reduce re-buckets every file, and still equals a cold
    run, when a map output it bucketed changed or was deleted, when the
    bucket count changed, when its manifest holds only the fingerprint an
    older layout wrote, and when a bucket would hold one delta more than
    `_MAX_DELTAS`."""
    from filemap_spark import cli, state

    monkeypatch.setattr(cli, "_MAX_DELTAS", 2)
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    final = os.path.join(out, "final")
    for k in range(2):
        _write_lines(os.path.join(src, f"f{k}.txt"), _words(k))
    run_pipeline(spark, src, out, _COUNT, buckets=4, memo=True)

    def old_manifest():
        m = state.read_manifest(final)
        old = {"fingerprint": "0", "lines": m["lines"], "batch": m["batch"]}
        old["files"] = [f for f in m["files"] if f.startswith("part-")]
        with open(os.path.join(final, state.MANIFEST), "w") as f:
            json.dump(old, f)

    def touch():
        _write_lines(os.path.join(src, "f0.txt"), _words(5))

    def arrive(k):
        def add():
            _write_lines(os.path.join(src, f"f{k}.txt"), _words(k))
        return add

    cases = [
        ("changed", touch, 4),
        ("deleted", lambda: os.remove(os.path.join(src, "f1.txt")), 4),
        ("buckets", lambda: None, 3),
        ("fingerprint", old_manifest, 3),
        ("one_delta", arrive(6), 3),  # the second delta a bucket: kept
        ("full", arrive(7), 3),  # the third: more than _MAX_DELTAS
    ]
    for name, change, buckets in cases:
        change()
        capsys.readouterr()
        run_pipeline(spark, src, out, _COUNT, buckets=buckets, memo=True)
        err = capsys.readouterr().err
        verb = "reduce: bucketed 1 new file" if name == "one_delta" else "reduce: re-bucketed"
        assert verb in err, (name, err)
        assert _parts(final) == _cold_parts(spark, src, tmp_path, name, buckets=buckets), name
        listed = state.read_manifest(final)["files"]
        assert _table_files(final) == sorted(listed), name
        per_bucket = [sum(f.startswith(f"_buckets/{i:05d}-") for f in listed) for i in range(buckets)]
        assert max(per_bucket) == (2 if name == "one_delta" else 1), (name, per_bucket)


@pytest.mark.parametrize("boundary", ["before_rename", "before_delete", "after_commit"])
def test_incremental_reduce_commit_survives_a_crash(spark, tmp_path, state_crash, capsys, boundary):
    """An arrival's reduce commits its new part files and its buckets' new
    deltas with one manifest rename. Whichever side of it a run dies on,
    the rerun equals a cold run and its dir holds exactly the files its
    manifest lists; a run that died before the rename buckets the new
    file again on its own."""
    from filemap_spark import state

    src, out = tmp_path / "in", str(tmp_path / "out")
    for k in range(2):
        _write_lines(str(src / f"f{k}.txt"), [w for line in _words(k) for w in line.split()])
    src = str(src)
    final = os.path.join(out, "final")
    stages = [_COUNT[1]]  # a reduce alone: its commit is the arrival's only one
    run_pipeline(spark, src, out, stages, buckets=4, memo=True)
    _write_lines(os.path.join(src, "f2.txt"), [w for line in _words(2) for w in line.split()])
    state_crash(boundary)
    with pytest.raises(Exception, match=boundary):
        run_pipeline(spark, src, out, stages, buckets=4, memo=True)
    capsys.readouterr()
    run_pipeline(spark, src, out, stages, buckets=4, memo=True)
    err = capsys.readouterr().err
    if boundary == "before_rename":
        assert "reduce: bucketed 1 new file (36 lines) into 4 buckets" in err, err
    else:
        assert "stage 0 (reduce) up to date" in err, err
    listed = state.read_manifest(final)["files"]
    assert _table_files(final) == sorted(listed)
    assert _parts(final) == _cold_parts(spark, src, tmp_path, "cold", stages)


def test_memo_reduce_reads_files_never_a_hidden_dir(spark, tmp_path, monkeypatch, capsys):
    """`mapreduce --memo` reduces from the files of its hidden OUT/_map,
    named one by one (names Hadoop would read as a glob too), never from
    the dir itself, which Spark's text source would take for no input. Its
    jobs are named `mapreduce:map` and `mapreduce:reduce`, as are those of
    a `mapreduce` without `--memo`."""
    import re

    from pyspark.sql.readwriter import DataFrameReader

    real, seen = DataFrameReader.text, []

    def spy(self, paths, *args, **kwargs):
        seen.extend([paths] if isinstance(paths, str) else paths)
        return real(self, paths, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "text", spy)
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["a b a", "b a c"])
    _write_lines(str(src / "x[1].txt"), ["c a"])
    out = str(tmp_path / "out")
    args = ["mapreduce", str(src), out, "--cmd", _WORDCOUNT_CMDS[0],
            "--reduce", _WORDCOUNT_CMDS[1], "--buckets", "4"]
    _, records = _traced(spark, lambda: main(args))
    assert "mapreduce:reduce" in records, records
    _, records = _traced(spark, lambda: main(args + ["--memo"]))
    assert {"mapreduce:map", "mapreduce:reduce"} <= set(records), records
    _write_lines(str(src / "d.txt"), ["d a"])
    assert main(args + ["--memo"]) == 0
    assert "reduce: bucketed 1 new file (2 lines) into 4 buckets" in capsys.readouterr().err
    files = [re.sub(r"\\(.)", r"\1", p) for p in seen]
    assert len(files) == 3 and all(os.path.isfile(f) for f in files), seen
    assert {r["value"] for r in spark.read.text(out).collect()} == {"a 5", "b 2", "c 2", "d 1"}


def test_reduce_lists_its_files_on_the_driver(spark, tmp_path):
    """A reduce over more files than Spark's parallel-listing threshold (32
    paths) lists them on the driver: no job of it lists leaf files, and
    the session's threshold is left as it was."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    src, out = tmp_path / "in", str(tmp_path / "out")
    for i in range(40):
        _write_lines(str(src / f"f{i:02d}.txt"), [f"w{i % 3} x"])
    before = spark.conf.get(key, None)
    n, descs = _job_phases(spark, lambda: run_pipeline(spark, str(src), out, [_COUNT[1]], buckets=4))
    assert n == 3
    assert "pipeline:reduce" in descs
    assert not [d for d in descs if d and d.startswith("Listing leaf files")], descs
    assert spark.conf.get(key, None) == before


# a command whose output ends its lines every way Hadoop's line reader
# knows, opens with a byte-order mark and holds blank lines
_ODD_LINES = r"printf '\357\273\277head\r\n'; cat; printf 'a\r\nb\rc\n\n\r\rlast'"


@pytest.mark.parametrize(
    "stages",
    [[("map", _ODD_LINES)], [("map", "cat"), ("reduce", _ODD_LINES)]],
    ids=["map", "reduce"],
)
def test_verbs_count_lines_as_spark_reads_them(spark, tmp_path, stages):
    """A verb returns its last stage's line count as the tasks that wrote
    it counted it, equal to `spark.read.text` on the stage dir: on a run,
    on a memo hit, and on a hit whose manifest has no counts (one an older
    layout wrote), which the driver counts."""
    from filemap_spark import state

    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["k 1", "", "j 2"])
    _write_lines(str(src / "b.txt"), ["k 3"])
    src, out = str(src), str(tmp_path / "out")
    final = os.path.join(out, "final")
    n = run_pipeline(spark, src, out, stages, buckets=2, memo=True)
    assert n == spark.read.text(final).count() > 0
    assert run_pipeline(spark, src, out, stages, buckets=2, memo=True) == n
    manifest = state.read_manifest(final)
    assert "lines" in manifest
    del manifest["lines"]
    with open(os.path.join(final, state.MANIFEST), "w") as f:
        json.dump(manifest, f)
    assert run_pipeline(spark, src, out, stages, buckets=2, memo=True) == n
    if len(stages) == 1:
        assert run_map(spark, src, str(tmp_path / "m"), _ODD_LINES) == n
    else:
        mr = str(tmp_path / "mr")
        assert run_map(spark, src, mr, "cat", _ODD_LINES, buckets=2) == spark.read.text(mr).count()


def test_stream_processes_only_new_files(spark, tmp_path):
    src = tmp_path / "in"
    out = str(tmp_path / "out")
    _write_lines(str(src / "a.txt"), ["one", "two"])
    n1 = run_map_stream(spark, str(src), out, "cat")
    assert n1 == 2
    # second run with a new file: only its lines are appended
    _write_lines(str(src / "b.txt"), ["three"])
    n2 = run_map_stream(spark, str(src), out, "cat")
    assert n2 == 3
    vals = sorted(r["value"] for r in spark.read.text(os.path.join(out, "data")).collect())
    assert vals == ["one", "three", "two"]


def test_stream_writes_each_batch_once(spark, tmp_path, state_crash):
    """`map --stream` commits a run's outputs once: a run that dies before
    its manifest rename, or after committing, is finished by the next
    run, and the lines land once."""
    for crash in ("before_rename", "after_commit"):
        src = tmp_path / crash / "in"
        _write_lines(str(src / "a.txt"), ["one", "two"])
        _write_lines(str(src / "b.txt"), ["three"])
        out = str(tmp_path / crash / "out")
        state_crash(crash)
        with pytest.raises(Exception, match=crash):
            run_map_stream(spark, str(src), out, "cat")
        assert run_map_stream(spark, str(src), out, "cat") == 3, crash
        vals = sorted(
            r["value"] for r in spark.read.text(os.path.join(out, "data")).collect()
        )
        assert vals == ["one", "three", "two"], crash


def test_stream_remaps_legacy_batch_output(spark, tmp_path):
    """`map --stream` output written by the streaming sink (OUT/data part
    files listed under a batch id, no command, and a file-source
    checkpoint) is re-mapped per input file on the next run, and the old
    part files are dropped."""
    src = tmp_path / "in"
    _write_lines(str(src / "a.txt"), ["one", "two"])
    _write_lines(str(src / "b.txt"), ["three"])
    out = tmp_path / "out"
    data = out / "data"
    old = "part-00000-0d5c3c7e-c000.txt"
    _write_lines(str(data / old), ["ONE", "TWO", "THREE"])
    (data / "_filemap_memo.json").write_text(json.dumps({"batch": 0, "files": [old]}))
    (out / "_checkpoint" / "offsets").mkdir(parents=True)

    assert run_map_stream(spark, str(src), str(out), "cat") == 3
    assert _stage_files(str(data)) == {"a.txt": b"one\ntwo\n", "b.txt": b"three\n"}
    _write_lines(str(src / "c.txt"), ["four"])
    assert run_map_stream(spark, str(src), str(out), "cat") == 4


def test_query_verb_runs_sql_over_views(spark, sf_dir, tmp_path, capsys):
    """`query` registers the contract tables as views and executes SQL
    through the same Catalyst path; --output materializes the result as a
    parquet dataset instead of printing."""
    from filemap_spark.cli import run_query

    n = run_query(
        spark,
        sf_dir,
        "SELECT r_name, count(*) AS n FROM region GROUP BY r_name ORDER BY r_name",
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert n == 5 and len(out) == 6  # header + 5 regions
    assert out[0] == "r_name\tn"

    dest = str(tmp_path / "res")
    n2 = run_query(spark, sf_dir, "SELECT * FROM nation", output=dest)
    assert n2 == 25
    assert spark.read.parquet(dest).count() == 25


def test_dedup_verb_materializes_survivor_corpus(spark, sf_dir, tmp_path):
    """`dedup` writes a survivors-only documents.parquet whose membership
    matches the graded operators' survivor rules, and its output directory
    is itself a readable corpus dir (dataset chaining)."""
    from filemap_spark import all_queries
    from filemap_spark.cli import run_dedup
    from filemap_spark.io import load_table

    out_near = str(tmp_path / "near")
    kept, total = run_dedup(spark, sf_dir, out_near, method="near")
    assert total == load_table(spark, sf_dir, "documents").count()
    expected = {
        r["doc_id"]
        for r in all_queries()["dedup_materialize_clean"](spark, sf_dir).collect()
    }
    got = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out_near, "documents.parquet")).collect()
    }
    assert got == expected and kept == len(expected)

    # exact: contract texts are all distinct, so exact dedup keeps everything
    out_exact = str(tmp_path / "exact")
    kept_e, total_e = run_dedup(spark, sf_dir, out_exact, method="exact")
    assert kept_e == total_e == total

    # chaining: the output dir is a valid corpus dir for another pass
    kept2, total2 = run_dedup(spark, out_near, str(tmp_path / "near2"), method="exact")
    assert total2 == kept and kept2 == kept


def test_dedup_verb_substring_cuts_masked_spans(spark, tmp_path):
    """`dedup --method substring` (round 17): every doc survives, but the
    tokens inside dedup_exact_substring's maximal duplicated spans are
    CUT from the text — verified against the graded op's own mask on a
    planted corpus (one 60-token cross-doc run, one clean doc, one doc
    that is entirely a duplicated run and must survive EMPTY), with
    n_chars rewritten and the output chainable."""
    from filemap_spark.cli import run_dedup, run_stats
    from filemap_spark.operators.text import (
        _SUBSTR_SPAN_TOKENS as L,
        dedup_exact_substring,
    )

    shared = [f"s{i}" for i in range(60)]
    rep = [f"r{i}" for i in range(L)]
    docs = {
        1: [f"a{i}" for i in range(20)] + shared + [f"a{i}" for i in range(20, 40)],
        2: [f"b{i}" for i in range(5)] + shared + [f"b{i}" for i in range(5, 30)],
        3: [f"c{i}" for i in range(70)],  # clean: untouched
        4: rep,  # duplicated wholesale below...
        5: rep,  # ...so both survive with empty text
    }
    rows = [(i, " ".join(t)) for i, t in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' as lang", "'src0' as source",
        "cast(length(text) as long) as n_chars",
    )
    src = tmp_path / "substr_src"
    src.mkdir()
    df.write.parquet(str(src / "documents.parquet"))

    out = str(tmp_path / "substr_out")
    kept, total = run_dedup(spark, str(src), out, method="substring")
    assert kept == total == 5  # nothing dropped; text is rewritten

    mask = {}
    for r in dedup_exact_substring(spark, str(src)).collect():
        mask.setdefault(r["doc_id"], set()).update(
            range(r["span_start"], r["span_end"] + 1)
        )
    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(
            os.path.join(out, "documents.parquet")
        ).collect()
    }
    for i, toks in docs.items():
        want_text = " ".join(
            w for p, w in enumerate(toks, start=1)
            if p not in mask.get(i, set())
        )
        assert got[i]["text"] == want_text, i
        assert got[i]["n_chars"] == len(want_text)
    assert got[3]["text"] == " ".join(docs[3])  # clean doc untouched
    assert got[4]["text"] == "" and got[5]["text"] == ""
    assert run_stats(spark, out)["n_docs"] == 5  # chainable


_BASE = "the quick brown fox jumps over the lazy dog near the river bank"
# the dedup --stream four-doc corpora: 2 is an exact duplicate of 1, 4 a
# near duplicate of 1 in text, 3 unrelated
_TEXT_DOCS = {
    1: _BASE + " every single day without fail in the morning",
    2: _BASE + " every single day without fail in the morning",
    3: "completely different text about spark catalyst optimizer plans "
       "and distributed shuffle exchange strategies at petabyte scale",
    4: _BASE + " every single day without fail in the evening",
}
_MEDIA_DOCS = {
    1: _BASE + " every single day without fail in the morning",
    2: _BASE + " every single day without fail in the morning",
    3: "completely different text about spark catalyst optimizer "
       "plans and distributed shuffle exchange strategies",
    4: _BASE + " every single day without fail in the evening",
}


def _write_docs(spark, corpus, docs: dict, ids) -> None:
    """Append the docs `ids` to a corpus dir as one parquet file."""
    rows = [(i, docs[i], "en", "test", len(docs[i])) for i in ids]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("append").parquet(str(corpus))


def _doc_ids(spark, path: str) -> set[int]:
    return {r["doc_id"] for r in spark.read.parquet(path).collect()}


def _one_shot(spark, corpus, out: str, modality: str) -> set[int]:
    """Survivors of a from-scratch batch `dedup` of the whole corpus."""
    from filemap_spark.cli import run_dedup

    union = os.path.join(out, "union")
    spark.read.parquet(str(corpus)).write.mode("overwrite").parquet(
        os.path.join(union, "documents.parquet")
    )
    run_dedup(spark, union, out, method="near", modality=modality)
    return _doc_ids(spark, os.path.join(out, "documents.parquet"))


def test_dedup_stream_incremental_two_batches(spark, tmp_path):
    """`dedup --stream` end-to-end (round 5, VERDICT r4 task 7): two-batch
    file arrival through the Structured-Streaming file source + persisted
    LSH index. The second run must ingest ONLY the new file's docs (the
    ledger grows by exactly that batch; state shingles for batch-1 docs are
    not recomputed), and the final survivors corpus must equal a
    from-scratch near-dedup of the union."""
    import os

    from filemap_spark.cli import run_dedup, run_dedup_stream

    docs = _TEXT_DOCS
    corpus = tmp_path / "corpus"
    corpus.mkdir()

    def write_batch(name, ids):
        rows = [(i, docs[i], "en", "test", len(docs[i])) for i in ids]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).coalesce(1).write.mode("append").parquet(str(corpus))

    out = str(tmp_path / "dedup_out")
    write_batch("b1", [1, 3])
    kept1, total1 = run_dedup_stream(spark, str(corpus), out)
    assert (kept1, total1) == (2, 2)  # no dups inside batch 1
    state = os.path.join(out, "_lsh_state")
    ledger1 = spark.read.parquet(os.path.join(state, "ingested.parquet"))
    assert {r["doc_id"] for r in ledger1.collect()} == {1, 3}
    sh1 = spark.read.parquet(os.path.join(state, "shingles.parquet")).count()

    write_batch("b2", [2, 4])
    kept2, total2 = run_dedup_stream(spark, str(corpus), out)
    assert total2 == 4
    ledger2 = spark.read.parquet(os.path.join(state, "ingested.parquet"))
    assert {r["doc_id"] for r in ledger2.collect()} == {1, 2, 3, 4}
    # only batch-2's NOVEL texts were shingled in run 2 (rep-level index,
    # round 10): doc 2 is an exact dup of indexed doc 1 so it adds nothing;
    # state grew by exactly doc 4's shingles (batch-1 docs never recomputed)
    from filemap_spark.operators.text import _shingle_frame

    b2_novel = spark.createDataFrame(
        [(4, docs[4])], "doc_id long, text string"
    )
    sh2 = spark.read.parquet(os.path.join(state, "shingles.parquet")).count()
    assert sh2 - sh1 == _shingle_frame(b2_novel).count()

    # survivors == from-scratch batch near-dedup over the union corpus
    batch_out = str(tmp_path / "batch_out")
    # run_dedup expects a corpus dir with documents.parquet
    union_dir = tmp_path / "union"
    union_dir.mkdir()
    spark.read.parquet(str(corpus)).write.mode("overwrite").parquet(
        str(union_dir / "documents.parquet")
    )
    run_dedup(spark, str(union_dir), batch_out, method="near")
    want = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(batch_out, "documents.parquet")
        ).collect()
    }
    got = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "documents.parquet")).collect()
    }
    assert got == want and kept2 == len(got)

    # third run with nothing new: cheap no-op, corpus unchanged
    kept3, total3 = run_dedup_stream(spark, str(corpus), out)
    assert (kept3, total3) == (kept2, 4)

    # crash-recovery: a commit that died after moving its files into
    # _pairs, before its manifest rename, leaves a file the manifest does
    # not list (here a copy of a committed one) — the next run must delete
    # it before anything reads _pairs, so no pair is counted twice and the
    # survivor corpus comes out unchanged
    pairs_dir = os.path.join(out, "_pairs")
    committed = sorted(f for f in os.listdir(pairs_dir) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(pairs_dir, committed[0]),
        os.path.join(pairs_dir, "part-99999-moved-in.parquet"),
    )
    kept4, total4 = run_dedup_stream(spark, str(corpus), out)
    assert (kept4, total4) == (kept2, 4)
    assert sorted(
        f for f in os.listdir(pairs_dir) if f.endswith(".parquet")
    ) == committed
    pairs = spark.read.parquet(pairs_dir)
    assert pairs.count() == pairs.select("doc_a", "doc_b").distinct().count()


def test_dedup_stream_noop_leaves_survivors_untouched(spark, tmp_path):
    """The survivor corpus is a function of the input files and the
    accumulated pairs alone: a run with no new file leaves
    documents.parquet untouched and returns the same tuple, and a new
    file still triggers the rebuild."""
    from filemap_spark.cli import run_dedup_stream

    text = "the quick brown fox jumps over the lazy dog near the river bank"
    corpus = tmp_path / "corpus"
    corpus.mkdir()

    def write_batch(rows):
        spark.createDataFrame(
            [(i, t, "en", "test", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("append").parquet(str(corpus))

    def snapshot(d):
        return {
            f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)
        }

    out = str(tmp_path / "out")
    docs = os.path.join(out, "documents.parquet")
    write_batch([(1, text), (2, "a completely different document body")])
    first = run_dedup_stream(spark, str(corpus), out)
    assert first == (2, 2)
    before = snapshot(docs)

    assert run_dedup_stream(spark, str(corpus), out) == first
    assert snapshot(docs) == before

    write_batch([(3, text)])  # an exact duplicate of doc 1
    assert run_dedup_stream(spark, str(corpus), out) == (2, 3)
    assert snapshot(docs) != before
    assert {r["doc_id"] for r in spark.read.parquet(docs).collect()} == {1, 2}


def test_dedup_stream_noop_runs_no_survivor_job(spark, tmp_path):
    """A run with no new file returns the (kept, total) its manifest
    recorded with the survivor fingerprint at the last rebuild, and starts
    no `dedup_stream:survivors` job: it neither counts the ledger nor the
    survivor corpus."""
    from filemap_spark.cli import run_dedup_stream

    corpus, out = tmp_path / "corpus", str(tmp_path / "out")
    _write_docs(spark, corpus, _TEXT_DOCS, [1, 2, 3])
    first, descs = _job_phases(spark, lambda: run_dedup_stream(spark, str(corpus), out))
    assert first == (2, 3) and "dedup_stream:survivors" in descs
    again, descs = _job_phases(spark, lambda: run_dedup_stream(spark, str(corpus), out))
    assert again == first
    assert "dedup_stream:survivors" not in descs, descs


def test_dedup_stream_releases_what_it_persists(spark, tmp_path):
    """Two `dedup --stream` arrivals leave the session's persisted RDDs
    as they found them: each run releases its localCheckpoints (the
    ingest's frames, the survivor rebuild's edges and components) once
    its writes are done, and keeps an RDD persisted before the call.
    (An RDD of an earlier test may leave meanwhile: Spark's cleaner
    unpersists the RDDs of collected frames.)"""
    from filemap_spark.cli import run_dedup_stream

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    mine = spark.range(3).localCheckpoint()
    before = persisted()
    corpus, out = tmp_path / "corpus", str(tmp_path / "out")
    try:
        _write_docs(spark, corpus, _TEXT_DOCS, [1, 3])
        assert run_dedup_stream(spark, str(corpus), out) == (2, 2)
        assert persisted() <= before
        _write_docs(spark, corpus, _TEXT_DOCS, [2, 4])
        kept, total = run_dedup_stream(spark, str(corpus), out)
        assert total == 4 and kept < 4  # pairs found: the rebuild checkpointed
        assert persisted() <= before
        assert mine.count() == 3  # its checkpoint blocks are still there
    finally:
        mine.unpersist()


_CURATION_VERBS = {
    "quality": lambda s, i, o, ev: run_quality(s, i, o, clean_lines=True, gate="learned"),
    "dedup_near": lambda s, i, o, ev: run_dedup(s, i, o, method="near"),
    "dedup_substring": lambda s, i, o, ev: run_dedup(s, i, o, method="substring"),
    "dedup_image": lambda s, i, o, ev: run_dedup(s, i, o, modality="image"),
    "decontam": lambda s, i, o, ev: run_decontam(s, i, o, eval_dir=ev),
    "stats": lambda s, i, o, ev: run_stats(s, i),
}


@pytest.mark.parametrize("verb", list(_CURATION_VERBS))
def test_verbs_release_what_they_persist(spark, sf_dir, tmp_path, verb):
    """Each curation verb leaves the session's persisted RDDs and cached
    plans as it found them: its localCheckpoints and `persist()`ed frames
    are released once its writes are done, and a frame the caller cached
    before the call stays cached. (An RDD of an earlier test may leave
    meanwhile: Spark's cleaner unpersists the RDDs of collected frames.)"""
    cache = spark._jsparkSession.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc

    def entries() -> list:
        seq = cache.cachedData()
        return [seq.apply(i) for i in range(seq.size())]

    def persisted() -> set[int]:
        return set(jsc.getPersistentRDDs().keys())

    eval_dir = str(tmp_path / "eval")
    load_table(spark, sf_dir, "documents").where("doc_id % 50 = 0").write.parquet(
        os.path.join(eval_dir, "documents.parquet")
    )
    held = persisted()
    mine = spark.range(7).selectExpr("id * 3 AS x").cache()
    try:
        assert mine.count() == 7
        mine_rdds = persisted() - held
        cached, before = entries(), persisted()
        _CURATION_VERBS[verb](spark, sf_dir, str(tmp_path / "out"), eval_dir)
        assert persisted() <= before
        assert entries() == cached
        assert mine_rdds and mine_rdds <= persisted()  # its blocks are still there
    finally:
        mine.unpersist()


def test_dedup_stream_names_its_phases(spark, tmp_path):
    """An arrival's jobs are described `dedup_stream:<phase>` for each
    phase of the ingest and the survivor rebuild, and the caller's job
    group and description are back once the verb returns."""
    from py4j.protocol import Py4JJavaError

    from filemap_spark.cli import run_dedup_stream

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    dag, store, bus = jsc.dagScheduler(), jsc.statusStore(), jsc.listenerBus()
    corpus, out = tmp_path / "corpus", str(tmp_path / "out")
    _write_docs(spark, corpus, _TEXT_DOCS, [1, 3])
    run_dedup_stream(spark, str(corpus), out)
    _write_docs(spark, corpus, _TEXT_DOCS, [2, 4])
    sc.setJobGroup("caller", "the caller's jobs")
    try:
        bus.waitUntilEmpty(60000)
        lo = int(dag.nextJobId())
        run_dedup_stream(spark, str(corpus), out)
        bus.waitUntilEmpty(60000)
        hi = int(dag.nextJobId())
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "the caller's jobs"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    phases = set()
    for j in range(lo, hi):
        try:
            desc = store.job(j).description()
        except Py4JJavaError:  # not registered: no description to read
            continue
        if desc.isDefined() and desc.get().startswith("dedup_stream:"):
            phases.add(desc.get().split(":", 1)[1])
    assert {"signature", "probe", "verify", "expand", "stage", "survivors"} <= phases, phases


@pytest.mark.parametrize("modality", ["text", "image"])
def test_dedup_stream_crash_replays_batch(
    spark, tmp_path, monkeypatch, state_crash, modality
):
    """`dedup --stream` dies inside its one micro-batch (all four docs in
    one file), and the rerun replays that batch id. It dies after the
    ingest returned, before `_pairs` was staged; after the batch's ledger,
    index and `_pairs` files were moved in, before the manifest rename;
    or after the commit, before Spark logged the batch. Each rerun's
    survivors equal a one-shot `dedup` of the same corpus ([1, 3] for
    text), and `_pairs` holds each pair once."""
    from filemap_spark.cli import run_dedup_stream
    from filemap_spark.functions import blocked
    from filemap_spark.operators import text

    docs = _TEXT_DOCS if modality == "text" else _MEDIA_DOCS
    corpus = tmp_path / "corpus"
    _write_docs(spark, corpus, docs, [1, 2, 3, 4])
    want = _one_shot(spark, corpus, str(tmp_path / "one_shot"), modality)
    if modality == "text":
        assert want == {1, 3}
    mod, name = (
        (text, "incremental_lsh_ingest")
        if modality == "text"
        else (blocked, "incremental_fingerprint_ingest")
    )
    real_ingest = getattr(mod, name)

    def ingest_then_die(*args, **kwargs):
        monkeypatch.setattr(mod, name, real_ingest)
        real_ingest(*args, **kwargs)
        raise RuntimeError("after_ingest")

    for crash in ("after_ingest", "before_rename", "after_commit"):
        out = str(tmp_path / crash)
        if crash == "after_ingest":
            monkeypatch.setattr(mod, name, ingest_then_die)
        else:
            state_crash(crash)
        with pytest.raises(Exception, match=crash):
            run_dedup_stream(spark, str(corpus), out, modality=modality)
        kept, total = run_dedup_stream(spark, str(corpus), out, modality=modality)
        got = _doc_ids(spark, os.path.join(out, "documents.parquet"))
        assert (got, kept, total) == (want, len(want), 4), crash
        pairs = spark.read.parquet(os.path.join(out, "_pairs"))
        n = pairs.count()
        assert n and n == pairs.select("doc_a", "doc_b").distinct().count(), crash


def test_dedup_stream_adopts_legacy_state(spark, tmp_path):
    """State written before the manifest commit — plain parquet appends,
    and OUTPUT/_filemap_memo.json holding only the survivor marker — is
    adopted as committed by the next run, not collected: the ledger and
    `_pairs` survive, and the next arrival ingests on top of them."""
    from filemap_spark.cli import run_dedup_stream

    corpus = tmp_path / "corpus"
    _write_docs(spark, corpus, _TEXT_DOCS, [1, 3])
    fresh, out = str(tmp_path / "fresh"), str(tmp_path / "legacy")
    run_dedup_stream(spark, str(corpus), fresh)
    # the older layout: each table one plain append per batch, and no
    # manifest listing its files
    tables = [
        "_lsh_state/ingested.parquet",
        "_lsh_state/shingles.parquet",
        "_lsh_state/bands.parquet",
        "_pairs",
    ]
    for t in tables:
        spark.read.parquet(os.path.join(fresh, t)).write.mode("append").parquet(
            os.path.join(out, t)
        )
    shutil.copytree(os.path.join(fresh, "_checkpoint"), os.path.join(out, "_checkpoint"))
    with open(os.path.join(out, "_filemap_memo.json"), "w") as f:
        json.dump({"fingerprint": "0"}, f)
    ledger = os.path.join(out, "_lsh_state", "ingested.parquet")
    assert _doc_ids(spark, ledger) == {1, 3}

    _write_docs(spark, corpus, _TEXT_DOCS, [2, 4])
    kept, total = run_dedup_stream(spark, str(corpus), out)
    assert _doc_ids(spark, ledger) == {1, 2, 3, 4} and total == 4
    assert _doc_ids(spark, os.path.join(out, "documents.parquet")) == {1, 3}
    pairs = spark.read.parquet(os.path.join(out, "_pairs")).count()
    assert pairs == 3  # (1, 2), (1, 4), (2, 4): batch 2's only


def test_survivors_components_read_the_checkpointed_pairs(
    spark, tmp_path, monkeypatch
):
    """`_survivors_from_pairs` evaluates the pair plan once: the emptiness
    probe and connected components both read one checkpoint, so the edges
    the components receive are an ExistingRDD scan, not the pair plan."""
    from filemap_spark.cli import _survivors_from_pairs
    from filemap_spark.operators import relational

    seen = []
    real = relational.alternating_star_components

    def spy(edges):
        seen.append(edges._jdf.queryExecution().executedPlan().toString())
        return real(edges)

    monkeypatch.setattr(relational, "alternating_star_components", spy)
    pairs = str(tmp_path / "pairs")
    spark.createDataFrame(
        [(1, 2), (2, 3), (5, 4)], "doc_a long, doc_b long"
    ).write.parquet(pairs)
    edges = (
        spark.read.parquet(pairs)
        .where("doc_a != doc_b")
        .select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    docs = spark.range(1, 7).withColumnRenamed("id", "doc_id")
    kept = {r["doc_id"] for r in _survivors_from_pairs(docs, edges).collect()}
    assert kept == {1, 4, 6}
    assert len(seen) == 1 and "ExistingRDD" in seen[0], seen
    assert "parquet" not in seen[0].lower(), seen[0]


def test_compact_verb_rewrites_fragmented_dataset(spark, sf_dir, tmp_path):
    """`compact` rewrites a many-small-files dataset as the requested file
    count with nothing lost (round 5; wraps compact_parquet_dataset)."""
    from filemap_spark.cli import run_compact
    from filemap_spark.io import load_table

    frag = str(tmp_path / "frag")
    out = str(tmp_path / "out")
    nation = load_table(spark, sf_dir, "nation")
    nation.repartition(10).write.mode("overwrite").parquet(frag)
    before, after, rows = run_compact(spark, frag, out, "n_nationkey", target_files=2)
    assert before == 10 and after == 2
    assert rows == nation.count()


def test_stats_verb_reports_corpus_health(spark, sf_dir):
    """`stats` must agree with direct computation and with the graded
    gini operator."""
    from filemap_spark import all_queries
    from filemap_spark.cli import run_stats
    from filemap_spark.io import load_table

    got = run_stats(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    assert got["n_docs"] == docs.count()
    assert got["n_docs_in_exact_dup_groups"] == 0  # contract corpus: no dups
    gini_op = all_queries()["agg_gini_concentration"](spark, sf_dir).collect()[0]
    assert got["length_gini"] == gini_op["gini"]
    assert got["n_langs"] >= 1 and got["n_tokens"] > got["n_docs"]


def test_quality_verb_gates_corpus(spark, sf_dir, tmp_path):
    """`quality` materializes exactly the gopher-rule keepers, audit counts
    reconcile, and the output is a chainable corpus dir."""
    from filemap_spark.cli import run_quality, run_stats
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import text_gopher_rules

    out = str(tmp_path / "gated")
    audit = run_quality(spark, sf_dir, out)
    verdicts = text_gopher_rules(spark, sf_dir).collect()
    expect_kept = {r["doc_id"] for r in verdicts if r["verdict"] == "keep"}
    kept_docs = spark.read.parquet(f"{out}/documents.parquet")
    assert {r["doc_id"] for r in kept_docs.select("doc_id").collect()} == expect_kept
    assert audit["kept"] == len(expect_kept)
    assert audit["scored"] == audit["n_docs"] == len(verdicts)
    for c in ("r_len", "r_word_len", "r_short", "r_rep", "r_stop"):
        assert audit[f"fail_{c}"] == sum(1 for r in verdicts if not r[c])
    # chainable: stats runs over the gated output
    assert run_stats(spark, out)["n_docs"] == len(expect_kept)


def test_quality_verb_clean_lines_rewrites_text(spark, sf_dir, tmp_path):
    """--clean-lines strips cross-corpus duplicated lines BEFORE gating:
    every surviving text equals dedup_line_level's clean_text and the
    lines_removed audit matches the operator's arithmetic."""
    from filemap_spark.cli import run_quality
    from filemap_spark.operators.text import dedup_line_level

    out = str(tmp_path / "gated_clean")
    audit = run_quality(spark, sf_dir, out, clean_lines=True)
    cleaned = {r["doc_id"]: r for r in dedup_line_level(spark, sf_dir).collect()}
    assert audit["lines_removed"] == sum(
        r["n_paras"] - r["n_kept"] for r in cleaned.values()
    )
    kept_docs = spark.read.parquet(f"{out}/documents.parquet").collect()
    assert 0 < len(kept_docs) <= audit["scored"] <= audit["n_docs"]
    for r in kept_docs:
        assert r["text"] == cleaned[r["doc_id"]]["clean_text"]
        assert r["n_chars"] == len(r["text"])


def test_quality_verb_survives_empty_corpus(spark, tmp_path):
    """Chaining `quality` after a run that kept zero docs must not crash:
    aggregates over an empty corpus are NULL and every audit counter must
    coalesce to 0 (regression: int(None) TypeError)."""
    from filemap_spark.cli import run_quality

    empty_corpus = str(tmp_path / "empty")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{empty_corpus}/documents.parquet")
    audit = run_quality(spark, empty_corpus, out)
    assert audit["n_docs"] == audit["scored"] == audit["kept"] == 0
    assert all(audit[f"fail_{c}"] == 0 for c in ("r_len", "r_word_len", "r_short", "r_rep", "r_stop"))
    assert spark.read.parquet(f"{out}/documents.parquet").count() == 0
    # --clean-lines over the empty corpus must also hold, and leave no
    # _cleaned residue inside OUTPUT
    out2 = str(tmp_path / "out2")
    audit2 = run_quality(spark, empty_corpus, out2, clean_lines=True)
    assert audit2["kept"] == 0 and audit2["lines_removed"] == 0
    import os

    assert not os.path.exists(os.path.join(out2, "_cleaned"))


def test_tpch_verb_runs_selected_queries(spark, sf_dir, tmp_path, capsys):
    """tpch verb: the 22-shape map is complete, a subset runs through
    main(), and --output lands parquet per query (the production sink
    path)."""
    from filemap_spark.cli import TPCH_QUERIES, run_tpch

    assert sorted(TPCH_QUERIES) == sorted(f"q{i}" for i in range(1, 23))
    out = str(tmp_path / "tpch")
    rc = main(["tpch", sf_dir, "--query", "q6", "--query", "q13", "--output", out])
    assert rc == 0
    lines = [
        l for l in capsys.readouterr().out.splitlines() if l.startswith("q")
    ]
    assert [l.split("\t")[0] for l in lines] == ["q6", "q13"]
    assert int(lines[0].split("\t")[2]) == 1  # q6 is a scalar row
    got = spark.read.parquet(os.path.join(out, "q13.parquet"))
    direct = run_tpch(spark, sf_dir, which=["q13"])
    assert got.count() == direct[0][2]


def test_ops_catalog_lists_full_registry(capsys):
    """`filemap_spark ops` browses the whole registry without a
    SparkSession; --family filters to one module; every line carries
    (id, family, check-type, first-docstring-line)."""
    rc = main(["ops"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    from filemap_spark.registry import _META

    # registry-SIZE pinning lives in test_registry_order.py; here only
    # completeness matters (ADVICE r9: a literal 297 would make every
    # future registration edit this CLI test for no added coverage)
    assert len(lines) == len(_META)
    ids = [l.split("\t")[0] for l in lines]
    assert ids == sorted(ids)
    assert all(len(l.split("\t")) == 4 for l in lines)

    rc = main(["ops", "--family", "windows"])
    assert rc == 0
    fam_lines = capsys.readouterr().out.strip().splitlines()
    assert fam_lines and all(l.split("\t")[1] == "windows" for l in fam_lines)
    checks = {l.split("\t")[2] for l in lines}
    assert checks == {"oracle", "rows-only"}


def test_dedup_modality_batch_and_stream_chain(spark, tmp_path):
    """`dedup --modality image|audio` (round 15, VERDICT r14 task 7):
    the perceptual fingerprint paths through BOTH the batch verb and the
    incremental --stream verb. Two-batch arrival through the persisted
    fingerprint ledger must (a) ingest delta-only (the ledger grows by
    exactly the arriving batch), (b) surface the exact-duplicate pair
    that spans the two batches, and (c) leave a survivors corpus
    identical to a from-scratch batch `dedup --modality X` of the union
    — the chained-corpus invariant the text test pins. Between the two
    runs the ledger gets a file its manifest does not list, as a commit
    that died before its manifest rename leaves it, so (a)–(c) also pin
    that the stream deletes it before ingesting."""
    from filemap_spark.cli import run_dedup, run_dedup_stream

    docs = _MEDIA_DOCS  # 2, an exact dup of 1, arrives in batch 2

    for modality in ("image", "audio"):
        root = tmp_path / modality
        corpus = root / "corpus"
        corpus.mkdir(parents=True)

        def write_batch(ids):
            rows = [(i, docs[i], "en", "test", len(docs[i])) for i in ids]
            spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            ).coalesce(1).write.mode("append").parquet(str(corpus))

        out = str(root / "stream_out")
        write_batch([1, 3])
        kept1, total1 = run_dedup_stream(
            spark, str(corpus), out, modality=modality
        )
        assert (kept1, total1) == (2, 2)  # no dups inside batch 1
        ledger = os.path.join(out, "_fp_state", "fingerprints.parquet")
        ids1 = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
        assert ids1 == {1, 3}
        # a commit that died after moving a ledger file in, before its
        # manifest rename: the next run must delete the file before the
        # stream ingests (else total2 counts its rows twice)
        moved = sorted(f for f in os.listdir(ledger) if f.endswith(".parquet"))
        shutil.copy(
            os.path.join(ledger, moved[0]),
            os.path.join(ledger, "part-99999-moved-in.parquet"),
        )

        write_batch([2, 4])
        kept2, total2 = run_dedup_stream(
            spark, str(corpus), out, modality=modality
        )
        assert total2 == 4
        ids2 = {r["doc_id"] for r in spark.read.parquet(ledger).collect()}
        assert ids2 == {1, 2, 3, 4}  # grew by exactly batch 2
        # the cross-batch exact duplicate must have been dropped
        stream_kept = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(out, "documents.parquet")
            ).collect()
        }
        assert 2 not in stream_kept, "cross-batch identical media kept"
        assert 1 in stream_kept and 3 in stream_kept

        # chained invariant: streaming survivors == from-scratch batch
        # dedup of the union corpus through the same modality
        union_dir = root / "union"
        union_dir.mkdir()
        spark.read.parquet(str(corpus)).write.mode("overwrite").parquet(
            str(union_dir / "documents.parquet")
        )
        batch_out = str(root / "batch_out")
        bkept, btotal = run_dedup(
            spark, str(union_dir), batch_out, modality=modality
        )
        assert btotal == 4
        batch_kept = {
            r["doc_id"]
            for r in spark.read.parquet(
                os.path.join(batch_out, "documents.parquet")
            ).collect()
        }
        assert stream_kept == batch_kept, (modality, stream_kept, batch_kept)
        assert kept2 == bkept


def test_quality_verb_learned_gate(spark, sf_dir, tmp_path):
    """`quality --gate learned` (round 15): the verb must gate on the
    trained NB tier's verdict — kept docs == text_quality_classifier's
    nb_verdict='keep' set — report the model/rules agreement in the
    audit, and stay corpus-chainable (output is a valid corpus dir)."""
    from filemap_spark.cli import run_quality, run_stats
    from filemap_spark.operators.text import text_quality_classifier

    out = str(tmp_path / "learned_out")
    audit = run_quality(spark, sf_dir, out, gate="learned")
    clf = text_quality_classifier(spark, sf_dir).collect()
    want_keep = {r["doc_id"] for r in clf if r["nb_verdict"] == "keep"}
    got_keep = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(out, "documents.parquet")
        ).collect()
    }
    assert got_keep == want_keep
    assert audit["kept"] == len(want_keep)
    assert audit["scored"] == len(clf)
    assert audit["agree_with_rules"] == sum(r["agree"] for r in clf)
    # chainable: the output dir is itself a corpus every verb accepts
    stats = run_stats(spark, out)
    assert stats["n_docs"] == len(want_keep)


def test_quality_verb_dsir_and_kn_gates(spark, sf_dir, tmp_path):
    """`quality --gate dsir|kn` (round 17, VERDICT r16 task 6): the verb
    must gate on text_dsir_importance's integer keep flag / on
    text_kneser_ney_logprob's corpus-median −ln p respectively, report
    honest audits (including the unscored too-short docs the KN gate
    cannot see), and stay corpus-chainable."""
    from filemap_spark.cli import run_quality, run_stats
    from filemap_spark.operators.text import (
        text_dsir_importance,
        text_kneser_ney_logprob,
    )

    # --gate dsir: kept set == the graded op's dsir_keep = 1 set
    out_d = str(tmp_path / "dsir_out")
    scores_d = str(tmp_path / "dsir_scores")
    audit_d = run_quality(
        spark, sf_dir, out_d, gate="dsir", scores_out=scores_d
    )
    imp = text_dsir_importance(spark, sf_dir).collect()
    want_d = {r["doc_id"] for r in imp if r["dsir_keep"] == 1}
    got_d = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(out_d, "documents.parquet")
        ).collect()
    }
    assert got_d == want_d
    assert audit_d["kept"] == len(want_d)
    assert audit_d["scored"] == len(imp)
    assert audit_d["zero_feature_docs"] == sum(
        1 for r in imp if r["n_feats"] == 0
    )
    sdf = spark.read.parquet(scores_d)
    assert set(sdf.columns) >= {"doc_id", "log_importance", "dsir_keep"}
    assert audit_d["scores_rows"] == sdf.count()

    # --gate kn: kept set == docs at or under the median avg_neg_logp;
    # bigram-less docs are unscored and dropped, but counted
    out_k = str(tmp_path / "kn_out")
    audit_k = run_quality(spark, sf_dir, out_k, gate="kn")
    kn = text_kneser_ney_logprob(spark, sf_dir).collect()
    vals = sorted(r["avg_neg_logp"] for r in kn)
    m = len(vals)
    med = (
        vals[m // 2]
        if m % 2 == 1
        else (vals[m // 2 - 1] + vals[m // 2]) / 2
    )
    want_k = {r["doc_id"] for r in kn if r["avg_neg_logp"] <= med}
    got_k = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(out_k, "documents.parquet")
        ).collect()
    }
    assert got_k == want_k
    assert audit_k["kept"] == len(want_k)
    assert audit_k["scored"] == len(kn)
    n_docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()
    assert audit_k["unscored_short_docs"] == n_docs - len(kn)
    assert abs(audit_k["median_neg_logp"] - med) <= 5e-7
    # chainable both ways
    assert run_stats(spark, out_k)["n_docs"] == len(want_k)


def test_quality_scores_out_exports_per_doc_frame(spark, sf_dir, tmp_path):
    """`quality --scores-out` (round 16, VERDICT r15 task 7): the per-doc
    verdict frame lands as a parquet dataset whose rows reconcile with
    the audit AND with the materialized kept corpus — the score export a
    curation operator audits before trusting the gate."""
    from filemap_spark.cli import run_quality

    scores = str(tmp_path / "scores")
    out = str(tmp_path / "gated")
    audit = run_quality(spark, sf_dir, out, gate="learned", scores_out=scores)
    sdf = spark.read.parquet(scores)
    assert set(sdf.columns) >= {
        "doc_id", "n_tokens", "nb_score", "nb_verdict",
        "gopher_verdict", "agree",
    }
    assert audit["scores_rows"] == sdf.count() == audit["scored"]
    assert audit["agree_with_rules"] == sdf.where("agree = 1").count()
    kept = spark.read.parquet(f"{out}/documents.parquet")
    assert (
        kept.count()
        == audit["kept"]
        == sdf.where("nb_verdict = 'keep'").count()
    )


def test_quality_scores_only_mode_skips_corpus(spark, sf_dir, tmp_path, capsys):
    """OUTPUT='-' is scores-only mode: the verdict frame is exported, the
    kept corpus is NOT materialized — through the real argv entry point
    so the flag wiring is covered too."""
    from filemap_spark.cli import main

    scores = str(tmp_path / "scores_only")
    assert main(["quality", sf_dir, "-", "--scores-out", scores]) == 0
    audit = dict(
        line.split("\t")
        for line in capsys.readouterr().out.strip().splitlines()
    )
    sdf = spark.read.parquet(scores)
    # rules-gate export = the per-rule flag frame
    assert set(sdf.columns) >= {"doc_id", "verdict", "r_len", "r_stop"}
    assert int(audit["scores_rows"]) == sdf.count() == int(audit["scored"])
    assert not os.path.exists("-"), "OUTPUT='-' must not create a corpus dir"


def test_dedup_explicit_method_with_modality_prints_note(
    spark, tmp_path, capsys
):
    """ADVICE r15: an explicit --method combined with a path that ignores
    it (--stream here; non-text --modality is the same branch) must say
    so on stderr instead of silently running the other pair generator."""
    from filemap_spark.cli import main

    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(corpus)
    out = str(tmp_path / "deduped")
    assert main(["dedup", corpus, out, "--method", "near", "--stream"]) == 0
    err = capsys.readouterr().err
    assert "--method near is ignored with --stream" in err


def test_decontam_verb_drops_planted_contamination(spark, tmp_path):
    """`decontam` drops exactly the train docs sharing a 13-gram with the
    eval corpus, exports the collision report, and the output chains as
    a corpus dir. A planted 13-token copy from an eval doc is the
    contamination; every other train doc is collision-free by
    construction (distinct token vocabularies)."""
    from filemap_spark.cli import run_decontam, run_stats

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    run13 = " ".join(f"e{i}" for i in range(13))  # the eval 13-gram run
    ev_doc = run13 + " tail0 tail1"
    train = [
        # doc 1 embeds the eval run mid-text -> contaminated
        (1, "pre0 pre1 " + run13 + " post0", "en", "web", 0),
        # docs 2/3: 15 tokens each, vocab disjoint from the eval corpus
        (2, " ".join(f"a{i}" for i in range(15)), "en", "web", 0),
        (3, " ".join(f"b{i}" for i in range(15)), "en", "web", 0),
        # doc 4: shorter than 13 tokens -> no n-grams, never contaminated
        (4, "short doc under thirteen tokens", "en", "web", 0),
    ]
    train = [(d, t, la, s, len(t)) for d, t, la, s, _ in train]
    tr_dir, ev_dir = str(tmp_path / "train"), str(tmp_path / "eval")
    spark.createDataFrame(train, schema).write.parquet(
        f"{tr_dir}/documents.parquet"
    )
    spark.createDataFrame(
        [(100, ev_doc, "en", "bench", len(ev_doc))], schema
    ).write.parquet(f"{ev_dir}/documents.parquet")

    out = str(tmp_path / "clean")
    report_out = str(tmp_path / "report")
    audit = run_decontam(
        spark, tr_dir, out, eval_dir=ev_dir, report_out=report_out
    )
    assert audit == {"n_docs": 4, "contaminated": 1, "dropped": 1, "kept": 3}
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/documents.parquet").collect()
    }
    assert kept == {2, 3, 4}
    rep = spark.read.parquet(report_out).collect()
    assert len(rep) == 1 and rep[0]["doc_id"] == 1
    # doc 1 has 16 tokens -> 4 13-grams, 3 of which lie inside pre+run13
    # ... only windows fully inside the planted run collide: exactly 1
    assert rep[0]["n_ngrams"] == 4 and rep[0]["n_hit_ngrams"] == 1
    # chainable: stats runs over the decontaminated output
    assert run_stats(spark, out)["n_docs"] == 3
