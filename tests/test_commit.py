"""The directory-commit primitive (plans/commit.py): crash injection,
races, and the one-mechanism rule.

Every rename in the library goes through ``commit._rename``, so a test
can make the N-th call fail — returning False, as Hadoop's rename does,
or raising, as a crash between two renames would."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import threading
import time

import pytest
from pyspark.sql import functions as F

from fugue_warehouses_spark.plans import commit as C
from fugue_warehouses_spark.plans import versioned as V


@pytest.fixture()
def fail_rename(monkeypatch):
    """``arm(*ns, crash=None)``: the ns-th renames from now return
    False, or raise ``crash``; the others run. Returns the list of
    calls."""

    def arm(*ns, crash=None):
        real = C._rename
        calls = []

        def flaky(fs, src, dst):
            calls.append((src.toString(), dst.toString()))
            if len(calls) in ns:
                if crash is not None:
                    raise crash
                return False
            return real(fs, src, dst)

        monkeypatch.setattr(C, "_rename", flaky)
        return calls

    return arm


def _write(spark, path, n, start=0):
    spark.range(start, start + n).coalesce(1).write.parquet(path)


def _ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).collect())


def test_publish_commits_into_a_fresh_name(spark, tmp_path):
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, stage, 4)
    assert C.publish(spark, stage, dest)
    assert _ids(spark, dest) == [0, 1, 2, 3]
    assert not os.path.exists(stage)


def test_publish_never_publishes_a_stage_without_success(spark, tmp_path):
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, stage, 4)
    os.remove(os.path.join(stage, "_SUCCESS"))
    with pytest.raises(OSError, match="_SUCCESS"):
        C.publish(spark, stage, dest)
    assert not os.path.exists(dest)
    assert os.path.exists(stage)


def test_publish_never_clobbers_an_existing_dest(spark, tmp_path):
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, stage, 4)
    _write(spark, dest, 2, start=100)
    assert not C.publish(spark, stage, dest)
    assert _ids(spark, dest) == [100, 101]
    assert _ids(spark, stage) == [0, 1, 2, 3]


def test_publish_pulls_its_payload_back_when_a_racer_wins(
    spark, tmp_path, monkeypatch
):
    """A racer creates ``dest`` between publish's exists() check and its
    rename, so the rename nests the stage inside the racer's directory.
    publish must report the loss and restore the stage."""
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, stage, 4)
    real = C._rename

    def racer_first(fs, src, dst):
        if not os.path.exists(dest):
            _write(spark, dest, 2, start=100)
        return real(fs, src, dst)

    monkeypatch.setattr(C, "_rename", racer_first)
    assert not C.publish(spark, stage, dest)
    assert "stage" not in os.listdir(dest)
    assert _ids(spark, dest) == [100, 101]
    assert _ids(spark, stage) == [0, 1, 2, 3]


def test_replace_restores_dest_when_the_second_rename_fails(
    spark, tmp_path, fail_rename
):
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, dest, 2, start=100)
    _write(spark, stage, 4)
    fail_rename(2)
    with pytest.raises(OSError, match="original restored"):
        C.replace(spark, stage, dest)
    assert _ids(spark, dest) == [100, 101]
    assert not os.path.exists(dest + "__compact_old")
    assert not os.path.exists(stage)


def test_replace_drops_its_stage_when_the_first_rename_fails(
    spark, tmp_path, fail_rename
):
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, dest, 2, start=100)
    _write(spark, stage, 4)
    fail_rename(1)
    with pytest.raises(OSError, match="untouched"):
        C.replace(spark, stage, dest)
    assert _ids(spark, dest) == [100, 101]
    assert sorted(os.listdir(tmp_path)) == ["dest"]


def test_replace_keeps_the_stage_when_the_restore_fails(
    spark, tmp_path, fail_rename
):
    """When neither the swap nor the restore goes through, the stage
    and ``__compact_old`` hold the only copies: both stay."""
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, dest, 2, start=100)
    _write(spark, stage, 4)
    fail_rename(2, 3)
    with pytest.raises(OSError, match="failed too"):
        C.replace(spark, stage, dest)
    assert _ids(spark, dest + "__compact_old") == [100, 101]
    assert _ids(spark, stage) == [0, 1, 2, 3]


def test_replace_crash_between_renames_keeps_both_copies(
    spark, tmp_path, fail_rename
):
    """A crash after ``dest -> old`` leaves ``dest`` absent, never
    partial: the old data sits at ``__compact_old`` and the new data at
    the stage. The next swap refuses to run over that debris."""
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, dest, 2, start=100)
    _write(spark, stage, 4)
    fail_rename(2, crash=RuntimeError("crash"))
    with pytest.raises(RuntimeError, match="crash"):
        C.replace(spark, stage, dest)
    assert not os.path.exists(dest)
    assert _ids(spark, dest + "__compact_old") == [100, 101]
    assert _ids(spark, stage) == [0, 1, 2, 3]
    with pytest.raises(FileExistsError, match="crashed mid-swap"):
        C.replace(spark, stage, dest)


def test_replace_refuses_a_stage_without_success(spark, tmp_path):
    stage, dest = str(tmp_path / "stage"), str(tmp_path / "dest")
    _write(spark, dest, 2, start=100)
    _write(spark, stage, 4)
    os.remove(os.path.join(stage, "_SUCCESS"))
    with pytest.raises(OSError, match="_SUCCESS"):
        C.replace(spark, stage, dest)
    assert _ids(spark, dest) == [100, 101]


def test_sweep_stages_keeps_young_stages(spark, tmp_path):
    root = tmp_path / "root"
    for name in ("__stage_old", "__stage_new", "v_00001"):
        (root / name).mkdir(parents=True)
    old = time.time() - 3600
    os.utime(root / "__stage_old", (old, old))
    os.utime(root / "v_00001", (old, old))
    C.sweep_stages(spark, str(root), "__stage_", 60)
    assert sorted(os.listdir(root)) == ["__stage_new", "v_00001"]


def test_layout_compact_keeps_data_under_rename_failure(
    spark, tmp_path, fail_rename
):
    from fugue_warehouses_spark.operators.layout import compact

    path = str(tmp_path / "fragmented")
    spark.range(0, 200).repartition(8).write.parquet(path)
    fail_rename(2)
    with pytest.raises(OSError):
        compact(spark, path, target_file_mb=512)
    assert _ids(spark, path) == list(range(200))
    # the failed swap drops its stage (<path>__compact_<id>)
    assert os.listdir(tmp_path) == ["fragmented"]


def test_run_merge_sink_keeps_data_under_rename_failure(
    spark, tmp_path, fail_rename
):
    """Batch 0 publishes the target (rename 1); batch 1's swap moves the
    target aside (rename 2), fails to move the merge in (rename 3) and
    moves the old table back (rename 4). The target must still hold
    batch 0's table."""
    from fugue_warehouses_spark.streaming import read_parquet_stream, run_merge_sink

    feed = tmp_path / "cdc_feed"
    spark.createDataFrame([(1, "a0"), (2, "b0")], "k int, v string").coalesce(
        1
    ).write.parquet(str(feed / "b0"))
    time.sleep(1.1)
    spark.createDataFrame([(2, "b1"), (3, "c0")], "k int, v string").coalesce(
        1
    ).write.parquet(str(feed / "b1"))
    target = str(tmp_path / "target")
    calls = fail_rename(3)
    stream = read_parquet_stream(
        spark, f"{feed}/*/", schema="k int, v string", max_files_per_trigger=1
    )
    with pytest.raises(Exception):
        run_merge_sink(
            stream, target, on=["k"], checkpoint_dir=str(tmp_path / "ckpt")
        )
    assert [dst.rsplit("/", 1)[-1] for _, dst in calls] == [
        "target", "target__compact_old", "target", "target",
    ]
    rows = {(r.k, r.v) for r in spark.read.parquet(target).collect()}
    assert rows == {(1, "a0"), (2, "b0")}
    # the failed swap drops its stage (<target>__m<id>)
    assert [n for n in os.listdir(tmp_path) if n.startswith("target")] == [
        "target"
    ]


def test_reader_sees_whole_snapshots_during_upserts(spark, tmp_path):
    """A reader polling the latest version while upserts commit must
    always get one whole snapshot's row count and never fail."""
    store = str(tmp_path / "store")
    base = spark.range(0, 200).withColumn("v", F.lit(0))
    V.write_version(base, store, spark)
    n_upserts, new_per_upsert = 3, 50
    whole = {200 + i * new_per_upsert for i in range(n_upserts + 1)}
    seen, errors = [], []
    done = threading.Event()

    def reader():
        while not done.is_set():
            try:
                seen.append(V.read_version(spark, store).count())
            except Exception as e:  # recorded, asserted below
                errors.append(repr(e))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for i in range(1, n_upserts + 1):
            lo = 200 + (i - 1) * new_per_upsert
            # 20 updated keys and 50 new ones per upsert
            updates = spark.range(lo - 20, lo + new_per_upsert).withColumn(
                "v", F.lit(i)
            )
            V.upsert_version(spark, store, updates, ["id"])
    finally:
        done.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert errors == []
    assert seen and set(seen) <= whole
    assert V.read_version(spark, store).count() == max(whole)


def test_only_the_commit_module_renames():
    """One mechanism commits a directory: no library module other than
    plans/commit.py may call ``.rename(``."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "fugue_warehouses_spark"
    commit = pkg / "plans" / "commit.py"
    offenders = [
        str(p.relative_to(pkg))
        for p in sorted(pkg.rglob("*.py"))
        if p != commit and re.search(r"\.rename\(", p.read_text())
    ]
    assert offenders == []


_HARNESS_MODULES = {"bench", "perfbench", "benchwindow", "baselinedoc"}
_HARNESS_FILES = re.compile(r"bench_queries[\w.]*\.json|BASELINE\.md")


def test_no_bench_harness_in_the_library():
    """The library holds engine code only: no module imports a benchmark
    harness, and none names a harness sidecar or BASELINE.md in a
    string literal (docstrings may still point at the docs)."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "fugue_warehouses_spark"
    offenders = []
    for p in sorted(pkg.rglob("*.py")):
        tree = ast.parse(p.read_text())
        docstrings = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and ast.get_docstring(n, clean=False) is not None
        }
        for node in ast.walk(tree):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            if any(set(n.split(".")) & _HARNESS_MODULES for n in names):
                offenders.append(f"{p.relative_to(pkg)}:{node.lineno} imports {names}")
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in docstrings
                    and _HARNESS_FILES.search(node.value)):
                offenders.append(f"{p.relative_to(pkg)}:{node.lineno} {node.value!r}")
    assert offenders == []
