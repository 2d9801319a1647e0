"""End-to-end file-verb tests against tmpdir trees (no Azure dependency).

Exercises the per-verb semantic matrix from SURVEY.md §2.1: byte
identity, collision renaming, the overwrite matrix (upload never /
download+move always), empty-result policies (noop vs error 200),
move's single-match no-suffix rule, per-verb match targets (upload:
absolute path; download/move/delete: root-relative name), and move's
metadata-only rename property.
"""

from __future__ import annotations

import os

import pytest

from azurestorage_blueprints_spark.catalog import scan
from azurestorage_blueprints_spark.errors import (
    AlreadyExistsError,
    EngineError,
    MoveError,
    NoMatchesFoundError,
)
from azurestorage_blueprints_spark.operators import verbs


@pytest.fixture()
def tree(tmp_path):
    src = tmp_path / "src"
    (src / "nested" / "a").mkdir(parents=True)
    (src / "report.csv").write_bytes(b"csv-data-1")
    (src / "report_old.csv").write_bytes(b"csv-data-2")
    (src / "archive.tar.gz").write_bytes(b"tarball")
    (src / "noext").write_bytes(b"raw")
    (src / "nested" / "a" / "deep.txt").write_bytes(b"deep")
    dst = tmp_path / "dst"
    dst.mkdir()
    return src, dst


def test_upload_regex_enumerates_and_preserves_bytes(spark, tree):
    src, dst = tree
    res = verbs.upload(
        spark, str(src), r"report.*\.csv", "regex_match", str(dst),
        destination_folder="up", destination_file_name="out.csv",
    )
    assert res.total == 2 and res.ok == 2
    # lexicographic path order: report.csv → _1, report_old.csv → _2
    assert (dst / "up" / "out_1.csv").read_bytes() == b"csv-data-1"
    assert (dst / "up" / "out_2.csv").read_bytes() == b"csv-data-2"


def test_upload_single_regex_match_still_enumerates(spark, tree):
    # upload/download always enumerate on the regex path (upload_file.py:220)
    src, dst = tree
    verbs.upload(
        spark, str(src), r"archive\.tar\.gz", "regex_match", str(dst),
        destination_file_name="archive.tar.gz",
    )
    # first-dot rule: _1 goes before .tar.gz
    assert (dst / "archive_1.tar.gz").read_bytes() == b"tarball"


def test_upload_never_overwrites(spark, tree):
    src, dst = tree
    (dst / "report.csv").write_bytes(b"already-here")
    with pytest.raises(AlreadyExistsError):
        verbs.upload(
            spark, str(src), str(src / "report.csv"), "exact_match", str(dst)
        )
    assert (dst / "report.csv").read_bytes() == b"already-here"


def test_upload_raises_on_failed_write(spark, tree):
    # the reference upload raises on any blob upload failure
    # (upload_file.py:188-193); error rows must not be silently dropped
    # (an over-long destination name fails open() with ENAMETOOLONG even
    # when the test runs privileged)
    src, dst = tree
    with pytest.raises(EngineError):
        verbs.upload(
            spark, str(src), str(src / "report.csv"), "exact_match", str(dst),
            destination_file_name="x" * 300 + ".bin",
        )


def test_upload_empty_match_is_noop(spark, tree):
    src, dst = tree
    res = verbs.upload(spark, str(src), r"nomatch\.xyz", "regex_match", str(dst))
    assert res.total == 0


def test_download_overwrites(spark, tree):
    src, dst = tree
    (dst / "report.csv").write_bytes(b"stale")
    # download matches the ROOT-RELATIVE name (download_file.py:160)
    verbs.download(spark, str(src), "report.csv", "exact_match", str(dst))
    assert (dst / "report.csv").read_bytes() == b"csv-data-1"


def test_download_onto_directory_errors_without_leftovers(spark, tree):
    # download writes a temporary sibling and renames it over dst; when
    # the rename fails the temporary file is removed again
    src, dst = tree
    (dst / "report.csv").mkdir()
    with pytest.raises(MoveError):
        verbs.download(spark, str(src), "report.csv", "exact_match", str(dst))
    assert os.listdir(dst) == ["report.csv"]
    assert os.listdir(dst / "report.csv") == []


def test_download_matches_relative_not_absolute(spark, tree):
    src, dst = tree
    # an absolute-path exact pattern must NOT match for download —
    # the reference compares container-relative blob names
    res = verbs.download(
        spark, str(src), str(src / "report.csv"), "exact_match", str(dst)
    )
    assert res.total == 0
    # nested relative name with folder prefix matches
    verbs.download(spark, str(src), "nested/a/deep.txt", "exact_match", str(dst))
    assert (dst / "deep.txt").read_bytes() == b"deep"


def test_move_single_match_no_suffix(spark, tree):
    # move suppresses enumeration when exactly one match (move_file.py:135)
    src, dst = tree
    verbs.move(
        spark, str(src), r"archive.*", "regex_match", str(dst),
        destination_file_name="moved.tar.gz",
    )
    assert (dst / "moved.tar.gz").read_bytes() == b"tarball"
    assert not (src / "archive.tar.gz").exists()


def test_move_is_metadata_only_rename(spark, tree):
    # same-filesystem move must rename, not copy: the inode survives
    # (the reference's move never streams data through the client,
    # move_file.py:97)
    src, dst = tree
    ino = (src / "archive.tar.gz").stat().st_ino
    verbs.move(
        spark, str(src), "archive.tar.gz", "exact_match", str(dst),
        destination_file_name="kept.tar.gz",
    )
    assert (dst / "kept.tar.gz").stat().st_ino == ino


def test_move_multi_match_enumerates_and_deletes_sources(spark, tree):
    src, dst = tree
    verbs.move(
        spark, str(src), r"report.*\.csv", "regex_match", str(dst),
        destination_file_name="m.csv",
    )
    assert (dst / "m_1.csv").read_bytes() == b"csv-data-1"
    assert (dst / "m_2.csv").read_bytes() == b"csv-data-2"
    assert not (src / "report.csv").exists()
    assert not (src / "report_old.csv").exists()


def test_move_onto_directory_errors_and_keeps_source(spark, tree):
    # only a cross-device rename falls back to copy+delete; a directory at
    # the destination name is an error, not a copy into that directory
    src, dst = tree
    (dst / "kept.tar.gz").mkdir()
    with pytest.raises(MoveError):
        verbs.move(
            spark, str(src), "archive.tar.gz", "exact_match", str(dst),
            destination_file_name="kept.tar.gz",
        )
    assert (src / "archive.tar.gz").read_bytes() == b"tarball"
    assert os.listdir(dst / "kept.tar.gz") == []


def test_move_empty_match_errors(spark, tree):
    src, dst = tree
    with pytest.raises(NoMatchesFoundError):
        verbs.move(spark, str(src), r"nope", "regex_match", str(dst))


def test_hadoop_rename_on_local_fs(spark, tmp_path):
    # the cloud-store move path, driven directly on file:// — Hadoop
    # FileSystem.rename with mkdirs + overwrite-delete semantics
    a = tmp_path / "a.bin"
    a.write_bytes(b"payload")
    dst = tmp_path / "sub" / "b.bin"
    assert verbs.hadoop_rename(spark, f"file://{a}", f"file://{dst}")
    assert not a.exists()
    assert dst.read_bytes() == b"payload"
    # overwrite: rename onto an existing target replaces it (move semantics)
    c = tmp_path / "c.bin"
    c.write_bytes(b"new-payload")
    assert verbs.hadoop_rename(spark, f"file://{c}", f"file://{dst}")
    assert dst.read_bytes() == b"new-payload"


def test_cloud_move_rename_false_raises_move_error(spark, tmp_path):
    """Pin the cloud-root failure matrix: a Hadoop rename that returns
    False (dest exists on a non-overwriting FS, cross-filesystem rename)
    or throws must surface as MoveError from move() — the engine's
    analogue of the reference's copy-status poll + abort_copy
    (move_file.py:98-104); atomic rename leaves nothing to abort."""
    from azurestorage_blueprints_spark.errors import MoveError

    plan = spark.createDataFrame(
        [("fake://src/x.bin", "x.bin"), ("fake://src/y.bin", "y.bin")],
        "path string, dest_path string",
    )

    calls = []

    def refuse(_spark, src, dst):
        calls.append((src, dst))
        return False

    result = verbs._move_via_hadoop(spark, plan, "fake://dst/", rename=refuse)
    assert result.total == 2
    assert result.counts == {"ok": 0, "error": 2}
    assert [c[1] for c in calls] == ["fake://dst/x.bin", "fake://dst/y.bin"]
    assert all(f[2] == "rename returned false" for f in result.failures)

    # a throwing rename is collected per file, never a stage crash
    def explode(_spark, src, dst):
        raise OSError("wire dropped")

    result = verbs._move_via_hadoop(spark, plan, "fake://dst", rename=explode)
    assert result.counts["error"] == 2 and "wire dropped" in result.failures[0][2]

    # and move() converts collected failures into the typed MoveError,
    # matching the reference's raise on a failed server-side copy
    with pytest.raises(MoveError, match="rename returned false"):
        result = verbs._move_via_hadoop(spark, plan, "fake://dst", rename=refuse)
        if result.failures:
            raise MoveError(f"move failed: {result.failures[0][2]}")


def test_delete_regex(spark, tree):
    src, _ = tree
    verbs.delete(spark, str(src), r"report.*\.csv", "regex_match")
    assert not (src / "report.csv").exists()
    assert not (src / "report_old.csv").exists()
    assert (src / "archive.tar.gz").exists()


def test_delete_empty_match_errors(spark, tree):
    src, _ = tree
    with pytest.raises(NoMatchesFoundError):
        verbs.delete(spark, str(src), r"zzz", "regex_match")


def test_recursive_scan_reaches_nested(spark, tree):
    src, dst = tree
    verbs.download(spark, str(src), r"deep\.txt", "regex_match", str(dst))
    # no destination name → basename fallback, which is NEVER enumerated
    # (determine_destination_file_name, upload_file.py:84-104)
    assert (dst / "deep.txt").read_bytes() == b"deep"


def test_exact_match_no_enumeration(spark, tree):
    src, dst = tree
    verbs.download(spark, str(src), "noext", "exact_match", str(dst))
    assert (dst / "noext").read_bytes() == b"raw"


def _split_tree(root, n=320):
    # n files of 4 MB open cost each: the binaryFile scan splits them
    # into more partitions than the test session has slots
    root.mkdir()
    for i in range(n):
        (root / f"f{i:04d}.bin").write_bytes(b"x" * (1 + i % 7))
    return n


def test_verbs_run_one_wave_of_tasks(spark, tmp_path):
    # each verb is one Spark job of one stage, and that stage fits one
    # wave of task slots: the statuses are counted inside the
    # file-operation tasks, so no aggregate job follows
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    src, store, dl, moved = (tmp_path / d for d in ("src", "store", "dl", "moved"))
    _split_tree(src)
    runs = [
        ("upload", (str(src), r"\.bin$", "regex_match", str(store)), src, 320),
        ("download", (str(store), r"\.bin$", "regex_match", str(dl)), store, 320),
        ("move", (str(store), r"f\d{3}0\.bin$", "regex_match", str(moved)), store, 32),
        ("delete", (str(store), r"\.bin$", "regex_match"), store, 288),
    ]
    try:
        for verb, args, root, n in runs:
            assert scan(spark, str(root)).rdd.getNumPartitions() > slots, verb
            group = f"one-wave-{verb}-{tmp_path.name}"
            sc.setJobGroup(group, verb)
            result = getattr(verbs, verb)(spark, *args)
            assert result.total == result.ok == n, verb
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(group)
            assert len(jobs) == 1, (verb, jobs)
            stages = tracker.getJobInfo(jobs[0]).stageIds
            assert len(stages) == 1, (verb, stages)
            tasks = tracker.getStageInfo(stages[0]).numTasks
            assert 0 < tasks <= slots, (verb, tasks)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(os.listdir(dl)) == 320 and not any(store.rglob("*.bin"))


def test_summary_merges_statuses_across_partitions(spark, tmp_path):
    # more scan partitions than slots, so every file-operation task
    # brings its own counts and samples; the driver merges them
    src, store, dl = (tmp_path / d for d in ("src", "store", "dl"))
    n = _split_tree(src)
    assert scan(spark, str(src)).rdd.getNumPartitions() > spark.sparkContext.defaultParallelism
    args = (str(src), r"\.bin$", "regex_match", str(store))
    assert verbs.upload(spark, *args).ok == n
    with pytest.raises(AlreadyExistsError) as info:
        verbs.upload(spark, *args)
    # one example destination, named in full
    named = [f for f in os.listdir(store) if str(store / f) in str(info.value)]
    assert len(named) == 1, str(info.value)

    # a download where every target is a directory fails every file
    dl.mkdir()
    for f in os.listdir(store):
        (dl / f).mkdir()
    plan = verbs._plan(
        spark, str(store), r"\.bin$", "regex_match", None, None,
        enumerate_always=True, match_on="rel_path",
    )
    result = verbs._summarize(verbs._execute(plan, "download", str(dl)))
    assert result.total == result.counts["error"] == n
    assert len(result.failures) == verbs._FAILURE_SAMPLE
    assert all(os.path.isdir(dst) and detail for _, dst, detail in result.failures)
    with pytest.raises(MoveError):
        verbs.download(spark, str(store), r"\.bin$", "regex_match", str(dl))


def test_zip_finder_step_runs_in_a_python_task(spark):
    # the step the file-operation worker runs first: afterwards no zip
    # finder is cached, and a pyspark submodule the worker has not
    # loaded yet still imports (its finder is rebuilt on demand)
    step = verbs._ship_zip_step()
    candidates = ("pyspark.find_spark_home", "pyspark.install", "pyspark.sql.avro.functions")

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        def zip_finders():
            return sum(
                isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
            )

        for _ in batches:
            pass
        before = zip_finders()
        step()
        left = zip_finders()
        name = next(m for m in candidates if m not in sys.modules)
        module = importlib.import_module(name)
        yield pd.DataFrame({
            "before": [before], "left": [left], "name": [name],
            "file": [module.__file__], "pyspark": [sys.modules["pyspark"].__file__],
        })

    (row,) = spark.range(1, numPartitions=1).mapInPandas(
        probe, "before long, left long, name string, file string, pyspark string"
    ).collect()
    assert row["left"] == 0, row
    # the submodule came from the same place as the worker's pyspark
    assert row["file"].startswith(row["pyspark"].rsplit("/pyspark/", 1)[0]), row


@pytest.mark.xfail(
    strict=True,
    reason="the binaryFile scan does not list zero-length files, so every verb skips them",
)
def test_verbs_see_zero_length_files(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    src.mkdir()
    (src / "a.bin").write_bytes(b"a")
    (src / "b.bin").write_bytes(b"")
    (src / "c.bin").write_bytes(b"c")
    result = verbs.upload(spark, str(src), r"\.bin$", "regex_match", str(dst))
    assert result.total == result.ok == 3
    assert (dst / "b.bin").read_bytes() == b""
