"""The reference's four pipeline verbs as distributed catalog operations.

upload / download / move / delete (``/root/reference/
azurestorage_blueprints/{upload,download,move,delete}_file.py``)
re-expressed Spark-first:

plan phase (lazy, Catalyst):   scan → match predicate → destination-name
                               projection (P1-P6 column expressions) →
                               enumeration window (X1/X2)
execute phase (distributed):   ``mapInPandas`` over the planned catalog —
                               each executor performs its partition's file
                               operations and counts the statuses itself,
                               emitting one row per status per partition
                               (count + a bounded failure sample); the
                               driver collects those few rows and never
                               holds one row per file in Python memory
                               (100 TB posture: the reference's per-file
                               loop, ``upload_file.py:215``, becomes task
                               parallelism; a million-blob namespace
                               yields at most slots × 3 driver rows).

A verb is one Python stage and one Spark job. The file operations run
in at most one wave of task slots: ``_execute`` coalesces the planned
catalog to ``defaultParallelism`` partitions before ``mapInPandas``.
The ``binaryFile`` scan packs files by ``openCostInBytes`` (4 MB each)
into 128 MB splits, so a tree of a few hundred small files becomes
several splits per slot, and each wave of Python tasks costs a fixed
start-up time whatever bytes it moves (400 files on 4 cores: 13
splits, four waves per verb, 7.4 s per four-verb pass; in one wave
3.5 s, ``VERBS_ONE_WAVE_AB.json``). ``coalesce`` merges the
byte-balanced splits without a shuffle, so bytes per task stay
balanced; at 100 TB each task holds about N/slots files, and the cost
is that a retried task redoes that many files. The statuses are
counted in the same tasks, so no ``groupBy`` shuffle and no second job
follow (a regex verb with ``destination_file_name`` still adds the
enumeration window's single-partition exchange ahead of the stage).

Each file-operation task first drops the cached zip-archive finders
(:func:`_drop_zip_finders`). PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and on CPython
3.11 each ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-reads its whole archive directory when invalidated: a reused worker
holds one per package loaded from ``pyspark.zip``, 0.15-0.25 s of CPU
per task. With both changes a four-verb pass on 4 cores fell from
3.1 s to 1.8 s (``VERBS_ONE_JOB_AB.json``).

Per-verb semantic matrix preserved from the reference (SURVEY.md §2.1):

| verb     | overwrite        | empty-match policy      | enumeration (regex path)     |
|----------|------------------|-------------------------|------------------------------|
| upload   | never (error)    | noop (:213)             | always, _1.. (:220)          |
| download | yes (:181)       | noop (:213)             | always, _1.. (:219)          |
| move     | yes (:97)        | error 200 (:126-128)    | only if >1 match (:135)      |
| delete   | n/a              | error 200 (:122-124)    | n/a                          |

Match target per verb (SURVEY.md §2.1 fine print): upload matches the
*absolute local path* (``upload_file.py:153-154,164``); download, move
and delete match the *root-relative name* — the container-relative blob
name in the reference (``download_file.py:160``, ``delete_file.py:73``,
``move_file.py:74``).

Move is METADATA-ONLY where the filesystem allows it, mirroring the
reference's server-side copy (``move_file.py:97``
``start_copy_from_url(requires_sync=True)`` — data never transits the
client): on ``file://`` the executor issues ``os.rename`` (same-device
rename never touches the bytes; cross-device EXDEV falls back to
copy+delete), and for cloud roots :func:`hadoop_rename` drives Hadoop's
``FileSystem.rename`` (atomic metadata rename on ABFS
hierarchical-namespace accounts).

Deviation (documented): the reference enumerates files in service-listing
order; the engine enumerates in lexicographic path order (row_number over
orderBy(path)) so results are deterministic under distribution.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.catalog import REGEX_MATCH, match_files, scan
from azurestorage_blueprints_spark.errors import (
    AlreadyExistsError,
    DeleteError,
    EngineError,
    MoveError,
    NoMatchesFoundError,
)
from azurestorage_blueprints_spark.functions.paths import (
    determine_destination_full_path,
)

#: one row per status per task: its count and up to ``_FAILURE_SAMPLE``
#: of its files
_STATUS_SCHEMA = (
    "status string, n long, "
    "sample array<struct<source_path:string,dest_path:string,detail:string>>"
)
#: max per-file rows per status brought to the driver
_FAILURE_SAMPLE = 5


@dataclass
class VerbResult:
    """Distributed execution summary: counts per status, never a row per
    file (the round-1 per-file ``collect()`` is a driver OOM at
    reference-scale namespaces). The verb's one Spark job brings at most
    slots × 3 rows to the driver: one per status (ok, exists, error)
    per file-operation task."""

    total: int
    counts: dict[str, int] = field(default_factory=dict)
    #: bounded sample of (source_path, dest_path, detail) failure rows
    failures: list[tuple] = field(default_factory=list)
    #: one example (source_path, dest_path) for the 'exists' status
    exists_example: tuple | None = None

    @property
    def ok(self) -> int:
        return self.counts.get("ok", 0)


def _plan(
    spark: SparkSession,
    source_root: str,
    pattern: str,
    match_type: str,
    destination_folder: str | None,
    destination_file_name: str | None,
    *,
    enumerate_always: bool,
    match_on: str,
    source_prefix: str | None = None,
) -> DataFrame:
    """Build the lazy verb plan: matched catalog + dest_path column."""
    cat = match_files(
        scan(spark, source_root, prefix=source_prefix), pattern, match_type, on=match_on
    )
    n_total = F.count(F.lit(1)).over(Window.partitionBy())
    rn = F.row_number().over(Window.orderBy("path"))
    if match_type == REGEX_MATCH:
        if enumerate_always:
            # upload/download: always enumerate on the regex path, even a
            # single match gets _1 (upload_file.py:220, download_file.py:219)
            file_number = rn
        else:
            # move: suppress the suffix when exactly one match (move_file.py:135)
            file_number = F.when(n_total > 1, rn).otherwise(F.lit(None))
    else:
        file_number = F.lit(None).cast("int")
    dest = determine_destination_full_path(
        F.lit(destination_folder or ""),
        F.lit(destination_file_name),
        F.col("path"),
        file_number,
    )
    return cat.withColumn("dest_path", dest)


def _drop_zip_finders() -> None:
    """Drop every ``zipimport.zipimporter`` from ``sys.path_importer_cache``.

    PySpark's worker calls ``importlib.invalidate_caches()`` before each
    task (``pyspark/worker_util.py``, ``setup_spark_files``), and on
    CPython 3.11 every cached zip finder re-reads its archive's whole
    directory then (``zipimport.zipimporter.invalidate_caches``). A
    reused worker holds one per package loaded from ``pyspark.zip``
    (16 after a first task): 0.15-0.25 s of CPU between two no-op tasks
    on ``local[1]``, 0.03-0.05 s without them. The dict is a documented
    cache; the import system rebuilds an entry from ``sys.path_hooks``
    when an import needs it, reusing ``zipimport``'s parsed-directory
    cache. Stdlib only, so the worker carries it by value
    (:func:`_ship_zip_step`).
    """
    import sys
    import zipimport

    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        cache.pop(path, None)


def _ship_zip_step():
    """:func:`_drop_zip_finders`, with this module registered with
    cloudpickle to pickle by value (the ``llm_text._ship_mm`` route), so
    a worker closure that calls it needs no repo on the executors'
    ``sys.path``."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    return _drop_zip_finders


def _execute(plan: DataFrame, op: str, dest_root: str | None) -> DataFrame:
    """The distributed execute stage: per task, one row per status with
    its count and a sample of at most ``_FAILURE_SAMPLE`` files.

    The worker is a self-contained nested closure (stdlib imports only)
    so cloudpickle serializes it by value, :func:`_drop_zip_finders`
    included — executors do not need this package importable on their
    own ``sys.path``.
    """
    drop_zip_finders = _ship_zip_step()
    plan_cols = plan
    if dest_root is not None:
        plan_cols = plan.withColumn(
            "dest_path", F.concat_ws("/", F.lit(dest_root.rstrip("/")), F.col("dest_path"))
        )
        # local workers use plain POSIX I/O — strip the file: scheme the
        # way scan() strips it from source paths
        plan_cols = plan_cols.withColumn(
            "dest_path", F.regexp_replace("dest_path", "^file:/+", "/")
        )

    def worker(batches):
        drop_zip_finders()
        import errno as _errno
        import os as _os
        import shutil as _shutil

        import pandas as pd

        def run_one(src, dst):
            try:
                if op == "delete":
                    _os.remove(src)
                    return (src, None, "ok", None)
                _os.makedirs(_os.path.dirname(dst) or ".", exist_ok=True)
                if op == "upload":
                    # never-overwrite: O_EXCL gives an atomic existence check
                    with open(src, "rb") as fin, open(
                        _os.open(dst, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY), "wb"
                    ) as fout:
                        _shutil.copyfileobj(fin, fout)
                elif op == "download":
                    # write a temporary sibling and replace dst with it, so
                    # a failed copy never leaves a truncated dst behind
                    tmp = _os.path.join(
                        _os.path.dirname(dst) or ".", f".dl-{_os.urandom(8).hex()}"
                    )
                    fd = _os.open(tmp, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY, 0o666)
                    try:
                        with open(fd, "wb") as fout, open(src, "rb") as fin:
                            _shutil.copyfileobj(fin, fout)
                        _os.replace(tmp, dst)
                    except BaseException:
                        _os.remove(tmp)
                        raise
                elif op == "move":
                    # metadata-only rename first (the reference's move
                    # never streams data through the client,
                    # move_file.py:97); only a cross-device rename falls
                    # back to copy+delete
                    try:
                        _os.rename(src, dst)
                        return (src, dst, "ok", "renamed")
                    except OSError as ex:
                        if ex.errno != _errno.EXDEV:
                            raise
                        _shutil.copy(src, dst)
                        _os.remove(src)
                        return (src, dst, "ok", "copied")
                return (src, dst, "ok", None)
            except FileExistsError:
                return (src, dst, "exists", None)
            except OSError as ex:
                return (src, dst, "error", str(ex))

        counts: dict = {}
        samples: dict = {}
        for pdf in batches:
            for r in pdf.to_dict("records"):
                src, dst, status, detail = run_one(r["path"], r.get("dest_path"))
                counts[status] = counts.get(status, 0) + 1
                sample = samples.setdefault(status, [])
                if len(sample) < _FAILURE_SAMPLE:
                    sample.append((src, dst, detail))
        if counts:
            yield pd.DataFrame(
                {"status": list(counts), "n": list(counts.values()),
                 "sample": [samples[k] for k in counts]}
            )

    # one wave of tasks: the binaryFile scan splits a tree into more
    # partitions than there are slots, and each extra wave of Python
    # tasks costs more than the file operations it carries
    slots = plan_cols.sparkSession.sparkContext.defaultParallelism
    return (
        plan_cols.select("path", *(["dest_path"] if op != "delete" else []))
        .coalesce(slots)
        .mapInPandas(worker, schema=_STATUS_SCHEMA)
    )


def _summarize(status: DataFrame) -> VerbResult:
    """Merge the per-task status rows on the driver.

    Each file-operation task has already counted its statuses, so this
    is the verb's one Spark job: one ``collect()`` of at most slots × 3
    rows (one per status per task), each carrying at most
    ``_FAILURE_SAMPLE`` files, merged here in Python. No ``groupBy``
    shuffle runs, so the driver holds no row per file and no second job
    starts.
    """
    counts: dict[str, int] = {}
    samples: dict[str, list] = {}
    for r in status.collect():
        counts[r["status"]] = counts.get(r["status"], 0) + r["n"]
        samples.setdefault(r["status"], []).extend(tuple(s) for s in r["sample"])
    exists = samples.get("exists")
    return VerbResult(total=sum(counts.values()), counts=counts,
                      failures=samples.get("error", [])[:_FAILURE_SAMPLE],
                      exists_example=exists[0][:2] if exists else None)


def _check_empty(result: VerbResult, on_empty: str) -> None:
    if result.total == 0 and on_empty == "error":
        # delete & move sys.exit(200) on zero matches (delete_file.py:122-124)
        raise NoMatchesFoundError("no files matched the predicate")


def upload(
    spark: SparkSession,
    source_root: str,
    pattern: str,
    match_type: str,
    destination_root: str,
    destination_folder: str | None = None,
    destination_file_name: str | None = None,
) -> VerbResult:
    """K1: local → store. Never overwrites (ResourceExistsError semantics,
    ``upload_file.py:184,188-190``); zero matches is a silent no-op.
    Matches the absolute local path (``upload_file.py:153-154,164``)."""
    plan = _plan(
        spark, source_root, pattern, match_type, destination_folder, destination_file_name,
        enumerate_always=True, match_on="path",
    )
    result = _summarize(_execute(plan, "upload", destination_root))
    _check_empty(result, "noop")
    if result.exists_example:
        raise AlreadyExistsError(
            f"destination exists (upload never overwrites): {result.exists_example[1]}"
        )
    if result.failures:
        # the reference upload raises on any blob upload failure
        # (upload_file.py:188-193) — mirror the other verbs
        raise EngineError(f"upload failed: {result.failures[0][2]}")
    return result


def download(
    spark: SparkSession,
    source_root: str,
    pattern: str,
    match_type: str,
    destination_root: str,
    destination_folder: str | None = None,
    destination_file_name: str | None = None,
    source_prefix: str | None = None,
) -> VerbResult:
    """K2: store → local. Overwrites (plain 'wb' open, ``download_file.py:181``);
    zero matches is a silent no-op. Matches the root-relative name
    (``download_file.py:160``); ``source_prefix`` narrows the listing
    (S2 prefix pushdown) without changing the matched name."""
    plan = _plan(
        spark, source_root, pattern, match_type, destination_folder, destination_file_name,
        enumerate_always=True, match_on="rel_path", source_prefix=source_prefix,
    )
    result = _summarize(_execute(plan, "download", destination_root))
    _check_empty(result, "noop")
    if result.failures:
        raise MoveError(f"download failed: {result.failures[0][2]}")
    return result


def hadoop_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Metadata-only rename through Hadoop ``FileSystem.rename``.

    The cloud-store move path: on ABFS hierarchical-namespace accounts
    rename is an atomic metadata operation — the engine's analogue of
    the reference's server-side ``start_copy_from_url`` + delete
    (``move_file.py:97,107``), with the copy+poll+delete triple
    collapsed into one round-trip. Works on any Hadoop-supported
    filesystem (tested on ``file://``).
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    src_path = jvm.org.apache.hadoop.fs.Path(src)
    dst_path = jvm.org.apache.hadoop.fs.Path(dst)
    fs = src_path.getFileSystem(hconf)
    parent = dst_path.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    if fs.exists(dst_path):
        # move overwrites in the reference (start_copy_from_url onto an
        # existing blob replaces it); Hadoop rename refuses — delete first
        fs.delete(dst_path, False)
    return bool(fs.rename(src_path, dst_path))


def _move_via_hadoop(
    spark: SparkSession, plan: DataFrame, destination_root: str, rename=None
) -> VerbResult:
    """Cloud-store move loop: py4j Hadoop rename, metadata-only per
    file. The stream is bounded (toLocalIterator holds one partition),
    and each rename is one metadata round-trip — same cost model as the
    reference's per-blob copy loop but without the data path.

    Failure parity with the reference's copy-status poll
    (``move_file.py:98-104`` — non-success → ``abort_copy`` + raise):
    a rename that returns False or throws is collected and surfaces as
    ``MoveError`` from :func:`move`; since rename is atomic there is no
    half-copied destination to abort. ``rename`` is injectable for
    tests.
    """
    do_rename = rename or hadoop_rename
    dest_root = destination_root.rstrip("/")
    n = 0
    failures: list[tuple] = []
    for row in plan.select("path", "dest_path").toLocalIterator():
        dst = f"{dest_root}/{row.dest_path}"
        try:
            if not do_rename(spark, row.path, dst):
                failures.append((row.path, dst, "rename returned false"))
        except Exception as ex:  # noqa: BLE001 — collected, re-raised by move()
            failures.append((row.path, dst, str(ex)))
        n += 1
    return VerbResult(
        total=n,
        counts={"ok": n - len(failures), **({"error": len(failures)} if failures else {})},
        failures=failures[:_FAILURE_SAMPLE],
    )


def move(
    spark: SparkSession,
    source_root: str,
    pattern: str,
    match_type: str,
    destination_root: str,
    destination_folder: str | None = None,
    destination_file_name: str | None = None,
    source_prefix: str | None = None,
) -> VerbResult:
    """K3: metadata-only move. Overwrites; errors on zero matches (exit
    200); enumerates only when more than one file matched
    (``move_file.py:135``). Matches the root-relative name
    (``move_file.py:74,125``).

    ``file://`` roots: distributed ``os.rename`` inside the executor
    task (same-device rename never copies bytes; EXDEV falls back to
    copy+delete). Cloud roots (``abfss://`` …): Hadoop
    ``FileSystem.rename`` per file via :func:`hadoop_rename` — a pure
    metadata stream, the analogue of the reference's server-side copy.
    """
    plan = _plan(
        spark, source_root, pattern, match_type, destination_folder, destination_file_name,
        enumerate_always=False, match_on="rel_path", source_prefix=source_prefix,
    )
    if "://" in source_root and not source_root.startswith("file:"):
        result = _move_via_hadoop(spark, plan, destination_root)
    else:
        result = _summarize(_execute(plan, "move", destination_root))
    _check_empty(result, "error")
    if result.failures:
        raise MoveError(f"move failed: {result.failures[0][2]}")
    return result


def delete(
    spark: SparkSession,
    source_root: str,
    pattern: str,
    match_type: str,
    source_prefix: str | None = None,
) -> VerbResult:
    """K4: delete matched files. Errors on zero matches (exit 200,
    ``delete_file.py:122-124``). Matches the root-relative name
    (``delete_file.py:73``)."""
    cat = match_files(
        scan(spark, source_root, prefix=source_prefix), pattern, match_type, on="rel_path"
    )
    result = _summarize(_execute(cat, "delete", None))
    _check_empty(result, "error")
    if result.failures:
        raise DeleteError(f"delete failed: {result.failures[0][2]}")
    return result
