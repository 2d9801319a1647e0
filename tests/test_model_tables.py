"""Persisted ANN model tables (r8 verdict task 3): the Lloyd-trained
PQ codebook and the IVF centroid tables are written once per dataset
and read by every scoring rung — these gates pin that the persisted
path is bit-identical to in-query training (score parity), that the
table is trained at most once (the write is skipped when the _SUCCESS
marker exists), and that the model path is versioned by the geometry
constants (a constant change can never read a stale model)."""

from __future__ import annotations

import os
import shutil

from azurestorage_blueprints_spark.queries.similarity import (
    _ivf_exact_centroids,
    _model_path,
    _MODEL_VERSION,
    _persisted_model,
    _pq_codebook_train,
    _pq_model,
    _pq_train,
)
from azurestorage_blueprints_spark.tables import table


def _fresh(sf_dir: str, name: str) -> str:
    """Remove any existing model table so the test exercises the
    train-and-write path first."""
    path = _model_path(sf_dir, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def test_pq_codebook_persisted_equals_in_query_training(spark, sf_dir):
    """Read-back of the persisted codebook must be BIT-IDENTICAL to
    retraining in-query: the Lloyd pass is exact (bigint cell sums) and
    parquet stores IEEE doubles exactly, so any diff means the model
    table and the training path have drifted."""
    e = table(spark, sf_dir, "embeddings")
    _fresh(sf_dir, "pq_codebook")
    persisted = _persisted_model(
        spark, sf_dir, "pq_codebook", lambda: _pq_codebook_train(e)
    )
    got = {(r.j, r.s): tuple(r.cw) for r in persisted.collect()}
    want = {(r.j, r.s): tuple(r.cw) for r in _pq_codebook_train(e).collect()}
    assert got == want, "persisted codebook diverged from in-query training"


def test_pq_model_scores_match_in_query_training(spark, sf_dir):
    """Score parity: corpus codes from the persisted-codebook path must
    equal codes from the in-query-training path — the top-k output is a
    pure function of the codes, so code parity IS score parity."""
    e = table(spark, sf_dir, "embeddings")
    cb_t, codes_t = _pq_train(e)
    cb_m, codes_m = _pq_model(spark, e, sf_dir)
    want = {(r.vec_id, r.s): r.code for r in codes_t.collect()}
    got = {(r.vec_id, r.s): r.code for r in codes_m.collect()}
    for df in (cb_t, codes_t, cb_m, codes_m):
        df.unpersist()
    assert got == want, "model-table codes diverged from in-query training"


def test_model_is_trained_once_then_read(spark, sf_dir):
    """The second load must NOT rewrite the table: the parquet files'
    mtimes are unchanged across a reload (train-once/score-many)."""
    e = table(spark, sf_dir, "embeddings")
    path = _fresh(sf_dir, "ivf_centroids_exact")
    _persisted_model(
        spark, sf_dir, "ivf_centroids_exact", lambda: _ivf_exact_centroids(e)
    ).collect()
    before = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}

    def boom():
        raise AssertionError("builder must not run when the model exists")

    again = _persisted_model(spark, sf_dir, "ivf_centroids_exact", boom)
    assert again.count() > 0
    after = {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}
    assert before == after, "model table was rewritten on reload"


def test_models_inventory_classifies_orphans(sf_dir):
    """models_inventory must call a table live iff its directory name
    is exactly what _model_path resolves for a present dataset — a
    fabricated stale-version dir must come back orphaned, and a freshly
    resolved live path must not."""
    from azurestorage_blueprints_spark.queries.similarity import models_inventory

    root = os.path.normpath(
        os.path.join(os.path.dirname(_model_path(sf_dir, "pq_codebook")), "")
    )
    fake = os.path.join(root, "pq_codebook_v0_STALE_sf9_deadbeef00")
    os.makedirs(fake, exist_ok=True)
    try:
        keep, orphans = models_inventory([sf_dir])
        assert "pq_codebook_v0_STALE_sf9_deadbeef00" in orphans
        live_base = os.path.basename(_model_path(sf_dir, "pq_codebook"))
        if os.path.isdir(_model_path(sf_dir, "pq_codebook")):
            assert live_base in keep
        assert live_base not in orphans
    finally:
        shutil.rmtree(fake, ignore_errors=True)


def test_committed_models_match_present_datasets():
    """Every git-TRACKED model table must be LIVE for one of the
    standing datasets (r9 verdict task 7): a committed orphan means a
    version bump or a dataset regeneration left stale weight files in
    the repo. Untracked orphans are fine (session-local data dirs come
    and go) — scripts/models_gc.py removes those."""
    import glob
    import subprocess

    from azurestorage_blueprints_spark.queries.similarity import models_inventory

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        tracked_files = subprocess.run(
            ["git", "ls-files", "models/"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.splitlines()
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return
    tracked = {f.split("/")[1] for f in tracked_files if "/" in f}
    dirs = sorted(glob.glob("/root/testdata/sf*"))
    local_sf1 = os.path.join(repo, ".localdata", "sf1")
    if os.path.isdir(local_sf1):
        dirs.append(local_sf1)
    _, orphans = models_inventory(dirs)
    committed_orphans = tracked & set(orphans)
    # sf1 tables are committed but the gitignored .localdata/sf1 dir is
    # session-local: when it is absent they cannot be classified live,
    # so only flag them when the dataset exists to check against
    if not os.path.isdir(local_sf1):
        committed_orphans = {e for e in committed_orphans if "_sf1_" not in e}
    assert not committed_orphans, (
        f"stale model tables committed to the repo: {sorted(committed_orphans)} "
        "(or the local .localdata/sf1 predates the sf1 row-group change: "
        "rebuild it with scripts/make_sf1.py)"
    )


def test_model_path_is_versioned_by_geometry(sf_dir):
    """Every geometry constant must appear in the model path — bumping
    any of them orphans the old table instead of silently reusing it."""
    p = _model_path(sf_dir, "pq_codebook")
    assert _MODEL_VERSION in p
    # geometry tokens + (r10) every training-affecting constant: the
    # sample-hash recipe and the floor(x+0.5) quantizer convention
    for tok in ("K16", "D8", "QZ1000000000", "CAP4096", "SM2654435761x15", "FLQ"):
        assert tok in p, f"geometry token {tok} missing from model path"
    assert os.path.basename(os.path.normpath(sf_dir)) in p
    assert os.path.basename(os.path.dirname(p)) == "models"
