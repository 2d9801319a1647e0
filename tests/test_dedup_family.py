"""Value pins and one-copy guards for the dedup family's shared pieces.

The rows-only pair rungs (``q_dedup_simhash``, ``q_dedup_minhash_lsh``,
``q_multimodal_image_ahash``) hash with engine-specific functions, so no
oracle can catch a flipped signature bit: their sorted rows are pinned
by digest instead. The guard keeps one body per sketch: one SimHash
vote function, one Hamming pair join, one MinHash agreement fragment.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()

#: sha256 of repr(sorted rows) per (rung, scale factor), with the row
#: count; computed before the rungs shared one vote function and one
#: pair join (``hamming`` values are compared as Python ints, so the
#: INT -> BIGINT widening leaves the digest unchanged)
_ROW_PINS = {
    ("q_dedup_simhash", "sf0.001"): (
        617, "038fc10b606be66a2cdcaf88dfcf02189d6ba3a74459305d671cb09dc56bed92"
    ),
    ("q_dedup_simhash", "sf0.01"): (
        680, "29c51130a8f3c888cb7fe33b1a4a69059ff317f8e8c2a3b4bb6ab63397169cbc"
    ),
    ("q_dedup_minhash_lsh", "sf0.001"): (
        33, "1a3a3c6e6927f90081320126673f2a290a05da9af9d382877189004129167abc"
    ),
    ("q_dedup_minhash_lsh", "sf0.01"): (
        31, "5b5152d50bc5808fdd897b3d98ec40fe3ab69045500b3c7ffab8a983aa82866b"
    ),
    ("q_multimodal_image_ahash", "sf0.001"): (
        2, "187cca5ee960969f3c37b4926bf559859bb34a3192508895fe27566299064740"
    ),
    ("q_multimodal_image_ahash", "sf0.01"): (
        5, "7365aa2eb24d8e5d22f2519f7688eb8f16ba21c783a3591c9b25dbe3bf32ddb7"
    ),
}


@pytest.mark.parametrize("name,sf", sorted(_ROW_PINS))
def test_rows_only_pair_rungs_match_pinned_rows(spark, sf_dir, name, sf):
    rows = sorted(
        tuple(r) for r in REGISTRY[name].fn(spark, os.path.join(os.path.dirname(sf_dir), sf)).collect()
    )
    spark.catalog.clearCache()
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == _ROW_PINS[(name, sf)]


def test_dedup_sketches_have_one_body():
    """Source-level pin: the package has one per-bit SimHash vote
    function, one call of the identical-signature rescue (inside the one
    Hamming pair join), one MinHash agreement fragment, no second
    Mersenne constant and no per-component signature rename."""
    import ast
    import pathlib
    import re

    import azurestorage_blueprints_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    votes, rescue, defs, match, renames, sig_m = [], [], [], [], [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        src = path.read_text()
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            body = ast.get_source_segment(src, fn)
            # a SQL vote string or a Column vote tree, per bit
            if re.search(r"sum\(CASE WHEN .* THEN 1 ELSE -1 END\)", body) or re.search(
                r"shiftright\(.*\)\.bitwiseAND\(1\)", body
            ):
                votes.append(f"{rel}::{fn.name}")
            if fn.name == "_mhp_match_sql":
                defs.append(rel)
        rescue += [rel] * len(re.findall(r"(?<!def )_ident_pairs\(", src))
        # the per-component agreement term, as SQL text or as a Column
        match += [rel] * len(re.findall(r"\{i\} THEN 1 ELSE 0 END|F\.col\(f\"s[ab]\.s\{i\}\"\)", src))
        renames += [rel] * len(re.findall(r"alias\(f\"s[abc]\{i\}\"\)", src))
        sig_m += [rel] * src.count("_SIG_M")
    assert votes == ["queries/dedup.py::_simhash_votes"]
    assert rescue == ["queries/dedup.py"]
    assert defs == ["queries/dedup.py"]
    assert match == ["queries/dedup.py"]
    assert not renames
    assert not sig_m
