"""One-copy guard and value pins for the shared vector vocabulary.

``functions/vectors.py`` writes dot, norm, cosine, the clamp, int8 and
L2² once, as Spark SQL text. The guard keeps second copies from coming
back; the pins hold the outputs of the rungs outside the similarity
module whose cosine or quantizer moved to that text.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from azurestorage_blueprints_spark.oracle import compare, duckdb_connection
from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()

#: sha256 of repr(sorted rows) per (rung, scale factor), with the row
#: count; computed while each rung still carried its own cosine text or
#: quantizer (q_dedup_embedding_lsh emits no pairs at either scale, so
#: its audit twin stands in for it)
_ROW_PINS = {
    ("q_stream_ann_serving", "sf0.001"): (
        50, "579ae699cc06527f29b506f720aa8a9657e2fe3faed9ef7be1b4c295e7a4e8b0"
    ),
    ("q_stream_ann_serving", "sf0.01"): (
        50, "4f43dfe9d08c1eb8e35571a6bb5fa0f784a720d1626b8fd882c786351e51b80d"
    ),
    ("q_dedup_embedding", "sf0.001"): (
        1, "c738ed22dab1afebadde49bac619fcab6b4fb728af0bbd87fd7a7d1ab697b8e8"
    ),
    ("q_dedup_embedding", "sf0.01"): (
        1, "ffa08fc284843f15bfec6df6d6797521503d7b5fae12a2a1387012e1e7efc228"
    ),
    ("q_dedup_embedding_lsh_audit", "sf0.001"): (
        180, "e73f62e78b0a5335c1b7c7df7f7bdf49f596eb7d140957b230362684cf61f8cc"
    ),
    ("q_dedup_embedding_lsh_audit", "sf0.01"): (
        180, "dbdb4a307f77e4157dc625d60d4898dbcbbfa2687fdf585bcc6fa06a90955ca4"
    ),
}


@pytest.mark.parametrize("name,sf", sorted(_ROW_PINS))
def test_shared_text_rungs_keep_oracle_and_rows(spark, sf_dir, name, sf):
    d = os.path.join(os.path.dirname(sf_dir), sf)
    df = REGISTRY[name].fn(spark, d)
    rows = sorted(tuple(r) for r in df.collect())
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == _ROW_PINS[(name, sf)]
    con = duckdb_connection(d)
    try:
        compare(df, con, REGISTRY[name].oracle)
    finally:
        con.close()
        spark.catalog.clearCache()


def test_vector_pieces_have_one_copy():
    """Source-level pin of the one vector vocabulary. Outside
    functions/vectors.py no package module spells the int8 quantizer's
    ``* 127.0``, folds a product of array elements with ``F.zip_with`` /
    ``F.aggregate`` or as ``zip_with`` SQL text, or defines its own
    ``cos_sql`` or ``quantize``. The allowed ``127.0`` sites are the one
    DuckDB oracle fragment (``dedup._Q8_SQL``) and the numpy mirror of
    ``q_knn_pandas_vectorized``."""
    import ast
    import io
    import pathlib
    import re
    import tokenize

    import azurestorage_blueprints_spark as pkg

    def multiplies_params(lam: ast.Lambda) -> bool:
        params = {a.arg for a in lam.args.args}
        for node in ast.walk(lam.body):
            if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Mult):
                sides = [
                    {n.id for n in ast.walk(side) if isinstance(n, ast.Name)} & params
                    for side in (node.left, node.right)
                ]
                if all(sides):
                    return True
        return False

    root = pathlib.Path(pkg.__file__).parent
    q127, folds, defs = [], [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/vectors.py":
            continue
        src = path.read_text()
        toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
        code = " ".join(t.string for t in toks if t.type != tokenize.COMMENT)
        for m in re.finditer(r"127\.0", code):
            window = code[max(0, m.start() - 80) : m.end() + 80]
            numpy = re.search(r"np \. floor", window)
            kind = "duckdb" if "list_max" in window else "numpy" if numpy else "spark"
            q127.append(f"{rel}:{kind}")
        # implicitly concatenated literals are one string
        strings, run = [], []
        for t in toks + [None]:
            if t is not None and t.type in (tokenize.NL, tokenize.COMMENT):
                continue
            if t is not None and t.type == tokenize.STRING:
                run.append(t.string)
            elif run:
                strings.append(" ".join(run))
                run = []
        folds += [f"{rel}:text" for s in strings if re.search(r"zip_with\(.*->[^,]*\*", s)]
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and node.name in ("cos_sql", "quantize"):
                defs.append(f"{rel}::{node.name}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("zip_with", "aggregate")
                and any(
                    multiplies_params(lam)
                    for arg in node.args
                    for lam in ast.walk(arg)
                    if isinstance(lam, ast.Lambda)
                )
            ):
                folds.append(f"{rel}:{node.lineno}")
    assert sorted(q127) == ["queries/dedup.py:duckdb", "queries/similarity.py:numpy"], q127
    assert folds == [], folds
    assert defs == [], defs
