"""One-copy guard and value pins for the shared text vocabulary.

``functions/text.py`` writes the whitespace tokenizer, the polynomial
char fold and the other text pieces once, as Spark SQL text. The guard
keeps Column-built or hand-typed second copies from coming back; the
pins hold the rows of the rows-only rung whose tokenizer moved to that
text.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()

#: sha256 of repr(sorted rows) per (rung, scale factor), with the row
#: count; computed while the rung still built its tokenizer as a Column
_ROW_PINS = {
    ("q_sketch_count_min", "sf0.001"): (
        20, "54a606d7add9aede2886c09ee1e00cc55650afe6bc1f3a3365cff9a43142a7fb"
    ),
    ("q_sketch_count_min", "sf0.01"): (
        20, "8e0db1cf6ca4357da365fd92428bc4c835d4ec930af73ca74d1ee05c89ee0581"
    ),
}


@pytest.mark.parametrize("name,sf", sorted(_ROW_PINS))
def test_rows_only_text_rungs_keep_their_rows(spark, sf_dir, name, sf):
    d = os.path.join(os.path.dirname(sf_dir), sf)
    try:
        rows = sorted(tuple(r) for r in REGISTRY[name].fn(spark, d).collect())
    finally:
        spark.catalog.clearCache()
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == _ROW_PINS[(name, sf)]


def test_text_pieces_have_one_copy():
    """Source-level pin of the one text vocabulary. functions/text.py
    builds SQL text and imports no ``pyspark.sql.functions``; outside it
    no package module spells the Spark tokenizer (``split(x, ' ')``
    inside ``filter``, as text or as ``F.filter(F.split(...))``) or a
    Spark char fold (``F.ascii``, or ``CAST(ascii(c) AS BIGINT)`` in
    Spark text). The oracle's DuckDB twins (``list_filter``,
    ``list_transform``) are not Spark spellings."""
    import ast
    import io
    import pathlib
    import re
    import tokenize

    import azurestorage_blueprints_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    text_src = (root / "functions" / "text.py").read_text()
    imports = [
        node
        for node in ast.walk(ast.parse(text_src))
        if isinstance(node, (ast.Import, ast.ImportFrom))
        and (
            any(a.name.startswith("pyspark.sql.functions") for a in node.names)
            or (node.module or "").startswith("pyspark.sql.functions")
            or (node.module == "pyspark.sql" and any(a.name == "functions" for a in node.names))
        )
    ]
    assert imports == [], "functions/text.py must return SQL text, not Columns"

    tokenizer = re.compile(r"(?<!\w)filter\(\s*split\(\s*[\w{}()']+\s*,\s*' '\s*\)")
    ascii_cast = re.compile(r"cast\(\s*ascii\(c\)\s+as\s+bigint\s*\)", re.I)
    toks, folds = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "functions/text.py":
            continue
        src = path.read_text()
        # implicitly concatenated literals are one string
        strings, run = [], []
        for t in list(tokenize.generate_tokens(io.StringIO(src).readline)) + [None]:
            if t is not None and t.type in (tokenize.NL, tokenize.COMMENT):
                continue
            if t is not None and t.type == tokenize.STRING:
                run.append(t.string)
            elif run:
                strings.append("".join(run))
                run = []
        for s in strings:
            toks += [f"{rel}:text" for _ in tokenizer.finditer(s)]
            for m in ascii_cast.finditer(s):
                opener = s.rfind("transform(", 0, m.start())
                if opener < 5 or s[opener - 5 : opener] != "list_":
                    folds.append(f"{rel}:text")
        for node in ast.walk(ast.parse(src)):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            if node.func.attr == "ascii":
                folds.append(f"{rel}:{node.lineno}")
            if (
                node.func.attr == "filter"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and isinstance(node.args[0].func, ast.Attribute)
                and node.args[0].func.attr == "split"
            ):
                toks.append(f"{rel}:{node.lineno}")
    assert toks == [], toks
    assert folds == [], folds
