"""Text-analysis expressions for the LLM-data-pipeline operators, as
Spark SQL text.

Each helper takes column names or SQL sub-expressions (strings) and
returns SQL text for ``selectExpr`` or ``F.expr``, the way
``functions/vectors.py`` does for vectors. Every ``F.*`` node of a
Column tree costs one py4j round-trip; as text the whole expression
crosses in one command and analyzes to the same plan. Each value is
computable in the oracle's SQL (no Python UDFs).

- Lambda parameters are ``t`` (token), ``c`` (char code), ``h``
  (fold accumulator), ``i`` (index) and ``acc``/``x``; an argument
  expression must not read an outer lambda variable of the same name.
- String literals go through :func:`sql_str`: Spark's parser unescapes
  backslashes inside ``'...'``, so a regex backslash is written twice
  and a quote as ``\\'``. ``punct_ratio``'s class holds both quote
  characters, ``n_symbols`` splits on the regex ``\\.\\.\\.``.
- Integer folds run in BIGINT from a ``CAST(0 AS BIGINT)`` seed, exact
  on both engines.
"""

from __future__ import annotations

#: tiny marker-word tables for the n-gram/stopword language-ID heuristic.
#: Real corpora would use char-trigram profiles; the mechanism (count
#: marker occurrences, argmax with deterministic tie-break) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
    "zh": ("de", "le", "shi"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")

#: punctuation class of :func:`punct_ratio` (Java regex; ``\"`` is ``"``)
PUNCT_RE = r"""[.,;:!?'\"()-]"""
#: the ``...`` symbol of the Gopher rules, as a split regex
ELLIPSIS_RE = r"\.\.\."


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tokens(text: str = "text") -> str:
    """Whitespace tokenization (split on single spaces — the documents
    corpus is single-space separated; a BPE-ish regex split is provided
    by ``bpe_ish_tokens``)."""
    return f"filter(split({text}, ' '), t -> t <> '')"


def token_count(text: str = "text") -> str:
    return f"size({tokens(text)})"


def bpe_ish_tokens(text: str = "text") -> str:
    """BPE-ish sub-word segmentation: split on word boundaries keeping
    punctuation as separate tokens (regex common to Java and RE2)."""
    return f"filter(split(regexp_replace({text}, '([^a-zA-Z0-9 ])', ' $1 '), ' '), t -> t <> '')"


def word_shingles(toks: str, k: int = 3) -> str:
    """Word k-gram shingles (the MinHash unit) over a MATERIALIZED
    token-array column. Callers must tokenize in a separate ``select``
    and pass the attribute — higher-order functions are interpreted
    (CodegenFallback) and re-evaluate their full child subtree on every
    element access, so an inline ``tokens(text)`` argument makes the
    shingling quadratic in document length. Documents shorter than k
    tokens shingle to their whole token span. Shingle space grows with
    vocab^k, so near-identical shingle sets imply near-identical texts
    even over small vocabularies.

    When only shingle HASHES are consumed (no strings, no per-doc
    dedup), a posexplode + lead() window is ~1.5x faster (all codegen —
    see q_dedup_minhash_lsh); when a per-doc distinct follows, this
    array form wins because array_distinct dedups before the explode
    instead of paying a shuffle (measured on q_decontaminate)."""
    return (
        f"CASE WHEN size({toks}) >= {k} THEN transform(sequence(0, size({toks}) - {k}),"
        f" i -> concat_ws(' ', slice({toks}, i + 1, {k})))"
        f" ELSE array(concat_ws(' ', {toks})) END"
    )


def punct_ratio(text: str = "text") -> str:
    """Fraction of characters that are punctuation (deterministic
    per-row double division)."""
    n_punct = f"length({text}) - length(regexp_replace({text}, {sql_str(PUNCT_RE)}, ''))"
    return f"CAST({n_punct} AS DOUBLE) / CAST(greatest(length({text}), 1) AS DOUBLE)"


def word_set_occurrences(text: str, words: tuple[str, ...]) -> str:
    """Count tokens equal to any word in ``words`` — ONE codegen'd regex
    pass over the text instead of a length-diff pass per word. The
    lookahead ``(?= )`` keeps the trailing separator unconsumed so
    adjacent hits (``"to to"``) both count, matching token-equality
    semantics exactly (oracle twin: ``list_filter`` + ``list_contains``
    over the split tokens)."""
    return f"regexp_count(concat(' ', {text}, ' '), ' (?:{'|'.join(words)})(?= )')"


def stopword_ratio(text: str = "text") -> str:
    """Fraction of tokens that are stopwords."""
    return (
        f"CAST({word_set_occurrences(text, STOPWORDS)} AS DOUBLE)"
        f" / CAST(greatest({token_count(text)}, 1) AS DOUBLE)"
    )


def lang_scores(text: str = "text") -> dict[str, str]:
    """Marker-occurrence score per language (one regex pass each)."""
    return {
        lang: word_set_occurrences(text, markers)
        for lang, markers in LANG_MARKERS.items()
    }


def argmax_label(scores: dict[str, str]) -> str:
    """CASE chain naming the key of the largest score. Keys are folded
    in lexicographic order and a strict ``>`` replaces the running
    best, so ties go to the first name. The text is plain CASE, valid
    in the oracle's dialect too."""
    labels = sorted(scores)
    best, best_score = f"'{labels[0]}'", scores[labels[0]]
    for label in labels[1:]:
        s = scores[label]
        best = f"CASE WHEN {s} > {best_score} THEN '{label}' ELSE {best} END"
        best_score = f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
    return best


def lang_guess(text: str = "text") -> str:
    """Argmax language over :func:`lang_scores`."""
    return argmax_label(lang_scores(text))


def doc_ints(text: str = "text") -> dict[str, str]:
    """The per-document integers of the C4 and Gopher rules, name to
    uncast SQL: token count, longest token, summed token length (BIGINT),
    tokens with a letter, the ``#`` plus ``...`` symbol count and the
    stopword count."""
    tk = tokens(text)
    return {
        "n_tokens": f"size({tk})",
        "max_tok_len": f"array_max(transform({tk}, x -> length(x)))",
        "sum_len": f"aggregate({tk}, CAST(0 AS BIGINT), (acc, t) -> acc + length(t))",
        "n_alpha": f"size(filter({tk}, t -> t RLIKE '[A-Za-z]'))",
        "n_symbols": f"length({text}) - length(replace({text}, '#', ''))"
        f" + (size(split({text}, {sql_str(ELLIPSIS_RE)}, -1)) - 1)",
        "n_stop": word_set_occurrences(text, STOPWORDS),
    }


def poly_fold(codes: str, m: int, mult: int = 31) -> str:
    """Polynomial left fold ``h = (h * mult + c) mod m`` of a BIGINT
    array, exact in 64-bit integers while ``m * mult`` stays below
    2^63."""
    return f"aggregate({codes}, CAST(0 AS BIGINT), (h, c) -> (h * {mult} + c) % {m})"


def char_fold(expr: str, m: int = 2147483647, mult: int = 31) -> str:
    """Deterministic polynomial rolling hash over a string's char
    codes (Rabin-Karp style): an order-sensitive content fingerprint,
    the oracle's ``list_reduce`` over ``ascii`` codes."""
    return poly_fold(f"transform(split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))", m, mult)
