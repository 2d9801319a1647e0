"""Corpus-curation operators beyond scoring: repetition detection, PII
redaction, eval-set decontamination, and context-window sequence packing.

These are the remaining steps a training-data pipeline runs between
raw text and a tokenized training mix (the reference has no analogue —
its unit of work is whole-file transfer; SURVEY.md §2.2 extends the
capability table with the north-star LLM operators). Every query is a
single Catalyst plan over ``documents`` with oracle-checked semantics.

Scale notes per operator are inline; the common posture: explode →
equi-join/hash-agg shapes only (posting lists, never |docs|² pairs),
window functions partitioned by a real key (never a global single
partition over the fact table), all string work in codegen'd
``regexp_*`` expressions.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    argmax_label,
    doc_ints,
    lang_guess,
    token_count,
    tokens,
    word_shingles,
)
from azurestorage_blueprints_spark.operators.selection import exact_group_quantiles
from azurestorage_blueprints_spark.queries import finalize_bounded, register, register_sql
from azurestorage_blueprints_spark.tables import table

#: email pattern in the Java-regex ∩ RE2 common subset (no lookahead)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
#: context-window token budget for sequence packing
_PACK_BUDGET = 2048


@register(
    "q_text_repetition",
    oracle="""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM toked WHERE len(toks) >= 2),
    cnt AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2)
    SELECT doc_id,
           CAST(max(c) AS BIGINT) AS max_rep,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(max(c) AS DOUBLE) / sum(c) AS rep_frac
    FROM cnt GROUP BY doc_id
    """,
    doc="Repetition detection: the fraction of a document's bigrams taken "
    "by its single most-repeated bigram — the standard cheap signal for "
    "degenerate/boilerplate text (a looping scrape repeats one n-gram). "
    "Shape: ZERO shuffles — a doc's bigram histogram is row-local, so "
    "instead of exploding bigrams into two hash-aggs (2 shuffles of the "
    "whole token stream), sort the bigram array per row and fold once "
    "for the longest equal-adjacent run (O(n log n) per doc, 2.6x "
    "faster at sf0.1 and embarrassingly parallel at any corpus size).",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.expr(tokens()).alias("tk")).filter(F.size("tk") >= 2)
    bg = F.array_sort(F.expr(word_shingles("tk", 2)))
    long0 = F.lit(0).cast("long")
    best = F.aggregate(
        bg,
        F.struct(F.lit("").alias("prev"), long0.alias("run"), long0.alias("best")),
        lambda s, x: F.struct(
            x.alias("prev"),
            F.when(x == s.prev, s.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                s.best,
                F.when(x == s.prev, s.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda s: s.best,
    )
    return toked.select(
        "doc_id",
        best.cast("bigint").alias("max_rep"),
        (F.size("tk") - 1).cast("bigint").alias("n_bigrams"),
        (best.cast("double") / (F.size("tk") - 1)).alias("rep_frac"),
    )


@register(
    "q_text_redact_pii",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
           substr(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '[0-9]+', '<NUM>', 'g'), 1, 60) AS redacted_head
    FROM documents
    """,
    doc="PII-style redaction pass: count and mask email addresses and digit "
    "runs (the mechanism behind scrubbing emails/phones/SSNs before "
    "training). Pure codegen regexp projections — one scan, zero shuffles; "
    "the regexes live in the Java-regex ∩ RE2 subset so the oracle applies "
    "the identical masking.",
)
def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), "[0-9]+", "<NUM>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), F.lit(0))).alias("n_digit_runs"),
        F.substring(redacted, 1, 60).alias("redacted_head"),
    )


@register(
    "q_decontaminate",
    oracle="""
    WITH toked AS (
      SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, source,
             unnest(list_distinct(CASE WHEN len(toks) >= 5
               THEN list_transform(range(1, len(toks) - 3),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
               ELSE [list_aggregate(toks, 'string_agg', ' ')] END)) AS shingle
      FROM toked),
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
    contaminated AS (
      SELECT DISTINCT t.doc_id FROM train t JOIN eval_sh e USING (shingle)),
    train_docs AS (SELECT DISTINCT doc_id, source FROM train)
    SELECT d.source,
           count(*) AS n_train,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
           CAST(count(*) - count(c.doc_id) AS BIGINT) AS n_clean
    FROM train_docs d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    GROUP BY d.source
    """,
    doc="Train/eval decontamination: drop training documents sharing any "
    "5-gram with the (deterministically designated) eval set — the overlap "
    "check every serious training-data pipeline runs. Shape: inverted index "
    "on shingles (explode → distinct → equi-join), contaminated-ID distinct "
    "is two longs per row; at 100 TB the join key becomes xxhash64(shingle) "
    "so the exchange carries 8-byte keys (collision rate 2^-64 per pair is "
    "acceptable for a drop-list; exact strings used here for oracle parity).",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", "source", F.expr(tokens()).alias("tk"))
    # the exploded shingle set feeds three consumers (eval side, the
    # contamination join, and the train-doc census) — materialize it
    # once instead of replaying tokenize+shingle per consumer
    sh = toked.select(
        "doc_id", "source",
        F.explode(F.array_distinct(F.expr(word_shingles("tk", 5)))).alias("shingle"),
    ).localCheckpoint(eager=False)
    # eval sets are small by construction (heldout benchmarks, not the
    # corpus), so the shingle drop-list broadcasts — the train side is
    # never shuffled for the overlap check
    eval_sh = F.broadcast(
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    train = sh.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        train.join(eval_sh, "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    train_docs = train.select("doc_id", "source").distinct()
    return (
        train_docs.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("contaminated").cast("bigint").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("contaminated")).cast("bigint").alias("n_clean"),
        )
    )


@register(
    "q_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
      FROM documents),
    packed AS (
      SELECT doc_id, lang, n_tok,
             CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                        / {_PACK_BUDGET}.0) AS BIGINT) AS shard
      FROM sized)
    SELECT lang, shard,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM packed GROUP BY lang, shard
    """,
    doc="Context-window sequence packing: assign documents to fixed token-"
    "budget training shards by running token count (shard = floor of the "
    "pre-document cumulative sum / budget) in a deterministic per-language "
    "order — how a tokenized corpus becomes fixed-length training rows. "
    "The window partitions by lang (real parallelism, never one global "
    "partition); at 100 TB the partition key becomes (lang, date-bucket) "
    "so each window stays executor-sized. One window + one hash-agg.",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    sized = d.select("doc_id", "lang", F.expr(token_count()).alias("n_tok"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    shard = F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / float(_PACK_BUDGET)).cast(
        "bigint"
    )
    return (
        sized.withColumn("shard", shard)
        .groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


#: BM25 query terms (mid-frequency corpus vocabulary) and parameters
_BM25_TERMS = ("spark", "merge", "window")
_K1, _B = 1.2, 0.75

#: the BM25 scorer as DuckDB CTEs: per-document term frequencies
#: (``base``), the corpus row (``stats``) and the summed Okapi score
#: (``scored.raw``) — q_text_bm25 and q_retrieval_rrf's lexical leg
_BM25_CTES = f"""toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents),
    base AS (
      SELECT doc_id, len(tk) AS dl,
             {", ".join(f"len(list_filter(tk, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM toked),
    stats AS (
      SELECT count(*) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
             {", ".join(f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}" for i in range(len(_BM25_TERMS)))}
      FROM base),
    scored AS (
      SELECT doc_id, dl,
             {" + ".join(
                 f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
                 f" * (tf{i} * ({_K1} + 1.0))"
                 f" / (tf{i} + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))"
                 for i in range(len(_BM25_TERMS)))} AS raw
      FROM base, stats)"""

#: Spark twin of ``scored.raw`` over the columns of :func:`_bm25_scored`
#: (k1 + 1 and 1 - b folded into double literals)
_BM25_RAW = " + ".join(
    f"ln((n - df{i} + 0.5D) / (df{i} + 0.5D) + 1.0D) * (tf{i} * {_K1 + 1.0}D)"
    f" / (tf{i} + (dl * {_B}D / avgdl + {1.0 - _B}D) * {_K1}D)"
    for i in range(len(_BM25_TERMS))
)


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """Spark twin of the ``base`` and ``stats`` CTEs of
    :data:`_BM25_CTES`: each document's (doc_id, dl, tf_i) beside the
    broadcast corpus row (n, avgdl, df_i)."""
    base = docs.select("doc_id", F.expr(tokens()).alias("tk")).selectExpr(
        "doc_id",
        "size(tk) AS dl",
        *[f"size(filter(tk, x -> x = '{t}')) AS tf{i}" for i, t in enumerate(_BM25_TERMS)],
    )
    glob = base.agg(
        F.expr("count(1) AS n"),
        F.expr("CAST(sum(dl) AS DOUBLE) / count(1) AS avgdl"),
        *[F.expr(f"sum(CAST(tf{i} > 0 AS BIGINT)) AS df{i}") for i in range(len(_BM25_TERMS))],
    )
    return base.crossJoin(F.broadcast(glob))


@register(
    "q_text_bm25",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, CAST(dl AS BIGINT) AS dl, round(raw, 6) AS score
    FROM scored WHERE raw > 0
    ORDER BY score DESC, doc_id LIMIT 20
    """,
    doc="BM25 top-k retrieval over the corpus for a fixed term set: per-doc "
    "term frequencies, corpus document frequencies, and length "
    "normalization combine into the standard Okapi BM25 score "
    "(k1=1.2, b=0.75); top 20 docs with deterministic tie-break. "
    "Shape: one scan computes tf columns in codegen, one tiny global "
    "aggregate broadcasts (N, avgdl, df) back, top-k is "
    "TakeOrderedAndProject — no explode, no join on the fact table. At "
    "100 TB the same plan holds: the broadcast is O(#terms). The final "
    "score is rounded to 6 decimals on both engines because ln() differs "
    "by libm ULPs between the JVM and DuckDB; per-term scores add in "
    "fixed written order so double addition is deterministic.",
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_scored(table(spark, sf_dir, "documents"))
        .withColumn("raw", F.expr(_BM25_RAW))
        .filter("raw > 0")
        .selectExpr("doc_id", "CAST(dl AS BIGINT) AS dl", "round(raw, 6) AS score")
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


#: context-window stand-ins sized so the synthetic corpus (~54 tokens/doc)
#: actually produces multi-chunk documents
_CHUNK, _STRIDE = 32, 16


@register(
    "q_text_chunks",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents),
    sized AS (
      SELECT doc_id, tk, len(tk) AS dl,
             CASE WHEN len(tk) <= {_CHUNK} THEN 1
                  ELSE (len(tk) - {_CHUNK + 1}) // {_STRIDE} + 2 END AS n_chunks
      FROM toked WHERE len(tk) > 0),
    chunked AS (
      SELECT doc_id, unnest(range(0, n_chunks)) AS chunk_id, tk FROM sized)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(len(list_slice(tk, chunk_id * {_STRIDE} + 1, chunk_id * {_STRIDE} + {_CHUNK})) AS INT)
             AS n_chunk_tokens,
           array_to_string(list_slice(tk, chunk_id * {_STRIDE} + 1, chunk_id * {_STRIDE} + {_CHUNK}), ' ')
             AS chunk_text
    FROM chunked
    """,
    doc="Sliding-window document chunking (window 32 tokens, stride 16): "
    "every document becomes ceil((dl - w)/s) + 1 overlapping chunks — the "
    "op that turns raw documents into model-context-sized training "
    "sequences. Shape: tokenize once, explode a per-doc chunk index "
    "(sequence + explode), slice the materialized token array per chunk — "
    "no shuffle at all; chunk fan-out is bounded by dl/stride per doc so "
    "output size is linear in corpus tokens at any scale.",
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    sized = (
        d.select("doc_id", F.expr(tokens()).alias("tk"))
        .filter(F.size("tk") > 0)
        .withColumn(
            "n_chunks",
            F.when(F.size("tk") <= _CHUNK, F.lit(1)).otherwise(
                F.floor((F.size("tk") - (_CHUNK + 1)) / _STRIDE).cast("int") + 2
            ),
        )
    )
    chunked = sized.select(
        "doc_id",
        "tk",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    chunk = F.slice("tk", F.col("chunk_id") * _STRIDE + 1, _CHUNK)
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# Gopher-rule derived doubles, spelled once into both engines from the
# per-document exact integer columns (n_tokens, sum_len, n_alpha,
# n_symbols, n_stop)
_G1 = "CAST(greatest(n_tokens, CAST(1 AS BIGINT)) AS DOUBLE)"
_MWL = f"(CAST(sum_len AS DOUBLE) / {_G1})"
_ALPHA = f"(CAST(n_alpha AS DOUBLE) / {_G1})"
_SYMW = f"(CAST(n_symbols AS DOUBLE) / {_G1})"
_GOPHER_PASS = (
    f"(n_tokens >= 50 AND n_tokens <= 100000"
    f" AND {_MWL} >= 3.0 AND {_MWL} <= 10.0"
    f" AND {_ALPHA} > 0.8 AND {_SYMW} < 0.1 AND n_stop >= 2)"
)
_STOP_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)
#: :func:`~azurestorage_blueprints_spark.functions.text.doc_ints` as
#: BIGINT columns: the select list of the Gopher rung and the waterfall
_DOC_INT_COLS = [f"CAST({e} AS BIGINT) AS {k}" for k, e in doc_ints().items()]
#: their DuckDB twin, the select list of the ``ints`` CTEs
_DOC_INTS_SQL = f"""CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
               AS n_tokens,
             CAST(coalesce(list_max(list_transform(
               list_filter(string_split(text, ' '), t -> t <> ''),
               x -> len(x))), 0) AS BIGINT) AS max_tok_len,
             CAST(coalesce(list_aggregate(
               list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                              t -> length(t)), 'sum'), 0) AS BIGINT) AS sum_len,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '' AND regexp_matches(t, '[A-Za-z]')))
               AS BIGINT) AS n_alpha,
             CAST((length(text) - length(replace(text, '#', '')))
                  + (len(string_split(text, '...')) - 1) AS BIGINT) AS n_symbols,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> list_contains([{_STOP_LIST}], t))) AS BIGINT)
               AS n_stop"""


@register(
    "q_text_gopher_rules",
    oracle=f"""
    WITH ints AS (
      SELECT doc_id,
             {_DOC_INTS_SQL}
      FROM documents
    )
    SELECT doc_id, n_tokens, n_stop,
           {_MWL} AS mean_word_len,
           {_ALPHA} AS alpha_frac,
           {_SYMW} AS symbols_per_word,
           {_GOPHER_PASS} AS passes
    FROM ints
    """,
    doc="Gopher quality rules (Rae et al. 2021, public): word-count "
    "bounds, mean word length 3-10, >80% words containing an alphabetic "
    "character, symbol-to-word ratio (# and ...) < 0.1, and a minimum "
    "stop-word count — the standard rule-based corpus filter next to "
    "the C4 heuristics (q_text_c4_filters). All signals reduce to "
    "per-document EXACT integers in one codegen'd pass (no shuffle at "
    "all — embarrassingly parallel over the corpus at any SF); the "
    "ratio thresholds are derived doubles from identical integers via "
    "shared expression text, so the pass/fail booleans hash-match.",
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .selectExpr("doc_id", *_DOC_INT_COLS)
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_stop",
            f"{_MWL} AS mean_word_len",
            f"{_ALPHA} AS alpha_frac",
            f"{_SYMW} AS symbols_per_word",
            f"{_GOPHER_PASS} AS passes",
        )
    )


#: RAKE keyword extraction: stopword-delimited phrases, word score =
#: degree / frequency (Rose et al. 2010, public); reuses the module's
#: _STOP_LIST SQL literal
_RAKE_STOP_SQL = _STOP_LIST

_RAKE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents
    ),
    pos AS (
      SELECT doc_id,
             CAST(unnest(generate_series(1, len(tk))) AS BIGINT) AS pos,
             unnest(tk) AS tok
      FROM toks
    ),
    seg AS (
      SELECT doc_id, pos, tok,
             CAST(sum(CASE WHEN tok IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS phrase_id
      FROM pos
    ),
    words AS (
      SELECT doc_id, phrase_id, tok FROM seg WHERE tok NOT IN ({_RAKE_STOP_SQL})
    ),
    sized AS (
      SELECT doc_id, phrase_id, tok,
             CAST(count(*) OVER (PARTITION BY doc_id, phrase_id) AS BIGINT) AS psize
      FROM words
    ),
    scored AS (
      SELECT tok AS word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(psize) AS BIGINT) AS degree
      FROM sized GROUP BY tok
    )
    SELECT word, freq, degree,
           CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) AS rake_score
    FROM scored
    ORDER BY CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE) DESC, word
    LIMIT 20
"""


@register(
    "q_text_rake_keywords",
    oracle=_RAKE_ORACLE,
    doc="RAKE keyword extraction (Rose et al. 2010): candidate phrases "
    "are the maximal stopword-free token runs (segmentation = running "
    "stopword count per document — the gaps-and-islands move on token "
    "positions), a word's degree sums the sizes of the phrases it "
    "occurs in, and score = degree / frequency rewards words that "
    "live in long phrases — the unsupervised keyword tagger a corpus "
    "pipeline runs for topical routing. All signals are exact "
    "integers (freq, degree); the score divides once via shared "
    "expression text and top-20 breaks ties on the word itself. "
    "Shape: posexplode runs in the scan stage, the phrase windows ride "
    "ONE doc_id partitioning, and the word agg shuffles the small "
    "(word, counts) table — never raw text.",
)
def q_text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    pos = d.select("doc_id", F.posexplode(F.expr(tokens())).alias("pos", "tok"))
    is_stop = F.col("tok").isin(*STOPWORDS)
    seg = pos.withColumn(
        "phrase_id",
        F.sum(F.when(is_stop, 1).otherwise(0))
        .over(W.partitionBy("doc_id").orderBy("pos"))
        .cast("bigint"),
    )
    words = seg.filter(~is_stop)
    sized = words.withColumn(
        "psize",
        F.count(F.lit(1)).over(W.partitionBy("doc_id", "phrase_id")).cast("bigint"),
    )
    scored = sized.groupBy(F.col("tok").alias("word")).agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("psize").cast("bigint").alias("degree"),
    )
    score = F.col("degree").cast("double") / F.col("freq").cast("double")
    return (
        scored.select("word", "freq", "degree", score.alias("rake_score"))
        .orderBy(F.desc("rake_score"), "word")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Quality-classifier TRAINING (r8) — the iterative-ML operator behind
# every CCNet/fastText-style quality filter: a linear classifier
# trained over cheap per-document text signals, run as a fixed-round
# BATCH PERCEPTRON so every update is an exact integer sum and the
# whole trajectory (mistake counts, accuracy, weight vector per round)
# is oracle-checkable bit-for-bit — the fourth training loop beside
# k-means (q_kmeans_train), BPE (q_bpe_train), and PageRank. The
# deterministic label is a length rule (n_chars >= threshold) the
# feature set genuinely correlates with, so the trajectory shows real
# learning, not noise.
_PCT_ROUNDS = 6
_PCT_LABEL_CHARS = 300
_PCT_LONG_LEN = 6
_PCT_STOPWORDS = STOPWORDS  # the shared 7-word list (functions/text.py)
#: binary-indicator thresholds — bucketized signals keep every batch
#: update at unit scale, which is what makes the fixed-rate batch
#: perceptron CONVERGE (raw counts put x1 at ~50x the bias scale and
#: the weight vector oscillated around 50% accuracy; measured
#: trajectory with these: 0 -> 0.512 -> 0.94 -> 0.958 at sf0.01)
_PCT_TOK_T1 = 50
_PCT_TOK_T2 = 80
_PCT_STOP_T = 4
_PCT_LONG_T = 2


#: FROZEN round-6 weights from q_quality_classifier_train at the sf0.01
#: reference run (trajectory 0 -> 0.512 -> 0.94 -> 0.958; see the
#: training rung's doc). The apply rung ships them as literals — the
#: production train-once/score-many split (r8 verdict task 2): training
#: runs occasionally on a labeled slice, while THIS query is what the
#: pipeline runs daily over the full corpus. Integer weights on binary
#: indicators keep the score exact on both engines.
_PCT_W = (-241, 205, 66, 12, 106)


def _pct_xs(tk: str) -> list[str]:
    """The five classifier indicators x0..x4 over the token array
    ``tk`` (Spark SQL, BIGINT): the bias, the two token-count
    thresholds, the stopword count and the long-word count."""
    sw = ", ".join(f"'{w}'" for w in _PCT_STOPWORDS)
    return [
        "CAST(1 AS BIGINT)",
        f"CAST(size({tk}) >= {_PCT_TOK_T1} AS BIGINT)",
        f"CAST(size(filter({tk}, t -> t IN ({sw}))) >= {_PCT_STOP_T} AS BIGINT)",
        f"CAST(size(filter({tk}, t -> length(t) > {_PCT_LONG_LEN})) >= {_PCT_LONG_T} AS BIGINT)",
        f"CAST(size({tk}) >= {_PCT_TOK_T2} AS BIGINT)",
    ]


def _pct_xs_sql(tk: str) -> list[str]:
    """DuckDB twin of :func:`_pct_xs` (0/1 integers; x0 is ``1``)."""
    lst = ", ".join(f"'{w}'" for w in _PCT_STOPWORDS)
    return [
        "1",
        f"CASE WHEN len({tk}) >= {_PCT_TOK_T1} THEN 1 ELSE 0 END",
        f"CASE WHEN len(list_filter({tk}, t -> list_contains([{lst}], t))) "
        f">= {_PCT_STOP_T} THEN 1 ELSE 0 END",
        f"CASE WHEN len(list_filter({tk}, t -> length(t) > {_PCT_LONG_LEN})) "
        f">= {_PCT_LONG_T} THEN 1 ELSE 0 END",
        f"CASE WHEN len({tk}) >= {_PCT_TOK_T2} THEN 1 ELSE 0 END",
    ]


def _pct_margin(w, xs: list[str]) -> str:
    """Spark SQL: the integer score, the sum of w_i * x_i."""
    terms = [f"CAST({wi} AS BIGINT) * {x}" for wi, x in zip(w, xs)]
    return " + ".join(["CAST(0 AS BIGINT)", *terms])


def _pct_apply_score_sql(tk: str = "tk") -> str:
    """DuckDB: the frozen-weight integer score over the token list
    ``tk`` (a column name, or an inline string_split for callers that
    don't carry one — the waterfall)."""
    xs = _pct_xs_sql(tk)
    return " + ".join([f"{_PCT_W[0]}"] + [f"{_PCT_W[i]} * ({xs[i]})" for i in range(1, 5)])


#: the frozen-weight score of a documents row (Spark SQL over ``text``)
_PCT_SCORE = _pct_margin(_PCT_W, _pct_xs(tokens()))


def _sql_word_set_count(words: tuple[str, ...]) -> str:
    """DuckDB expression: count tokens equal to any word in ``words`` —
    the twin of ``text.word_set_occurrences`` (token-equality semantics,
    adjacent repeats each count)."""
    lst = ", ".join(f"'{w}'" for w in words)
    return (
        f"CAST(len(list_filter(string_split(text, ' '), "
        f"t -> list_contains([{lst}], t))) AS INT)"
    )


def _sql_lang_score(lang: str) -> str:
    return _sql_word_set_count(LANG_MARKERS[lang])


def _sql_lang_guess() -> str:
    """DuckDB twin of ``text.lang_guess``."""
    return argmax_label({lang: f"({_sql_lang_score(lang)})" for lang in LANG_MARKERS})


def _waterfall_oracle(src: str) -> str:
    """DuckDB twin of :func:`_waterfall_funnel` over the relation ``src``
    (columns ``lang``, ``text``, ``n_chars``): the batch waterfall reads
    ``documents``, the ingest gate its arrival slice."""
    from azurestorage_blueprints_spark.queries.corpus_ops import (
        _MAX_CHARS_PER_TOK,
        _MAX_TOK_LEN,
        _MIN_TOKENS,
    )

    qc_score = _pct_apply_score_sql("list_filter(string_split(text, ' '), t -> t <> '')")
    return f"""
    WITH ints AS (
      SELECT lang, text, n_chars,
             {_DOC_INTS_SQL}
      FROM {src}
    ),
    flags AS (
      SELECT (n_tokens >= {_MIN_TOKENS} AND max_tok_len <= {_MAX_TOK_LEN}
              AND n_chars <= {_MAX_CHARS_PER_TOK} * n_tokens) AS c4,
             {_GOPHER_PASS} AS gopher,
             ({_sql_lang_guess()}) = lang AS lang_ok,
             ({qc_score}) > 0 AS qc
      FROM ints
    )
    SELECT CAST(count(*) AS BIGINT) AS n_all,
           CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_c4,
           CAST(sum(CASE WHEN c4 AND gopher THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_gopher,
           CAST(sum(CASE WHEN c4 AND gopher AND lang_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_after_langid,
           CAST(sum(CASE WHEN c4 AND gopher AND lang_ok AND qc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after_classifier,
           CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS BIGINT) AS c4_retention,
           CAST(sum(CASE WHEN c4 AND gopher THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS DOUBLE) AS gopher_retention,
           CAST(sum(CASE WHEN c4 AND gopher AND lang_ok THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(sum(CASE WHEN c4 AND gopher THEN 1 ELSE 0 END) AS DOUBLE)
             AS langid_retention,
           CAST(sum(CASE WHEN c4 AND gopher AND lang_ok AND qc THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST(sum(CASE WHEN c4 AND gopher AND lang_ok THEN 1 ELSE 0 END)
                    AS DOUBLE) AS classifier_retention
    FROM flags
"""


def _waterfall_funnel(docs: DataFrame) -> DataFrame:
    """One-row survival funnel over ``docs`` (``lang``, ``text``,
    ``n_chars``): the C4, Gopher, language-agreement and classifier
    verdicts per row, then one aggregate of stage counts and retentions.
    The batch waterfall and the ingest gate both call it."""
    from azurestorage_blueprints_spark.queries.corpus_ops import (
        _MAX_CHARS_PER_TOK,
        _MAX_TOK_LEN,
        _MIN_TOKENS,
    )

    flags = docs.selectExpr("lang", "text", "n_chars", *_DOC_INT_COLS).selectExpr(
        f"n_tokens >= {_MIN_TOKENS} AND max_tok_len <= {_MAX_TOK_LEN}"
        f" AND n_chars <= {_MAX_CHARS_PER_TOK} * n_tokens AS c4",
        f"{_GOPHER_PASS} AS gopher",
        f"{lang_guess()} = lang AS lang_ok",
        f"{_PCT_SCORE} > 0 AS qc",
    )
    stages = ["c4", "gopher", "langid", "classifier"]
    # parenthesized left-deep: the SQL parser balances a flat AND chain
    conds = accumulate(["c4", "gopher", "lang_ok", "qc"], lambda a, b: f"({a} AND {b})")
    kept = [f"CAST(sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT)" for c in conds]
    n = "CAST(count(1) AS BIGINT)"
    dens = [n, *(f"CAST({k} AS DOUBLE)" for k in kept)]
    return flags.agg(
        F.expr(f"{n} AS n_all"),
        *[F.expr(f"{k} AS n_after_{st}") for k, st in zip(kept, stages)],
        *[
            F.expr(f"CAST({k} AS DOUBLE) / {den} AS {st}_retention")
            for k, den, st in zip(kept, dens, stages)
        ],
    )


@register(
    "q_curation_waterfall",
    oracle=_waterfall_oracle("documents"),
    doc="Curation-pipeline waterfall report: the survival counts a "
    "corpus team watches as filters stack — all documents, then C4 "
    "rule survivors, then C4+Gopher survivors, then C4+Gopher+"
    "language-routing-agreement survivors, then (r9) the trained "
    "quality-classifier keeps — with per-stage retention rates. Every "
    "per-document verdict is the EXACT rule expression of its "
    "standalone query (q_text_c4_filters, q_text_gopher_rules, "
    "q_text_langid shared SQL texts, q_quality_classifier_apply's "
    "frozen-weight score), so the waterfall cannot drift from the "
    "filters it summarizes. ONE codegen scan computes all four "
    "verdicts row-locally and a single map-side-combined "
    "aggregate emits the one-row report — at 100 TB this costs "
    "exactly one pass over the corpus, which is why waterfalls are "
    "reported this way rather than by materializing each stage.",
)
def q_curation_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _waterfall_funnel(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# HTML text extraction (r6 verdict task 4) — the web-ingestion step in
# front of the whole curation ladder. The REAL operator is
# operators/html_text.py (streaming html.parser block segmentation +
# density-rule boilerplate filter, Arrow-batched mapInPandas); this
# query makes it oracle-checkable the PNG-roundtrip way: a
# deterministic HTML page is built around each document (title/style/
# script head, link-only nav, the document text as the content block,
# a share widget, a footer), the extractor must strip the chrome and
# recover the text EXACTLY, and DuckDB reproduces every reported
# metric arithmetically from the original text column.
_HTML_CHECKSUM_M = 2147483647


@register(
    "q_html_extract_text",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tok,
             CAST(len(text) AS BIGINT) AS nch,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''),
                              c -> CAST(ascii(c) AS BIGINT))),
               (h, c) -> (h * 31 + c) % {_HTML_CHECKSUM_M}) AS fold
      FROM documents
    )
    SELECT doc_id,
           CAST(3 + CASE WHEN tok >= 1 THEN 1 ELSE 0 END AS BIGINT) AS n_blocks,
           CAST(CASE WHEN tok >= 5 THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
           CAST(CASE WHEN tok >= 5 THEN tok ELSE 0 END AS BIGINT) AS kept_tokens,
           CAST(CASE WHEN tok >= 5 THEN nch ELSE 0 END AS BIGINT) AS kept_chars,
           CAST(CASE WHEN tok >= 5 THEN fold ELSE 0 END AS BIGINT) AS checksum
    FROM t ORDER BY doc_id
    """,
    doc="HTML text extraction + boilerplate filtering over a "
    "deterministic per-document page fixture: the stdlib-html.parser "
    "streaming block segmenter (operators/html_text.py) must drop the "
    "script/style/title head, the link-dominated nav, and the "
    "short share/footer chrome (n_tokens >= 5 AND 2*link_chars <= "
    "n_chars keep rule), recover the document text bit-exactly "
    "(entity escape -> unescape roundtrip), and report exact integer "
    "block counts, kept token/char totals, and the portable "
    "polynomial checksum of the kept text — every value reproduced "
    "arithmetically by DuckDB from the raw text column, so any parser "
    "bug (tag nesting, charref handling, density rule) breaks the "
    "hash. Shape (100 TB): page construction is codegen'd string "
    "concat in the scan stage; the parse is ONE Arrow-batched "
    "mapInPandas pass, per-document, no shuffle, no driver traffic — "
    "embarrassingly parallel over payload partitions.",
)
def q_html_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    import azurestorage_blueprints_spark.operators.html_text as HT
    from pyspark import cloudpickle

    # ship the extractor library to plain-session Python workers by
    # value (the q_multimodal_* convention)
    cloudpickle.register_pickle_by_value(HT)

    d = table(spark, sf_dir, "documents")
    esc = "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    html = F.expr(
        "concat('<html><head><title>Doc ', cast(doc_id as string), "
        "'</title><style>p{margin:0}</style>"
        "<script>var id=', cast(doc_id as string), ';</script></head><body>"
        '<nav><a href="/">home</a> <a href="/about">about</a></nav>'
        f"<p>', {esc}, '</p>"
        '<div class="share">share this page</div>'
        "<footer>(c) example corp</footer></body></html>')"
    )
    pages = d.select("doc_id", html.alias("html"))
    return HT.extract_html_text(pages).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Encoding-noise screen (r7) — the mojibake / control-character /
# replacement-character triage every web-corpus ingest runs before
# language ID (CCNet, RefinedWeb, FineWeb all gate on it). The shipped
# documents table is clean ASCII, so — PNG-roundtrip style — the noise
# is INJECTED deterministically from doc_id arithmetic (UTF-8
# double-decode mojibake 'Ã¢â‚¬â„¢', ESC control bytes, U+FFFD
# replacement chars) and the SCREEN that finds it is the real operator
# under test; both engines build the identical fixture so the report
# is bit-exact.


register_sql(
    "q_text_encoding_screen",
    oracle="""
    WITH fx AS (
      SELECT doc_id, source,
             concat(text,
                    CASE WHEN doc_id % 7 = 0
                         THEN repeat(' Ã¢â‚¬â„¢', CAST(doc_id % 5 AS INT) + 1)
                         ELSE '' END,
                    CASE WHEN doc_id % 11 = 0 THEN repeat(chr(27), 2) ELSE '' END,
                    CASE WHEN doc_id % 13 = 0 THEN concat(' ', chr(65533)) ELSE '' END
             ) AS t
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             CAST(length(t) - length(replace(t, chr(65533), '')) AS BIGINT) AS n_repl,
             CAST(length(t) - length(replace(t, chr(27), '')) AS BIGINT) AS n_ctrl,
             CAST((length(t) - length(replace(t, 'Ã¢â‚¬â„¢', ''))) / 8 AS BIGINT) AS n_moji
      FROM fx
    ),
    v AS (
      SELECT source, n_repl, n_ctrl, n_moji,
             CASE WHEN n_repl > 0 OR n_ctrl > 0 THEN 'bad'
                  WHEN n_moji > 0 THEN 'suspect'
                  ELSE 'clean' END AS verdict
      FROM m
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN verdict = 'clean' THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN verdict = 'suspect' THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
           CAST(sum(CASE WHEN verdict = 'bad' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
           CAST(sum(n_repl) AS BIGINT) AS total_repl,
           CAST(sum(n_ctrl) AS BIGINT) AS total_ctrl,
           CAST(sum(n_moji) AS BIGINT) AS total_moji,
           CAST(sum(CASE WHEN verdict = 'clean' THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS reject_share
    FROM v GROUP BY source ORDER BY source
    """,
    doc="Encoding-noise triage screen: per-document counts of U+FFFD "
    "replacement characters, raw control bytes (ESC), and the classic "
    "UTF-8-double-decode mojibake marker 'Ã¢â‚¬â„¢' (what a "
    "right-single-quote becomes when UTF-8 bytes are re-read as "
    "Latin-1 and re-encoded), folded into a clean/suspect/bad verdict "
    "and a per-source rejection report. Counting is replace()-length "
    "arithmetic — pure codegen string ops, NO regex, so there is no "
    "dialect risk and no UDF. The noise is injected deterministically "
    "from doc_id residues (the shipped corpus is clean ASCII), exactly "
    "like the codec-roundtrip rungs inject their fixtures; the screen "
    "is the operator under test. Shape (100 TB): one scan, one "
    "map-side-combined hash-agg on source — no shuffle wider than the "
    "source cardinality, length()/replace() all JVM-side.",
)


def _pct_feats_sql() -> str:
    xs = ",\n             ".join(
        f"CAST({x} AS BIGINT) AS x{i}" for i, x in enumerate(_pct_xs_sql("tk"))
    )
    return f"""feats AS MATERIALIZED (
      SELECT CASE WHEN n_chars >= {_PCT_LABEL_CHARS} THEN 1 ELSE -1 END AS y,
             {xs}
      FROM (SELECT n_chars,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tk
            FROM documents)
    )"""


def _pct_oracle() -> str:
    """Unrolled fixed-round batch-perceptron loop: each round is one
    MATERIALIZED aggregate over the feature table carrying the
    cumulative weight vector (all-integer), plus the mistake count the
    update was computed from."""
    parts = ["WITH " + _pct_feats_sql()]
    for r in range(1, _PCT_ROUNDS + 1):
        if r == 1:
            margin = "0"
            w_prev = ["0"] * 5
            src = "feats"
        else:
            w_prev = [f"r{r - 1}.w{i}" for i in range(5)]
            margin = " + ".join(f"{w_prev[i]} * x{i}" for i in range(5))
            src = f"feats, r{r - 1}"
        mis = f"y * ({margin}) <= 0"
        sums = ",\n             ".join(
            # max() over the 1-row carried vector: DuckDB requires every
            # non-grouped column inside an aggregate
            f"CAST(max({w_prev[i]}) + sum(CASE WHEN {mis} THEN y * x{i} ELSE 0 END) AS BIGINT) AS w{i}"
            for i in range(5)
        )
        parts.append(f""",
    r{r} AS MATERIALIZED (
      SELECT CAST(sum(CASE WHEN {mis} THEN 1 ELSE 0 END) AS BIGINT) AS n_mistakes,
             CAST(count(*) AS BIGINT) AS n_docs,
             {sums}
      FROM {src}
    )""")
    rows = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({r} AS BIGINT) AS round, n_mistakes, n_docs,
             1.0 - CAST(n_mistakes AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy,
             w0, w1, w2, w3, w4
      FROM r{r}"""
        for r in range(1, _PCT_ROUNDS + 1)
    )
    parts.append(f"\n    SELECT * FROM (\n{rows}\n    ) ORDER BY round")
    return "".join(parts)


@register(
    "q_quality_classifier_train",
    oracle=_pct_oracle(),
    doc="Quality-classifier TRAINING loop (the CCNet/fastText-style "
    f"filter every corpus pipeline trains): {_PCT_ROUNDS} batch-"
    "perceptron rounds over five exact-integer per-document signals "
    "(bias plus binary indicators: two token-count thresholds, a "
    "stopword-count threshold, a long-word-count threshold — "
    "bucketized so every update stays at unit scale, the property "
    "that makes the fixed-rate batch rule converge: measured "
    "trajectory 0 -> 0.51 -> 0.94 -> 0.958 accuracy) against a "
    "deterministic length label — each "
    "round counts the currently-misclassified documents and adds "
    "their summed y*x to the weight vector, so every update is an "
    "integer aggregate and the full trajectory (mistakes, accuracy, "
    "weights per round) hash-matches the oracle's unrolled "
    "MATERIALIZED rounds bit-for-bit. The perceptron form is chosen "
    "over logistic regression deliberately: no sigmoid means no "
    "engine libm on data (the repo's determinism contract), while "
    "the operator shape — per-round one map-side-combined aggregate "
    "over a cached feature table, one driver row per round — is "
    "EXACTLY the distributed-training step a real quality-filter run "
    "executes. Shape (100 TB): features are computed once and "
    "localCheckpointed (the k-means/BPE lineage discipline); each "
    "round scans them with a 7-sum codegen aggregate (no shuffle "
    "wider than one row); driver traffic is 1 row per round.",
)
def q_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    feats = (
        table(spark, sf_dir, "documents")
        .selectExpr(
            f"CASE WHEN n_chars >= {_PCT_LABEL_CHARS} THEN 1 ELSE -1 END AS y",
            *[f"{x} AS x{i}" for i, x in enumerate(_pct_xs(tokens()))],
        )
        .localCheckpoint(eager=False)
    )
    w = [0] * 5
    rows = []
    for r in range(1, _PCT_ROUNDS + 1):
        mis = f"CAST(y AS BIGINT) * ({_pct_margin(w, [f'x{i}' for i in range(5)])}) <= 0"
        row = feats.agg(  # 1 driver row per round (bounded)
            F.expr(f"CAST(sum(CASE WHEN {mis} THEN 1 ELSE 0 END) AS BIGINT)"),
            F.expr("CAST(count(1) AS BIGINT)"),
            *[
                F.expr(f"CAST(sum(CASE WHEN {mis} THEN CAST(y AS BIGINT) * x{i} ELSE 0 END)"
                       " AS BIGINT)")
                for i in range(5)
            ],
        ).first()
        n_mis, n_docs = int(row[0]), int(row[1])
        w = [w[i] + int(row[2 + i]) for i in range(5)]
        rows.append(
            (r, n_mis, n_docs, 1.0 - n_mis / n_docs, w[0], w[1], w[2], w[3], w[4])
        )
    schema = StructType(
        [StructField("round", LongType(), False),
         StructField("n_mistakes", LongType(), False),
         StructField("n_docs", LongType(), False),
         StructField("accuracy", DoubleType(), False)]
        + [StructField(f"w{i}", LongType(), False) for i in range(5)]
    )
    return spark.createDataFrame(rows, schema).orderBy("round")


@register(
    "q_quality_classifier_apply",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CASE WHEN n_chars >= {_PCT_LABEL_CHARS} THEN 1 ELSE -1 END AS y,
             {_pct_apply_score_sql()} AS s
      FROM (SELECT source, n_chars,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tk
            FROM documents)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN s > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_drop,
           CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS keep_rate,
           CAST(sum(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           CAST(sum(CASE WHEN (s > 0) = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS agree_rate
    FROM scored GROUP BY source ORDER BY source
    """,
    doc="Quality-classifier APPLY rung (r8 verdict task 2 — the half of "
    "the CCNet loop a pipeline actually runs daily): score every "
    "document with the FROZEN round-6 perceptron weights from "
    "q_quality_classifier_train (literals in the query — the "
    "production train-once/score-many split; no training, no joins, "
    "no iteration) and report per-source keep/drop counts, keep rate, "
    "and agreement with the deterministic length label the classifier "
    "was trained against. Keep rule: integer score > 0 (the "
    "perceptron's prediction convention — margin 0 counted as a "
    "mistake in training for both labels). Shape (100 TB): ONE "
    "codegen scan computes the five binary indicators and the integer "
    "dot product row-locally; the only shuffle is the tiny per-source "
    "map-side-combined aggregate. All counts are exact integers and "
    "both rates divide the same exact integers on both engines.",
)
def q_quality_classifier_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    y = F.when(F.col("n_chars") >= _PCT_LABEL_CHARS, 1).otherwise(-1).cast("bigint")
    scored = d.select("source", y.alias("y"), F.expr(_PCT_SCORE).alias("s"))
    keep = F.col("s") > 0
    agree = keep == (F.col("y") == 1)
    n = F.count(F.lit(1)).cast("bigint")
    nk = F.sum(F.when(keep, 1).otherwise(0)).cast("bigint")
    nd = F.sum(F.when(keep, 0).otherwise(1)).cast("bigint")
    na = F.sum(F.when(agree, 1).otherwise(0)).cast("bigint")
    return (
        scored.groupBy("source")
        .agg(
            n.alias("n_docs"),
            nk.alias("n_keep"),
            nd.alias("n_drop"),
            (nk.cast("double") / n.cast("double")).alias("keep_rate"),
            na.alias("n_agree"),
            (na.cast("double") / n.cast("double")).alias("agree_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing (r10) — the PRODUCTION quality filter
# the waterfall's row-local rules approximate: score every document by
# its cross-entropy under a per-language add-one-smoothed unigram LM
# and split each language into head / middle / tail perplexity terciles
# (CCNet keeps head+middle for training and routes tail to review).
# Unlike q_token_commonness (global integer proxy, no bucketing) this is
# the real mechanism: language-conditioned log-probabilities and
# per-language percentile cuts.

#: micro-nat quantizer for per-token surprisal: ln() is engine-libm
#: territory (JVM Math.log vs DuckDB's C libm can differ in the last
#: ulp), so each DISTINCT (count, lang-total) surprisal value is rounded
#: to integer micro-nats BEFORE the per-document sum — the document
#: reduction is then exact bigint arithmetic, order-free on any engine.
_PPL_QZ = 1_000_000

#: distributed-selection histogram granularity: thresholds are found by
#: first histogramming logppl into milli-nat bins (floor(logppl*1000));
#: the boundary bin is then resolved exactly. Order-preserving by
#: construction (floor is monotone and equal logppl never straddles a
#: bin), so the result is the EXACT k-th smallest, not an approximation.
_PPL_BIN_QZ = 1000


def _ppl_logppl():
    """Mean per-token surprisal of a (n_tokens, ce_micro) document row —
    the ONE shared ranking/compare expression of the whole CCNet family
    (batch terciles, streaming gate, and both thresholds)."""
    return F.col("ce_micro").cast("double") / float(_PPL_QZ) / F.col("n_tokens")


def _doc_tokens(docs: DataFrame) -> DataFrame:
    """The (doc_id, lang, token) stream of a documents slice."""
    return docs.select("doc_id", "lang", F.explode(F.expr(tokens())).alias("token"))


def _ppl_lm(lm: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Add-one-smoothed per-language unigram LM of a (lang, token, c)
    vocab table: ``s`` (lang, token, c, smicro) holds each token's
    surprisal ln((N_l + V_l) / (c + 1)) in micro-nats, ``oovtbl``
    (lang, oov) the unseen-token mass ln(N_l + V_l)."""
    tot = lm.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_l"),
        F.count(F.lit(1)).cast("bigint").alias("v_l"),
    )
    smicro = F.round(
        F.log(
            (F.col("n_l").cast("double") + F.col("v_l").cast("double"))
            / (F.col("c").cast("double") + F.lit(1.0))
        )
        * F.lit(_PPL_QZ)
    ).cast("bigint")
    s = lm.join(F.broadcast(tot), "lang").select(
        "lang", "token", "c", smicro.alias("smicro")
    )
    oovtbl = tot.select(
        "lang",
        F.round(F.log((F.col("n_l") + F.col("v_l")).cast("double")) * F.lit(_PPL_QZ))
        .cast("bigint")
        .alias("oov"),
    )
    return s, oovtbl


def _ppl_le(t: str):
    """(logppl, doc_id) <=lex (``t``, ``t``_doc): the threshold compare
    of every CCNet-family verdict."""
    lp = _ppl_logppl()
    return (lp < F.col(t)) | ((lp == F.col(t)) & (F.col("doc_id") <= F.col(f"{t}_doc")))


def _ppl_thresholds(docce: DataFrame, ks=None) -> DataFrame:
    """Exact per-language k-th-smallest (logppl, doc_id) pairs of a
    (lang, doc_id, n_tokens, ce_micro) table: the two-phase selection
    of :func:`operators.selection.exact_group_quantiles` over milli-nat
    logppl bins, so no plan windows the corpus by the constant-
    cardinality ``lang`` key. ``ks`` is a list of callables n -> k
    (default: the terciles ceil(n/3), ceil(2n/3)). Returns O(langs)
    rows (lang, n_cal, t1, t1_doc, ...) in ``ks`` order, ``n_cal`` being
    the language's row count."""
    if ks is None:
        ks = [
            lambda n: F.ceil(n / 3.0).cast("bigint"),
            lambda n: F.ceil(n * 2.0 / 3.0).cast("bigint"),
        ]
    q = exact_group_quantiles(
        docce,
        "lang",
        _ppl_logppl(),
        "doc_id",
        ks,
        bin_of=lambda v: F.floor(v * F.lit(float(_PPL_BIN_QZ))).cast("bigint"),
    )
    names = {"n": "n_cal"}
    for i in range(1, len(ks) + 1):
        names.update({f"q{i}": f"t{i}", f"q{i}_key": f"t{i}_doc"})
    return q.withColumnsRenamed(names)


def _ppl_bucket():
    """Tercile verdict by lexicographic threshold compare — shared
    VERBATIM by the batch rung and the streaming gate (and mirrored in
    both oracles): bucket 1 iff (logppl, doc_id) <=lex (t1, t1_doc),
    else 2 iff <=lex (t2, t2_doc), else 3. Identical to
    ntile(3) ORDER BY (logppl, doc_id) because the ordering is total
    (doc_id unique) and k = ceil(n/3), ceil(2n/3) are exactly ntile's
    first two group boundaries."""
    return F.when(_ppl_le("t1"), 1).when(_ppl_le("t2"), 2).otherwise(3).cast("bigint")


@register(
    "q_ccnet_perplexity_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents),
    lm AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, token),
    tot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_l, CAST(count(*) AS BIGINT) AS v_l
      FROM lm GROUP BY lang),
    s AS (
      SELECT lm.lang, token,
             CAST(round(ln((CAST(n_l AS DOUBLE) + CAST(v_l AS DOUBLE))
                           / (CAST(c AS DOUBLE) + 1.0)) * {_PPL_QZ}) AS BIGINT)
               AS smicro
      FROM lm JOIN tot ON lm.lang = tot.lang),
    doc AS (
      SELECT t.doc_id, t.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(smicro) AS BIGINT) AS ce_micro
      FROM tok t JOIN s ON t.lang = s.lang AND t.token = s.token
      GROUP BY t.doc_id, t.lang),
    ranked AS (
      SELECT lang, doc_id,
             CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens AS logppl,
             row_number() OVER (PARTITION BY lang
               ORDER BY CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens, doc_id)
               AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM doc),
    thr AS (
      SELECT lang,
             max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT) THEN logppl END) AS t1,
             max(CASE WHEN rn = CAST(ceil(n / 3.0) AS BIGINT) THEN doc_id END) AS t1_doc,
             max(CASE WHEN rn = CAST(ceil(2.0 * n / 3.0) AS BIGINT) THEN logppl END) AS t2,
             max(CASE WHEN rn = CAST(ceil(2.0 * n / 3.0) AS BIGINT) THEN doc_id END) AS t2_doc
      FROM ranked GROUP BY lang)
    SELECT doc_id, doc.lang AS lang, n_tokens, ce_micro,
           CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens AS logppl,
           CAST(CASE WHEN CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens < t1
                       OR (CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens = t1
                           AND doc_id <= t1_doc) THEN 1
                  WHEN CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens < t2
                       OR (CAST(ce_micro AS DOUBLE) / {_PPL_QZ}.0 / n_tokens = t2
                           AND doc_id <= t2_doc) THEN 2
                  ELSE 3 END AS BIGINT) AS bucket
    FROM doc JOIN thr ON doc.lang = thr.lang
    """,
    doc="CCNet-style perplexity bucketing: every document scored by its "
    "mean per-token surprisal under an add-one-smoothed PER-LANGUAGE "
    "unigram LM trained on the corpus itself — "
    "-log p(w|lang), p = (c+1)/(N_lang+V_lang) — then each language "
    "split into head/middle/tail perplexity terciles. This is the "
    "production quality filter of the CCNet pipeline: head+middle feed "
    "training, tail goes to review — the language-conditioned upgrade "
    "of q_token_commonness' global integer proxy. Determinism: each "
    "distinct (count, total) surprisal is rounded to integer micro-nats "
    "BEFORE the per-document sum, so the reduction is exact bigint "
    "arithmetic (the one ln() per vocab entry is boundary-safe at 1e-6 "
    "granularity and sweep-verified at three SFs). Shape (100 TB): the "
    "LM is a vocab-sized (lang, token) hash-agg, map-side combined; "
    "scoring re-joins it onto the token stream UNHINTED (AQE broadcasts "
    "while the vocab fits and falls back to a shuffle join on (lang, "
    "token) when it doesn't — never a forced corpus-blind hint); the "
    "terciles come from _ppl_thresholds' two-phase distributed "
    "selection — histogram groupBy(lang, bin), boundary-bin residual "
    "rank — NOT a per-language ntile window, so no registered plan "
    "sorts the corpus partitioned by the 5-value lang key. The "
    "thresholds are the exact k-th-smallest (logppl, doc_id) pairs "
    "(k = ceil(n/3), ceil(2n/3)) and the bucket verdict is the "
    "lexicographic compare the streaming gate (q_stream_perplexity_"
    "gate) applies at ingest — both rungs share _ppl_thresholds and "
    "_ppl_bucket verbatim, and the verdict is provably identical to "
    "the former ntile(3) form (total order, exact group boundaries).",
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = _doc_tokens(d)
    s, _ = _ppl_lm(
        tok.groupBy("lang", "token").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # UNHINTED scoring join (r11): the LM side is vocab-sized (~N^0.6,
    # Heaps' law) — small enough that AQE broadcasts it at every test
    # SF, but NOT provably bounded, so the hint that would force a
    # 100 TB corpus' 1e8-entry vocab through the driver is gone.
    doc = (
        tok.join(s, ["lang", "token"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("smicro").cast("bigint").alias("ce_micro"),
        )
        .persist()  # feeds the threshold phases AND the verdict scan
    )
    thr = _ppl_thresholds(doc)
    return doc.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "ce_micro",
        _ppl_logppl().alias("logppl"),
        _ppl_bucket().alias("bucket"),
    )


#: inference-batching length buckets (powers of two covering the corpus
#: token range) — integer-only so every engine compares exactly
_LEN_BUCKETS = (16, 32, 64, 128)


@register(
    "q_batch_length_buckets",
    oracle=f"""
    WITH sized AS (
      SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
               AS BIGINT) AS n_tok
      FROM documents),
    g AS (SELECT CAST(max(n_tok) AS BIGINT) AS gmax FROM sized),
    b AS (
      SELECT n_tok, gmax,
             CASE WHEN n_tok <= {_LEN_BUCKETS[0]} THEN {_LEN_BUCKETS[0]}
                  WHEN n_tok <= {_LEN_BUCKETS[1]} THEN {_LEN_BUCKETS[1]}
                  WHEN n_tok <= {_LEN_BUCKETS[2]} THEN {_LEN_BUCKETS[2]}
                  ELSE gmax END AS bucket_width
      FROM sized CROSS JOIN g)
    SELECT CAST(bucket_width AS BIGINT) AS bucket_width,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok_total,
           CAST(count(*) * bucket_width AS BIGINT) AS padded_total,
           CAST(count(*) * bucket_width - sum(n_tok) AS DOUBLE)
             / (count(*) * bucket_width) AS waste_frac,
           CAST(count(*) * max(gmax) - sum(n_tok) AS DOUBLE)
             / (count(*) * max(gmax)) AS naive_waste_frac
    FROM b GROUP BY bucket_width
    """,
    doc="Length-bucketed batching report — the padding-economics table "
    "behind dynamic batching in training and inference: documents are "
    "assigned to power-of-two token-length buckets (the top bucket "
    "clamped to the observed max length) and each bucket "
    "reports its exact padded-token total and padding-waste fraction "
    "next to the waste the SAME documents would incur padded to the "
    "global max length (the naive single-bucket batcher). The gap "
    "between waste_frac and naive_waste_frac is the throughput "
    "recovered by bucketing — the number a serving team actually "
    "tunes bucket boundaries against. All counts are exact integers "
    "(bucket assignment is an integer CASE chain, never a float log); "
    "the two fractions are one divide per output row. Shape (100 TB): "
    "one codegen scan + one O(buckets) hash-agg, map-side combined; "
    "the global max rides a 1-row broadcast scalar join. O(buckets) "
    "rows at any corpus size.",
)
def q_batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    sized = d.select(F.expr(token_count()).cast("bigint").alias("n_tok"))
    gmax = sized.agg(F.max("n_tok").cast("bigint").alias("gmax"))
    # the top bucket clamps to the OBSERVED max length (a fixed 128
    # ceiling would pad past any real sequence — the honest batcher
    # never allocates beyond the longest input)
    bw = (
        F.when(F.col("n_tok") <= _LEN_BUCKETS[0], F.lit(_LEN_BUCKETS[0]).cast("bigint"))
        .when(F.col("n_tok") <= _LEN_BUCKETS[1], F.lit(_LEN_BUCKETS[1]).cast("bigint"))
        .when(F.col("n_tok") <= _LEN_BUCKETS[2], F.lit(_LEN_BUCKETS[2]).cast("bigint"))
        .otherwise(F.col("gmax"))
        .cast("bigint")
    )
    b = sized.crossJoin(F.broadcast(gmax)).select("n_tok", "gmax", bw.alias("bucket_width"))
    g = b.groupBy("bucket_width").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_total"),
        F.max("gmax").cast("bigint").alias("gmax"),
    )
    padded = (F.col("n_docs") * F.col("bucket_width")).cast("bigint")
    naive = (F.col("n_docs") * F.col("gmax")).cast("bigint")
    return g.select(
        "bucket_width",
        "n_docs",
        "tok_total",
        padded.alias("padded_total"),
        ((padded - F.col("tok_total")).cast("double") / padded.cast("double")).alias(
            "waste_frac"
        ),
        ((naive - F.col("tok_total")).cast("double") / naive.cast("double")).alias(
            "naive_waste_frac"
        ),
    )


# llm_text reads this module's language-ID SQL; importing it here keeps
# its entries between the rungs above and below in the registry order
from azurestorage_blueprints_spark.queries import llm_text  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM (r11) — the ladder rung between the
# add-one unigram (q_ccnet_perplexity_buckets) and the 5-gram KenLM
# CCNet actually ships: held-out perplexity of the arrival slice under
# a bigram model with absolute discounting and continuation-count
# back-off, trained on the standing corpus (the % 10 split every
# incremental rung shares). The reference pipeline has no analogue —
# this is the LLM-curation north star's LM tier.

#: absolute discount (Kneser-Ney's D): 0.75 is the textbook constant;
#: exact in binary (3/4), so c - D and D * n are exact double ops on
#: both engines.
_KN_D = 0.75


def _kn_sql() -> str:
    d, qz = _KN_D, _PPL_QZ
    puni_sql = (
        "(CAST(coalesce(cont.n1pw2, 0) AS DOUBLE) + 1.0) "
        "/ (CAST(lt.b_types AS DOUBLE) + CAST(vt.v AS DOUBLE) + 1.0)"
    )
    return f"""
    WITH toked AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents),
    big0 AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(tk)),
                    i -> {{'w1': tk[i], 'w2': tk[i + 1]}})) AS b
      FROM toked WHERE len(tk) >= 2),
    big AS (SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM big0),
    sbig AS (SELECT * FROM big WHERE doc_id % 10 <> 0),
    abig AS (SELECT * FROM big WHERE doc_id % 10 = 0),
    c12 AS (
      SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c12
      FROM sbig GROUP BY lang, w1, w2),
    ctx AS (
      SELECT lang, w1, CAST(sum(c12) AS BIGINT) AS c1,
             CAST(count(*) AS BIGINT) AS n1w1
      FROM c12 GROUP BY lang, w1),
    cont AS (
      SELECT lang, w2, CAST(count(*) AS BIGINT) AS n1pw2
      FROM c12 GROUP BY lang, w2),
    lt AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS b_types FROM c12 GROUP BY lang),
    vt AS (
      SELECT lang, CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
        SELECT lang, unnest(tk) AS w FROM toked WHERE doc_id % 10 <> 0)
      GROUP BY lang),
    trip AS (SELECT DISTINCT lang, w1, w2 FROM abig),
    scored AS (
      SELECT t.lang, t.w1, t.w2,
             CASE WHEN c12.c12 IS NOT NULL THEN 1 ELSE 0 END AS seen,
             CAST(round(-ln(
               CASE WHEN ctx.c1 IS NOT NULL THEN
                 (greatest(CAST(coalesce(c12.c12, 0) AS DOUBLE) - {d}, 0.0)
                  + {d} * CAST(ctx.n1w1 AS DOUBLE) * ({puni_sql}))
                 / CAST(ctx.c1 AS DOUBLE)
               ELSE {puni_sql} END) * {qz}) AS BIGINT) AS smicro
      FROM trip t
      JOIN lt ON t.lang = lt.lang
      JOIN vt ON t.lang = vt.lang
      LEFT JOIN ctx ON t.lang = ctx.lang AND t.w1 = ctx.w1
      LEFT JOIN c12 ON t.lang = c12.lang AND t.w1 = c12.w1 AND t.w2 = c12.w2
      LEFT JOIN cont ON t.lang = cont.lang AND t.w2 = cont.w2)
    SELECT a.doc_id, a.lang,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(1 - seen) AS BIGINT) AS n_unseen_bigrams,
           CAST(sum(smicro) AS BIGINT) AS ce_micro,
           CAST(sum(smicro) AS DOUBLE) / {qz}.0 / count(*) AS logppl
    FROM abig a
    JOIN scored s ON a.lang = s.lang AND a.w1 = s.w1 AND a.w2 = s.w2
    GROUP BY a.doc_id, a.lang
    """


@register(
    "q_kn_bigram_perplexity",
    oracle=_kn_sql(),
    doc="Interpolated Kneser-Ney bigram held-out perplexity — the LM "
    "ladder rung between the add-one unigram tercile filter and the "
    "5-gram KenLM CCNet ships in production: train the bigram model "
    "on the STANDING corpus (doc_id % 10 != 0), score the ARRIVAL "
    "slice (% 10 == 0), so the unseen-bigram and unseen-context "
    "back-off paths are genuinely exercised (and counted per document "
    "in n_unseen_bigrams). p(w2|w1) = (max(c12-D,0) + D*N1+(w1,.)*"
    "p_cont(w2))/c(w1) for seen contexts, with the continuation "
    "unigram p_cont = (N1+(.,w2)+1)/(B+V+1) (add-one so unseen words "
    "keep positive mass) as the direct fallback for unseen contexts; "
    "D = 0.75 (exact in binary). Engine portability: every p is built "
    "from exact integer counts through IEEE correctly-rounded ops in "
    "IDENTICAL expression order on both engines, the one ln() per "
    "DISTINCT arrival triple quantizes to micro-nats BEFORE the "
    "per-document sum (the _PPL_QZ convention), and the normalization "
    "is approximate by design (p_cont add-one leaks ~1/(B+V+1) mass; "
    "documented, identical on both engines). Shape (100 TB): the "
    "model is three type-scale hash-aggs off ONE bigram stream "
    "(bigram types grow sublinearly; map-side combined); scoring "
    "joins are all equi-keyed on (lang,w1[,w2]) — the distinct-triple "
    "table keeps ln() off the token stream; per-language constants "
    "broadcast (O(langs)); the only doc-scale exchanges are the "
    "bigram explode and the final per-doc agg. No windows, no "
    "driver collects.",
)
def q_kn_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", "lang", F.expr(tokens()).alias("tk")).filter(
        F.size("tk") >= 2
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(F.col("tk")) - 1),
        lambda i: F.struct(
            F.element_at(F.col("tk"), i).alias("w1"),
            F.element_at(F.col("tk"), i + 1).alias("w2"),
        ),
    )
    big = toked.select("doc_id", "lang", F.explode(pairs).alias("b")).select(
        "doc_id", "lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    sbig = big.filter(F.col("doc_id") % 10 != 0)
    abig = big.filter(F.col("doc_id") % 10 == 0)
    # the bigram-TYPE table (sublinear — types grow ~Heaps) fans out
    # into ctx, cont, lt, vt and the scoring join; unpersisted, each
    # consumer re-ran the corpus-scale tokenize + bigram explode +
    # count shuffle (r12, guide §2.4/§5). The cache is released by the
    # standard per-query teardown (PERSIST_THROUGH_RETURN — the output
    # is per-arrival-doc, so the collect route cannot apply).
    c12 = (
        sbig.groupBy("lang", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
        .persist()
    )
    ctx = c12.groupBy("lang", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1w1"),
    )
    cont = c12.groupBy("lang", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1pw2")
    )
    lt = c12.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("b_types"))
    # vocab count from the persisted TYPE table instead of a second
    # full tokenize pass (r12): every token of a >= 2-token document
    # appears in at least one of its bigrams (as w1 or as w2), and
    # toked is already filtered to size >= 2, so distinct(w1 ∪ w2) over
    # the standing bigram types IS the standing vocabulary — same value
    # as the explode it replaces, at type scale instead of token scale
    vt = (
        c12.select("lang", F.col("w1").alias("w"))
        .unionAll(c12.select("lang", F.col("w2").alias("w")))
        .groupBy("lang")
        .agg(F.countDistinct("w").cast("bigint").alias("v"))
    )
    trip = abig.select("lang", "w1", "w2").distinct()
    langc = lt.join(vt, "lang")
    j = (
        trip.join(F.broadcast(langc), "lang")
        .join(ctx, ["lang", "w1"], "left")
        .join(c12, ["lang", "w1", "w2"], "left")
        .join(cont, ["lang", "w2"], "left")
    )
    dd = _KN_D
    # IDENTICAL expression order to the SQL oracle — every op below is
    # IEEE correctly-rounded, so the pre-ln double is bit-identical
    puni = (F.coalesce(F.col("n1pw2"), F.lit(0)).cast("double") + F.lit(1.0)) / (
        F.col("b_types").cast("double") + F.col("v").cast("double") + F.lit(1.0)
    )
    pseen = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - F.lit(dd), F.lit(0.0)
        )
        + F.lit(dd) * F.col("n1w1").cast("double") * puni
    ) / F.col("c1").cast("double")
    p = F.when(F.col("c1").isNotNull(), pseen).otherwise(puni)
    scored = j.select(
        "lang",
        "w1",
        "w2",
        F.when(F.col("c12").isNotNull(), 1).otherwise(0).alias("seen"),
        F.round(-F.log(p) * F.lit(float(_PPL_QZ))).cast("bigint").alias("smicro"),
    )
    return (
        abig.join(scored, ["lang", "w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(F.lit(1) - F.col("seen")).cast("bigint").alias("n_unseen_bigrams"),
            F.sum("smicro").cast("bigint").alias("ce_micro"),
            (
                F.sum("smicro").cast("double")
                / float(_PPL_QZ)
                / F.count(F.lit(1))
            ).alias("logppl"),
        )
    )


# ---------------------------------------------------------------------------
# Classifier calibration (r11) — the instrument tier for the quality
# classifier: a keep/drop model that is ACCURATE can still be badly
# CALIBRATED (its confidence doesn't match its hit rate), and a
# pipeline that thresholds on confidence needs the reliability diagram
# before trusting the threshold.

#: logistic temperature for mapping the integer perceptron margin to a
#: confidence: sigma(s / tau). The frozen weights produce margins in
#: [-241, 148] (12 distinct values at the gate SFs); tau = 64 spreads
#: them across 7 of the 10 confidence bins, so the diagram shows the
#: interior of the reliability curve, not just its saturated ends.
_CAL_TAU = 64.0
#: confidence quantizer: exp() is engine-libm territory (same class as
#: ln — see _PPL_QZ), so each DISTINCT integer margin's sigmoid is
#: rounded to integer micro-units BEFORE any aggregation; bucketing and
#: the mean-confidence numerator are then exact integer arithmetic.
_CAL_QZ = 1_000_000


@register(
    "q_quality_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN n_chars >= {_PCT_LABEL_CHARS} THEN 1 ELSE -1 END AS y,
             {_pct_apply_score_sql()} AS s
      FROM (SELECT n_chars,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tk
            FROM documents)),
    dist AS (SELECT DISTINCT s FROM scored),
    pm AS (
      SELECT s, CAST(round({_CAL_QZ}.0
               / (1.0 + exp(-CAST(s AS DOUBLE) / {_CAL_TAU}))) AS BIGINT) AS pmicro
      FROM dist),
    b AS (
      SELECT y, pmicro,
             least(pmicro // {_CAL_QZ // 10}, 9) AS bucket
      FROM scored JOIN pm ON scored.s = pm.s),
    g AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(pmicro) AS BIGINT) AS spm,
             CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS npos
      FROM b GROUP BY bucket),
    t AS (SELECT g.*, CAST(sum(n_docs) OVER () AS BIGINT) AS n_total FROM g)
    SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, npos AS n_positive,
           CAST(spm AS DOUBLE) / n_docs / {_CAL_QZ}.0 AS mean_confidence,
           CAST(npos AS DOUBLE) / n_docs AS observed_rate,
           abs(CAST(spm AS DOUBLE) / n_docs / {_CAL_QZ}.0
               - CAST(npos AS DOUBLE) / n_docs) AS abs_gap,
           CAST(n_docs AS DOUBLE) / n_total
             * abs(CAST(spm AS DOUBLE) / n_docs / {_CAL_QZ}.0
                   - CAST(npos AS DOUBLE) / n_docs) AS ece_term
    FROM t
    """,
    doc="Reliability diagram + ECE for the frozen quality classifier "
    "(q_quality_classifier_apply's weights) — completing the "
    "train (q_quality_classifier_train) / apply / CALIBRATE triad for "
    "the TRAINED model, where q_eval_calibration calibrates the "
    "untrained stop-word-density langid proxy: each document's integer "
    "perceptron margin maps through a temperature-64 logistic to a "
    "confidence, documents bucket into 10 confidence bins, and each "
    "bin reports mean confidence vs observed positive rate (the "
    "deterministic length label the classifier was trained against) "
    "plus its Expected-Calibration-Error contribution (sum ece_term "
    "over bins = ECE). This is the instrument a pipeline reads before "
    "thresholding on classifier confidence — accuracy alone doesn't "
    "certify the threshold. Determinism: exp() is libm territory, so "
    "each DISTINCT integer margin's sigmoid quantizes to micro-units "
    "once (<= 2^5 margins exist — bias + 4 binary features), then "
    "bucketing (integer divide), the confidence numerator, and the "
    "positive counts are exact integer arithmetic; the output doubles "
    "are one divide per cell from identical integers. Shape (100 TB): "
    "ONE codegen scan computes margin and label row-locally; the "
    "sigmoid table is O(32) via a distinct-margin agg; the funnel is "
    "an O(10)-row map-side-combined agg and the total rides a window "
    "over those 10 rows. No corpus-scale window, nothing collects.",
)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    y = F.when(F.col("n_chars") >= _PCT_LABEL_CHARS, 1).otherwise(-1).cast("bigint")
    scored = d.select(y.alias("y"), F.expr(_PCT_SCORE).alias("s"))
    dist = scored.select("s").distinct()
    pmicro = F.round(
        F.lit(float(_CAL_QZ))
        / (F.lit(1.0) + F.exp(-F.col("s").cast("double") / F.lit(_CAL_TAU)))
    ).cast("bigint")
    pm = dist.select("s", pmicro.alias("pmicro"))
    b = scored.join(F.broadcast(pm), "s").select(
        "y",
        "pmicro",
        F.least(F.expr(f"pmicro div {_CAL_QZ // 10}"), F.lit(9).cast("bigint")).alias(
            "bucket"
        ),
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("pmicro").cast("bigint").alias("spm"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("bigint").alias("npos"),
    )
    t = g.withColumn(
        "n_total", F.sum("n_docs").over(Window.partitionBy()).cast("bigint")
    )
    conf = F.col("spm").cast("double") / F.col("n_docs") / float(_CAL_QZ)
    rate = F.col("npos").cast("double") / F.col("n_docs")
    gap = F.abs(conf - rate)
    return t.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "n_docs",
        F.col("npos").alias("n_positive"),
        conf.alias("mean_confidence"),
        rate.alias("observed_rate"),
        gap.alias("abs_gap"),
        (F.col("n_docs").cast("double") / F.col("n_total") * gap).alias("ece_term"),
    )


# ---------------------------------------------------------------------------
# Span-corruption planner (r11) — the T5/UL2 pretraining objective's
# data-side report: deterministic span masks over the token stream,
# with the realized corruption rate and span statistics a training
# team tunes the objective against (target ~15% corruption, mean span
# ~3). Masks must be DETERMINISTIC (the multiplicative-hash sampling
# convention of sampling.py) so the plan is reproducible and
# oracle-checkable.

#: a position STARTS a masked span iff its (doc_id, pos) hash falls in
#: 1/_SPAN_START_MOD of the space (5% starts x lookback-3 spans ~ 14%
#: realized corruption after overlap merge — measured in the rung).
_SPAN_START_MOD = 20
#: span length: a position is masked iff ANY of positions [i-2, i]
#: started a span (fixed length 3, overlap-merged by the exists()).
_SPAN_LOOKBACK = 2


def _span_start(j):
    """Deterministic span-start predicate of (doc_id, position j).
    The position term promotes to bigint BEFORE the multiply (r11
    ADVICE): F.sequence yields IntegerType, and j * 40503 in int32
    wraps silently past j ~ 53,021 — a >53k-token document would
    diverge from the DuckDB oracle's 64-bit arithmetic
    (tests/test_r12_semantics.py pins the 64-bit mirror to 60k)."""
    m31 = F.lit(2147483648).cast("bigint")
    return (
        (
            (F.col("doc_id") % m31) * F.lit(2654435761).cast("bigint")
            + j.cast("bigint") * F.lit(40503)
        )
        % m31
        % _SPAN_START_MOD
        == 0
    )


@register(
    "q_span_corruption_plan",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents),
    marked AS (
      SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
             CAST(list_sum(list_transform(range(1, len(tk) + 1),
               i -> CASE WHEN ((doc_id % 2147483648) * 2654435761 + i * 40503)
                              % 2147483648 % {_SPAN_START_MOD} = 0
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_starts,
             CAST(list_sum(list_transform(range(1, len(tk) + 1),
               i -> CASE WHEN len(list_filter(
                      range(greatest(i - {_SPAN_LOOKBACK}, 1), i + 1),
                      j -> ((doc_id % 2147483648) * 2654435761 + j * 40503)
                           % 2147483648 % {_SPAN_START_MOD} = 0)) > 0
                         THEN 1 ELSE 0 END)) AS BIGINT) AS n_masked
      FROM toked WHERE len(tk) >= 1)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok_total,
           CAST(sum(n_masked) AS BIGINT) AS masked_total,
           CAST(sum(n_starts) AS BIGINT) AS span_total,
           CAST(sum(n_masked) AS DOUBLE) / sum(n_tok) AS corruption_rate,
           CAST(sum(n_masked) AS DOUBLE) / greatest(sum(n_starts), 1)
             AS mean_span_len
    FROM marked GROUP BY source
    """,
    doc="Span-corruption planning report (T5/UL2 objective, data side): "
    "every token position deterministically either starts a length-3 "
    "masked span (multiplicative hash of (doc_id, pos) — the "
    "sampling.py convention, 5% of positions) or not; a position is "
    "masked iff any of the last 3 positions started a span (overlap "
    "merges for free in the exists()). Per source: realized "
    "corruption rate and mean merged-span length — the two numbers "
    "tuned against the objective's ~15%/~3 targets; a tokenizer or "
    "corpus change moves them, which is why the report exists. "
    "Determinism: the mask is a pure integer function of (doc_id, "
    "pos), so both engines reproduce every span; all totals are exact "
    "bigint sums, the two ratios are one divide each. Shape (100 TB): "
    "the mask, merge, and per-doc counts are ALL in-array expressions "
    "inside one codegen scan — ZERO token-level shuffle; the only "
    "exchange is the O(sources) map-side-combined agg. Nothing "
    "collects.",
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", "source", F.expr(tokens()).alias("tk")).filter(
        F.size("tk") >= 1
    )
    start = _span_start
    n = F.size(F.col("tk"))
    starts = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n), lambda i: F.when(start(i), 1).otherwise(0)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    masked = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.when(
                F.exists(
                    F.sequence(F.greatest(i - _SPAN_LOOKBACK, F.lit(1)), i),
                    lambda j: start(j),
                ),
                1,
            ).otherwise(0),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    marked = toked.select(
        "source",
        n.cast("bigint").alias("n_tok"),
        starts.alias("n_starts"),
        masked.alias("n_masked"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_total"),
        F.sum("n_masked").cast("bigint").alias("masked_total"),
        F.sum("n_starts").cast("bigint").alias("span_total"),
        (F.sum("n_masked").cast("double") / F.sum("n_tok")).alias("corruption_rate"),
        (
            F.sum("n_masked").cast("double")
            / F.greatest(F.sum("n_starts"), F.lit(1).cast("bigint"))
        ).alias("mean_span_len"),
    )


# ---------------------------------------------------------------------------
# Split-conformal coverage (r11) — distribution-free uncertainty for
# the perplexity scorer: calibrate a per-language score threshold at
# the ceil((n+1)(1-alpha))-th smallest calibration score, then measure
# the coverage it actually delivers on the arrival slice. This is the
# governance instrument behind "flag the weirdest 10% for review":
# conformal calibration is the only way to set that threshold with a
# finite-sample guarantee, and the report shows whether the guarantee
# held out of sample.

#: miscoverage level alpha = 1/10 (exact integer rank arithmetic:
#: k = ceil((n_cal + 1) * 9 / 10), clamped to n_cal)
_CONF_NUM = 9
_CONF_DEN = 10


def _conf_k(n):
    """Calibration rank of a language with ``n`` calibration docs —
    the rank list of both conformal rungs."""
    return F.least(
        F.ceil((n + 1) * _CONF_NUM / F.lit(float(_CONF_DEN))).cast("bigint"),
        n.cast("bigint"),
    )


def _conformal_sql() -> str:
    qz = _PPL_QZ
    return f"""
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents WHERE doc_id % 10 <> 0),
    lm AS (
      SELECT lang, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY lang, token),
    tot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_l, CAST(count(*) AS BIGINT) AS v_l
      FROM lm GROUP BY lang),
    s AS (
      SELECT lm.lang, token,
             CAST(round(ln((CAST(n_l AS DOUBLE) + CAST(v_l AS DOUBLE))
                           / (CAST(c AS DOUBLE) + 1.0)) * {qz}) AS BIGINT)
               AS smicro
      FROM lm JOIN tot ON lm.lang = tot.lang),
    oov AS (
      SELECT lang,
             CAST(round(ln(CAST(n_l + v_l AS DOUBLE)) * {qz}) AS BIGINT) AS oovs
      FROM tot),
    caldoc AS (
      SELECT t.doc_id, t.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(coalesce(smicro, oovs)) AS BIGINT) AS ce_micro
      FROM tok t
      JOIN oov ON t.lang = oov.lang
      LEFT JOIN s ON t.lang = s.lang AND t.token = s.token
      GROUP BY t.doc_id, t.lang),
    atok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents WHERE doc_id % 10 = 0),
    testdoc AS (
      SELECT a.doc_id, a.lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(coalesce(smicro, oovs)) AS BIGINT) AS ce_micro
      FROM atok a
      JOIN oov ON a.lang = oov.lang
      LEFT JOIN s ON a.lang = s.lang AND a.token = s.token
      GROUP BY a.doc_id, a.lang),
    ranked AS (
      SELECT lang, doc_id,
             CAST(ce_micro AS DOUBLE) / {qz}.0 / n_tokens AS logppl,
             row_number() OVER (PARTITION BY lang
               ORDER BY CAST(ce_micro AS DOUBLE) / {qz}.0 / n_tokens, doc_id)
               AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM caldoc),
    thr AS (
      SELECT lang, CAST(max(n) AS BIGINT) AS n_cal,
             CAST(max(least(CAST(ceil((n + 1) * {_CONF_NUM} / {_CONF_DEN}.0)
                              AS BIGINT), n)) AS BIGINT) AS k,
             max(CASE WHEN rn = least(CAST(ceil((n + 1) * {_CONF_NUM}
                        / {_CONF_DEN}.0) AS BIGINT), n) THEN logppl END) AS t1,
             max(CASE WHEN rn = least(CAST(ceil((n + 1) * {_CONF_NUM}
                        / {_CONF_DEN}.0) AS BIGINT), n) THEN doc_id END) AS t1_doc
      FROM ranked GROUP BY lang)
    SELECT d.lang, thr.n_cal, thr.k, thr.t1 AS threshold,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN CAST(ce_micro AS DOUBLE) / {qz}.0 / n_tokens < t1
                          OR (CAST(ce_micro AS DOUBLE) / {qz}.0 / n_tokens = t1
                              AND d.doc_id <= t1_doc)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
           CAST(sum(CASE WHEN CAST(ce_micro AS DOUBLE) / {qz}.0 / n_tokens < t1
                          OR (CAST(ce_micro AS DOUBLE) / {qz}.0 / n_tokens = t1
                              AND d.doc_id <= t1_doc)
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS coverage,
           {_CONF_NUM} / {_CONF_DEN}.0 AS target_coverage
    FROM testdoc d JOIN thr ON d.lang = thr.lang
    GROUP BY d.lang, thr.n_cal, thr.k, thr.t1
    """


@register(
    "q_conformal_ppl_coverage",
    oracle=_conformal_sql(),
    doc="Split-conformal coverage report for the per-language unigram "
    "perplexity scorer: the standing corpus is the calibration set "
    "(model AND calibration scores come from it — the exchangeability "
    "caveat of reusing training data as calibration is documented, "
    "not hidden; a production run holds calibration out), the "
    "threshold is the exact ceil((n+1)*(1-alpha))-th smallest "
    "(logppl, doc_id) calibration pair at alpha = 0.1 — found by the "
    "SAME two-phase distributed selection as the tercile rungs "
    "(_ppl_thresholds with a custom rank list, i.e. "
    "operators/selection.exact_group_quantiles — no corpus-scale window "
    "on the lang key) — and the report measures the coverage that "
    "threshold actually delivers on the held-out arrival slice, next "
    "to the 0.9 target. The lexicographic (logppl, doc_id) compare "
    "makes the decision boundary deterministic cross-engine (arrival "
    "ids are disjoint from calibration ids by the % 10 split). Shape "
    "(100 TB): the model is the vocab-sized hash-agg (unhinted "
    "scoring join — AQE decides); the selection is histogram + "
    "boundary-bin rescan over a PERSISTED caldoc (r12 — the selection "
    "phases and n_cal previously recomputed the corpus-scale scoring "
    "three times; n_cal is the selection's own per-language count); "
    "finalize_bounded materializes the O(langs) report and "
    "releases the cache — the only driver traffic.",
)
def q_conformal_ppl_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    standing = d.filter(F.col("doc_id") % 10 != 0)
    arrivals = d.filter(F.col("doc_id") % 10 == 0)
    tok = _doc_tokens(standing)
    # the vocab table fans out into BOTH scoring joins (calibration and
    # test) and, through tot, the OOV table — persisted so the
    # corpus-scale tokenize+count runs once (r12, guide §2.4/§5; the
    # same fix as streaming_q._capped_lm_parts), released by
    # finalize_bounded with the caldoc cache
    lm = (
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    s, oovtbl = _ppl_lm(lm)

    def score(ts):
        return (
            ts.join(F.broadcast(oovtbl), "lang")
            .join(s, ["lang", "token"], "left")
            .groupBy("doc_id", "lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                F.sum(F.coalesce(F.col("smicro"), F.col("oov")))
                .cast("bigint")
                .alias("ce_micro"),
            )
        )

    # caldoc fans out into the histogram pass AND its boundary-bin
    # rescan (r11 ADVICE: three corpus-scale recomputes with no
    # persist); n_cal comes with the thresholds instead of a separate
    # count pass, and finalize_bounded materializes the O(langs) report
    # while the cache is hot, then releases it
    caldoc = score(tok).persist()
    testdoc = score(_doc_tokens(arrivals))
    thr = _ppl_thresholds(caldoc, ks=[_conf_k])
    covered = _ppl_le("t1")
    report = (
        testdoc.join(F.broadcast(thr), "lang")
        .groupBy(
            "lang",
            "n_cal",
            _conf_k(F.col("n_cal")).alias("k"),
            F.col("t1").alias("threshold"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(covered, 1).otherwise(0)).cast("bigint").alias("n_covered"),
            (
                F.sum(F.when(covered, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("coverage"),
        )
        .withColumn(
            "target_coverage", F.lit(_CONF_NUM).cast("double") / F.lit(float(_CONF_DEN))
        )
    )
    return finalize_bounded(report, caldoc, lm)


@register(
    "q_eval_isotonic",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN n_chars >= {_PCT_LABEL_CHARS} THEN 1 ELSE 0 END AS y,
             {_pct_apply_score_sql()} AS s
      FROM (SELECT n_chars,
                   list_filter(string_split(text, ' '), t -> t <> '') AS tk
            FROM documents)),
    dist AS (SELECT DISTINCT s FROM scored),
    pm AS (
      SELECT s, CAST(round({_CAL_QZ}.0
               / (1.0 + exp(-CAST(s AS DOUBLE) / {_CAL_TAU}))) AS BIGINT) AS pmicro
      FROM dist),
    bkt AS (
      SELECT y, least(pmicro // {_CAL_QZ // 10}, 9) AS bucket
      FROM scored JOIN pm ON scored.s = pm.s),
    g AS MATERIALIZED (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(y) AS BIGINT) AS npos
      FROM bkt GROUP BY bucket),
    rk AS MATERIALIZED (
      SELECT a.bucket, a.n_docs, a.npos,
             CAST(count(*) AS BIGINT) AS rn
      FROM g a JOIN g b ON b.bucket <= a.bucket
      GROUP BY a.bucket, a.n_docs, a.npos),
    seg AS (
      SELECT j.rn AS j, k.rn AS k,
             CAST((sum(m.npos) * 1000000) // sum(m.n_docs) AS BIGINT) AS v
      FROM rk j JOIN rk k ON j.rn <= k.rn
      JOIN rk m ON m.rn BETWEEN j.rn AND k.rn
      GROUP BY j.rn, k.rn),
    inner_min AS (
      SELECT i.rn AS i, s.j, CAST(min(s.v) AS BIGINT) AS mn
      FROM rk i JOIN seg s ON s.j <= i.rn AND s.k >= i.rn
      GROUP BY i.rn, s.j),
    iso AS (
      SELECT i, CAST(max(mn) AS BIGINT) AS iso_rate_micro
      FROM inner_min GROUP BY i)
    SELECT rk.bucket, rk.n_docs, rk.npos AS n_positive,
           CAST((rk.npos * 1000000) // rk.n_docs AS BIGINT) AS raw_rate_micro,
           iso.iso_rate_micro
    FROM rk JOIN iso ON iso.i = rk.rn
    ORDER BY rk.bucket
    """,
    doc="Isotonic-regression calibration of the frozen quality "
    "classifier — the CORRECTION step after q_quality_calibration's "
    "diagnosis (ECE measures miscalibration; isotonic/PAVA is the "
    "standard nonparametric fix a pipeline fits on held-out labels "
    "before trusting thresholds): over the same 10 confidence "
    "buckets, the isotonic fit of observed positive rate via the "
    "MINIMAX identity iso_i = max_(j<=i) min_(k>=i) "
    "weightedmean(pos, n over buckets j..k) — equivalent to "
    "pool-adjacent-violators, but expressible as two grouped "
    "aggregates over the O(B^3) (j, i, k) segment enumeration of the "
    "TINY bin table instead of a sequential pooling loop. Exactness: "
    "each segment mean floor-quantizes to micro BEFORE the minimax; "
    "floor commutes with both min and max, so the result is exactly "
    "floor(1e6 * true PAVA value) — gated against a Fraction-exact "
    "Python PAVA. Monotonicity of the output is gated too. Shape "
    "(100 TB): the corpus-scale work is ONE codegen scan + the O(32) "
    "sigmoid table + one O(10) hash-agg (identical to the ECE rung); "
    "everything after operates on <= 10 rows — the segment join is "
    "O(B^3) = 1000 micro-rows, a constant.",
)
def q_eval_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    y = F.when(F.col("n_chars") >= _PCT_LABEL_CHARS, 1).otherwise(0).cast("bigint")
    scored = d.select(y.alias("y"), F.expr(_PCT_SCORE).alias("s"))
    dist = scored.select("s").distinct()
    pmicro = F.round(
        F.lit(float(_CAL_QZ))
        / (F.lit(1.0) + F.exp(-F.col("s").cast("double") / F.lit(_CAL_TAU)))
    ).cast("bigint")
    pm = dist.select("s", pmicro.alias("pmicro"))
    bkt = scored.join(F.broadcast(pm), "s").select(
        "y",
        F.least(F.expr(f"pmicro div {_CAL_QZ // 10}"), F.lit(9).cast("bigint")).alias(
            "bucket"
        ),
    )
    # the O(10) bin table feeds FIVE downstream consumers (rank join,
    # segment enumeration, spine, minimax, final report); without a
    # materialization each consumer re-expands the corpus scan — 20
    # scans at 100 TB. localCheckpoint pins the 10 rows once.
    g = (
        bkt.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("npos"),
        )
        .localCheckpoint()
    )
    ga = g.select(F.col("bucket").alias("b2"))
    rk = (
        g.join(F.broadcast(ga), F.col("b2") <= F.col("bucket"))
        .groupBy("bucket", "n_docs", "npos")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rn"))
    )
    rj = rk.select(F.col("rn").alias("j"))
    rkk = rk.select(F.col("rn").alias("k"))
    rm = rk.select(
        F.col("rn").alias("m"),
        F.col("n_docs").alias("mn_docs"),
        F.col("npos").alias("mnpos"),
    )
    seg = (
        rj.crossJoin(F.broadcast(rkk))
        .filter(F.col("j") <= F.col("k"))
        .crossJoin(F.broadcast(rm))
        .filter((F.col("m") >= F.col("j")) & (F.col("m") <= F.col("k")))
        .groupBy("j", "k")
        .agg(
            F.expr("cast((sum(mnpos) * 1000000) div sum(mn_docs) as bigint)").alias(
                "v"
            )
        )
    )
    ri = rk.select(F.col("rn").alias("i"))
    inner_min = (
        ri.crossJoin(F.broadcast(seg))
        .filter((F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("v").cast("bigint").alias("mn"))
    )
    iso = inner_min.groupBy("i").agg(
        F.max("mn").cast("bigint").alias("iso_rate_micro")
    )
    return (
        rk.join(iso, rk.rn == iso.i)
        .select(
            "bucket",
            "n_docs",
            F.col("npos").alias("n_positive"),
            F.expr("cast((npos * 1000000) div n_docs as bigint)").alias(
                "raw_rate_micro"
            ),
            "iso_rate_micro",
        )
        .orderBy("bucket")
    )
