"""Text-analysis queries over the ``documents`` table (north-star ops).

Language-ID, quality scoring, token counting, and document
fingerprinting — the per-document scoring passes an LLM training-data
pipeline runs before filtering/dedup. Everything is built from
``azurestorage_blueprints_spark.functions.text``'s Spark SQL text (one
py4j command per expression, JVM-side codegen); nothing collects to
the driver, so each query is a single scan + narrow projection (or one
hash-agg) at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.functions import text as X
from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.queries.curation import (
    _sql_lang_guess,
    _sql_lang_score,
    _sql_word_set_count,
)
from azurestorage_blueprints_spark.tables import table


@register(
    "q_text_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_tokens,
           CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
             / count(*) AS avg_tokens,
           max(n_chars) AS max_chars
    FROM documents GROUP BY lang
    """,
    doc="Token counting (whitespace tokenizer) aggregated per language.",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tc = F.expr(X.token_count())
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tc).alias("total_tokens"),
        (F.sum(tc).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_actual,
           len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST({_sql_word_set_count(X.STOPWORDS)} AS DOUBLE)
             / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS stopword_ratio,
           CAST(length(text) AS DOUBLE)
             / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS chars_per_token
    FROM documents
    """,
    doc="Per-document quality scoring: length, punctuation ratio, stopword ratio, "
    "chars-per-token — the standard cheap heuristics for corpus filtering.",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tc = F.expr(X.token_count())
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        tc.alias("n_tokens"),
        F.expr(X.punct_ratio()).alias("punct_ratio"),
        F.expr(X.stopword_ratio()).alias("stopword_ratio"),
        (F.length("text").cast("double") / F.greatest(tc, F.lit(1)).cast("double")).alias(
            "chars_per_token"
        ),
    )


@register(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {_sql_lang_guess()} AS guessed_lang,
           ({_sql_lang_score('en')}) AS score_en,
           ({_sql_lang_score('de')}) AS score_de
    FROM documents
    """,
    doc="Language-ID heuristic: marker-word occurrence scores per language, "
    "deterministic argmax. (The corpus is synthetic so accuracy is not the "
    "point — the operator shape is.)",
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = X.lang_scores()
    return table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "lang AS labeled_lang",
        f"{X.lang_guess()} AS guessed_lang",
        f"{scores['en']} AS score_en",
        f"{scores['de']} AS score_de",
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (h, c) -> (h * 31 + c) % 2147483647) AS fingerprint
    FROM documents
    """,
    doc="Rolling polynomial document fingerprint (h*31+code mod 2^31-1): "
    "order-sensitive content hash for exact-dup detection and shingling; the "
    "explicit left-fold is bit-identical in both engines.",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", F.expr(X.char_fold("text")).alias("fingerprint"))


@register(
    "q_text_type_token_ratio",
    oracle="""
    SELECT doc_id,
           len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS n_unique_tokens,
           len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS DOUBLE)
             / greatest(len(list_filter(string_split(text, ' '), t -> t <> '')), 1) AS type_token_ratio
    FROM documents
    """,
    doc="Type-token ratio (vocabulary diversity) via array_distinct — a repetition "
    "signal used for low-quality/spammy document filtering.",
)
def q_text_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.expr(X.tokens())
    uniq = F.size(F.array_distinct(toks))
    n = F.size(toks)
    return d.select(
        "doc_id",
        uniq.alias("n_unique_tokens"),
        n.alias("n_tokens"),
        (uniq.cast("double") / F.greatest(n, F.lit(1)).cast("double")).alias("type_token_ratio"),
    )


@register(
    "q_multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_md5,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           substr(text, 1, 8) AS head
    FROM documents
    """,
    doc="Multimodal binary-column plumbing: payloads as opaque bytes with typed "
    "metadata (checksum, size, magic-bytes head). The decode path for real "
    "image/audio lives in operators/multimodal.py (mapInPandas).",
)
def q_multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.md5(payload).alias("content_md5"),
        F.length(payload).alias("n_bytes"),
        F.substring("text", 1, 8).alias("head"),
    )


@register(
    "q_text_doc_frequency",
    oracle="""
    WITH posting AS (
      SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      FROM documents),
    totals AS (SELECT count(*) AS n_docs FROM documents)
    SELECT term,
           count(*) AS doc_freq,
           CAST(count(*) AS DOUBLE) / max(t.n_docs) AS doc_frac
    FROM posting, totals t
    GROUP BY term
    HAVING count(*) >= 50
    """,
    doc="Vocabulary document-frequency table (the integer half of TF-IDF — "
    "idf's log stays out of oracle-checked paths per the determinism "
    "contract): explode distinct terms per doc → count docs per term. At "
    "100 TB this is the standard map-side-combined posting count; the "
    "HAVING keeps only corpus-level terms.",
)
def q_text_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    posting = (
        d.select("doc_id", F.expr(X.tokens()).alias("tk"))
        .select("doc_id", F.explode(F.array_distinct("tk")).alias("term"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        posting.groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 50)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term",
            "doc_freq",
            (F.col("doc_freq").cast("double") / F.col("n_docs")).alias("doc_frac"),
        )
    )


@register(
    "q_text_bigrams",
    oracle="""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
      FROM documents),
    bigrams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM toked WHERE len(toks) >= 2)
    SELECT bigram, count(*) AS n
    FROM bigrams
    GROUP BY bigram
    HAVING count(*) >= 20
    """,
    doc="Bigram frequency table (n-gram language-model counts): word_shingles "
    "with k=2 over materialized token arrays → explode → hash-agg; the same "
    "shingle machinery the MinHash dedup path uses.",
)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.expr(X.tokens()).alias("tk")).filter(
        F.size("tk") >= 2
    )
    bigrams = toked.select(
        F.explode(F.expr(X.word_shingles("tk", 2))).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 20)
    )


@register(
    "q_pipeline_corpus_curation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
             CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS punct_ratio
      FROM documents),
    quality AS (
      SELECT * FROM scored WHERE n_tokens >= 10 AND punct_ratio <= 0.10),
    deduped AS (
      SELECT min(doc_id) AS doc_id, min(source) AS source,
             min(n_tokens) AS n_tokens
      FROM quality GROUP BY md5(text))
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
    FROM deduped GROUP BY source
    """,
    doc="End-to-end corpus curation — the composed pipeline an LLM "
    "training-data run executes as ONE Catalyst plan: quality gate "
    "(token count + punctuation ratio) → exact dedup on content "
    "(min-doc_id representative) → per-source corpus statistics. "
    "Single scan, two shuffles (dedup key, final group), no "
    "materialization between stages.",
)
def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tc = F.expr(X.token_count())
    scored = d.select(
        "doc_id", "source", "text",
        tc.alias("n_tokens"),
        F.expr(X.punct_ratio()).alias("punct_ratio"),
    )
    quality = scored.filter((F.col("n_tokens") >= 10) & (F.col("punct_ratio") <= 0.10))
    # dedup key is a 64-bit content fingerprint, never the document itself:
    # at 100 TB the exchange shuffles 8-byte keys instead of whole texts
    deduped = quality.groupBy(F.xxhash64("text").alias("content_fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("source").alias("source"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


@register(
    "q_text_bpe_tokens",
    oracle=r"""
    SELECT lang,
           CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(list_filter(
                   string_split(regexp_replace(text, '([^a-zA-Z0-9 ])', ' \1 ', 'g'), ' '),
                   t -> t <> ''))) AS BIGINT) AS bpe_ish_tokens,
           CAST(sum(len(list_filter(
                   string_split(regexp_replace(text, '([^a-zA-Z0-9 ])', ' \1 ', 'g'), ' '),
                   t -> t <> ''))) AS DOUBLE)
             / sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS fertility
    FROM documents GROUP BY lang
    """,
    doc="Sub-word token accounting: whitespace tokens vs BPE-ish segmentation "
    "(punctuation split into separate tokens) and the fertility ratio between "
    "them — the number a data pipeline needs to convert corpus size into "
    "training-token budget. Pure codegen regexp/split projections, one "
    "hash-agg; the regex lives in the Java-RE2 common subset so the DuckDB "
    "oracle runs the identical segmentation.",
)
def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    ws = F.expr(X.token_count())
    bpe = F.size(F.expr(X.bpe_ish_tokens()))
    return d.groupBy("lang").agg(
        F.sum(ws).alias("ws_tokens"),
        F.sum(bpe).alias("bpe_ish_tokens"),
        (F.sum(bpe).cast("double") / F.sum(ws)).alias("fertility"),
    )


@register(
    "q_text_tfidf_topterms",
    oracle="""
    WITH toked AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toked GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (term), n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
    doc="Per-document top-3 TF-IDF terms — the classic salient-term "
    "extractor (keyword tagging, topic labeling of training corpora). "
    "Shape: explode tokens → (doc,term) hash-agg → term-level df agg "
    "joined back on term (hash equi-join on the term key, skew-safe under "
    "AQE), ranking window partitioned by doc_id. The idf ln() rounds to 6 "
    "decimals on both engines (libm ULP divergence); ranking happens on "
    "the rounded score with a term tie-break so order is deterministic.",
)
def q_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    toked = d.select("doc_id", F.explode(F.expr(X.tokens())).alias("term"))
    tf = toked.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


@register(
    "q_naive_bayes_tokens",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS n
      FROM tok GROUP BY source, tok
    ),
    tot AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS n_source FROM cnt GROUP BY source
    ),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tok),
    ranked AS (
      SELECT source, tok, n,
             row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rnk
      FROM cnt
    )
    SELECT r.source, r.tok AS token, r.n AS n_token, t.n_source, vocab.v AS vocab_size,
           CAST(r.n + 1 AS DOUBLE) / CAST(t.n_source + vocab.v AS DOUBLE) AS p_laplace
    FROM ranked r JOIN tot t ON r.source = t.source, vocab
    WHERE r.rnk <= 10
    """,
    doc="Naive-Bayes token model training (the classifier a curation "
    "pipeline fits to route documents by source/domain): per-(source, "
    "token) counts, per-source totals, corpus vocabulary size, and the "
    "Laplace-smoothed class-conditional probability (n+1)/(N_c + V) for "
    "each source's top-10 tokens (ties broken by token). All model "
    "parameters are EXACT integers — the smoothed probability is the "
    "only derived double, from identical exact inputs via a shared "
    "formula; log-space conversion belongs to the consumer (engine libm "
    "logs are not cross-engine stable — determinism contract). Shape: "
    "one token hash-agg (map-side combined — the count table, not the "
    "token stream, shuffles), per-source totals fold from the count "
    "table — which persists across its three consumers and is released "
    "by finalize_bounded once the bounded report materializes — "
    "vocabulary is one distinct count over it, and the top-10 window "
    "partitions by source. At 100 TB nothing larger than the "
    "(source x token) count table ever moves.",
)
def q_naive_bayes_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(F.expr(X.tokens())).alias("tok"))
    # the (source, token) count table feeds THREE consumers (totals,
    # vocabulary, ranking); persist it so the scan+tokenize+explode
    # runs once — it is the map-side-combined reduction of the token
    # stream, O(sources x vocab) rows at any corpus size — and release
    # it once the bounded top-10-per-source report materializes
    cnt = (
        tok.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .persist()
    )
    tot = cnt.groupBy("source").agg(F.sum("n").cast("bigint").alias("n_source"))
    vocab = cnt.select("tok").distinct().agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    w = W.partitionBy("source").orderBy(F.desc("n"), "tok")
    out = (
        cnt.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            F.col("tok").alias("token"),
            F.col("n").alias("n_token"),
            "n_source",
            F.col("v").alias("vocab_size"),
            (
                (F.col("n") + F.lit(1)).cast("double")
                / (F.col("n_source") + F.col("v")).cast("double")
            ).alias("p_laplace"),
        )
    )
    from azurestorage_blueprints_spark.queries import finalize_bounded

    return finalize_bounded(out, cnt)


def _ship_mm():
    """The codec module ``operators/multimodal.py``, registered with
    cloudpickle to pickle by value. A plain driver session has no repo
    on the workers' ``sys.path``, so worker closures that call codec
    functions carry the module with them — the standard way to ship a
    small UDF library without an ``sc.addPyFile`` step."""
    import azurestorage_blueprints_spark.operators.multimodal as MM
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(MM)
    return MM


def _encode_stage(e: DataFrame, payload) -> DataFrame:
    """One Arrow-batched pass over ``embeddings``: each vector ``a``
    becomes the binary ``content`` ``payload(a)``."""

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            out = [payload(a) for a in pdf["embedding"]]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "content": out})

    return e.select("vec_id", "embedding").mapInPandas(enc, "vec_id long, content binary")


def _image_roundtrip(spark: SparkSession, sf_dir: str, encoder: str) -> DataFrame:
    """Each embedding as an 8x8 gray image through ``MM.<encoder>``,
    decoded back by ``MM.decode_image``, reported as dimensions plus the
    RGB byte sum: three Arrow-batched stages and no shuffle."""
    MM = _ship_mm()
    gray8, encode = MM.gray8, getattr(MM, encoder)
    e = table(spark, sf_dir, "embeddings")
    images = _encode_stage(e, lambda a: encode(8, 8, gray8(a).repeat(3).tobytes()))

    def checksum(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            s = [
                int(np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64).sum())
                if ok
                else None
                for px, ok in zip(pdf["pixels"], pdf["ok"])
            ]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["content_id"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "px_checksum": pd.array(s, dtype="Int64"),
                }
            )

    return MM.decode_image(images, id_col="vec_id").mapInPandas(
        checksum, "vec_id long, width int, height int, px_checksum long"
    )


def _jpeg_gate(spark: SparkSession, sf_dir: str, encoder: str, verdict: str) -> DataFrame:
    """One Arrow-batched pass: each embedding's 8x8 gray image through
    both the baseline ``encode_jpeg`` and ``MM.<encoder>``, each decoded
    by ``decode_jpeg``; the ``verdict`` column says whether both decodes
    agree bit for bit."""
    MM = _ship_mm()
    gray8, dec = MM.gray8, MM.decode_jpeg
    enc_base, enc_other = MM.encode_jpeg, getattr(MM, encoder)

    e = table(spark, sf_dir, "embeddings")

    def gate(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                rgb = gray8(vec).repeat(3).tobytes()
                base = dec(enc_base(8, 8, rgb))
                w, h, px = dec(enc_other(8, 8, rgb))
                rows.append((int(vid), w, h, base == (w, h, px)))
            yield pd.DataFrame(rows, columns=["vec_id", "width", "height", verdict])

    return e.select("vec_id", "embedding").mapInPandas(
        gate, f"vec_id long, width int, height int, {verdict} boolean"
    ).orderBy("vec_id")


def _video_codec(MM):
    """Per-row video functions of the video rungs and the ingest gate:
    ``pack(a)`` splits a vector into four 16-dim frames, quantizes each
    with ``gray8`` and stores it as a 4x4 PPM in the ``VID0`` container;
    ``ahash(frame)`` decodes one PPM frame and returns its 16-bit
    average hash (bit i set when pixel i is above the frame mean)."""
    import numpy as np

    gray8, encode_ppm, decode_ppm = MM.gray8, MM.encode_ppm, MM.decode_ppm
    encode_video = MM.encode_video

    def pack(a):
        frames = [gray8(a[f * 16 : (f + 1) * 16]).repeat(3).tobytes() for f in range(4)]
        return encode_video([encode_ppm(4, 4, rgb) for rgb in frames])

    def ahash(frame):
        g = np.frombuffer(decode_ppm(frame)[2], dtype=np.uint8)[::3].astype(np.float64)
        bits = (g > g.mean()).astype(np.uint64)
        return int((bits << np.arange(16, dtype=np.uint64)).sum())

    return pack, ahash


#: oracle of the lossless gray-image round-trips (GIF, PNG, BMP): the
#: RGB checksum is three times the sum of the half-up gray quantization
_GRAY_CHECKSUM_SQL = """
    WITH g AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    stats AS (
      SELECT vec_id, v,
             list_min(v) AS lo, list_max(v) AS hi
      FROM g
    )
    SELECT vec_id, 8 AS width, 8 AS height,
           CAST(3 * list_sum(list_transform(v, x ->
                 CASE WHEN hi > lo
                      THEN CAST(floor((x - lo) * (255.0 / (hi - lo)) + 0.5) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS px_checksum
    FROM stats
    """

#: the WAV rungs' ``s`` CTE: each embedding as clamped half-up 16-bit
#: PCM, the SQL twin of ``MM.pcm16``
_PCM_CTE = """
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(greatest(-32768.0, least(32767.0,
                    floor(CAST(x AS DOUBLE) * 10000.0 + 0.5))) AS BIGINT)) AS pcm
      FROM embeddings
    )"""


@register(
    "q_multimodal_gif_roundtrip",
    oracle=_GRAY_CHECKSUM_SQL,
    doc="End-to-end GIF codec round-trip as an ORACLE-CHECKED query — "
    "the multimodal tier's proof that a compressed binary column "
    "survives encode -> store -> decode bit-exactly: embeddings "
    "quantize to 8x8 grayscale (floor(x+0.5) half-up — the repo's "
    "portable quantizer, NOT numpy banker's rounding), compress "
    "through the real hand-rolled GIF LZW encoder, decode back through "
    "the decode_image dispatch (operators/multimodal.py decode_gif), "
    "and report per-image RGB checksums that DuckDB reproduces "
    "ARITHMETICALLY from the embeddings — any codec bug (palette "
    "order, LZW width bump, sub-block framing) breaks the hash. All "
    "three Python stages are Arrow-batched mapInPandas; the codec "
    "module ships to workers by value (cloudpickle "
    "register_pickle_by_value) exactly as a production job ships its "
    "UDF library. Per-image work is O(pixels); no shuffle anywhere — "
    "embarrassingly parallel over payload partitions at 100 TB.",
)
def q_multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_roundtrip(spark, sf_dir, "encode_gif")


@register(
    "q_text_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS labeled_lang, {_sql_lang_guess()} AS guessed_lang
      FROM documents
    ),
    cells AS (
      SELECT labeled_lang, guessed_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY labeled_lang, guessed_lang
    )
    SELECT labeled_lang, guessed_lang, n_docs,
           CAST(n_docs AS DOUBLE)
             / CAST(sum(n_docs) OVER (PARTITION BY labeled_lang) AS DOUBLE) AS row_share
    FROM cells
    """,
    doc="Language-ID confusion matrix: the evaluation harness for "
    "q_text_langid run as a query — per (labeled, guessed) language "
    "cell, document counts and the row-normalized share (per-label "
    "recall lives on the diagonal). This is how a curation pipeline "
    "audits its router before trusting it to split a corpus. One "
    "hash-agg to O(|langs|^2) cells; the share window runs over those "
    "cells, not the corpus; exact integers everywhere but the final "
    "shared-text division.",
)
def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    cells = (
        d.select(
            F.col("lang").alias("labeled_lang"),
            F.expr(X.lang_guess()).alias("guessed_lang"),
        )
        .groupBy("labeled_lang", "guessed_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    tot = F.sum("n_docs").over(W.partitionBy("labeled_lang"))
    return cells.select(
        "labeled_lang",
        "guessed_lang",
        "n_docs",
        (F.col("n_docs").cast("double") / tot.cast("double")).alias("row_share"),
    )


@register(
    "q_multimodal_wav_roundtrip",
    oracle=f"""{_PCM_CTE}
    SELECT vec_id,
           8000 AS sample_rate,
           1 AS n_channels,
           CAST(len(pcm) AS BIGINT) AS n_samples,
           CAST(len(pcm) AS DOUBLE) / 8000.0 AS duration_s,
           sqrt(CAST(list_sum(list_transform(pcm, v -> v * v)) AS DOUBLE)
                / CAST(len(pcm) AS DOUBLE)) AS rms,
           CAST(len(list_filter(range(1, len(pcm)),
                    i -> (pcm[i] < 0) <> (pcm[i + 1] < 0))) AS BIGINT) AS zero_crossings
    FROM s
    """,
    doc="End-to-end WAV codec round-trip as an ORACLE-CHECKED query — "
    "the audio sibling of q_multimodal_gif_roundtrip, completing the "
    "image/GIF/audio trio: embeddings quantize to 16-bit PCM "
    "(floor(x*1e4+0.5), clamped — the portable half-up quantizer, not "
    "numpy banker's rounding), pack through the real RIFF/WAVE "
    "encoder, decode back through extract_audio_features' chunk walk, "
    "and the reported waveform features (sample count, duration, RMS, "
    "zero crossings) are reproduced ARITHMETICALLY by DuckDB from the "
    "embeddings. RMS hash-matches because the squared samples are "
    "integers below 2^53 — their float64 sum is exact in ANY "
    "accumulation order — and sqrt is correctly rounded on both "
    "engines. Any RIFF framing or PCM byte-order bug breaks the hash. "
    "Both Python stages are Arrow-batched mapInPandas; no shuffle "
    "anywhere — embarrassingly parallel over payload partitions.",
)
def q_multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    MM = _ship_mm()
    encode_wav, pcm16 = MM.encode_wav, MM.pcm16
    e = table(spark, sf_dir, "embeddings")
    wavs = _encode_stage(e, lambda a: encode_wav(8000, pcm16(a)))
    feats = MM.extract_audio_features(wavs, id_col="vec_id")
    return feats.select(
        F.col("content_id").alias("vec_id"),
        "sample_rate",
        "n_channels",
        F.col("n_samples").cast("bigint").alias("n_samples"),
        "duration_s",
        "rms",
        F.col("zero_crossings").cast("bigint").alias("zero_crossings"),
    )


@register(
    "q_compression_ratio_profile",
    oracle=None,  # zlib output sizes are library-version specific —
    # rows-only; determinism + ordering sanity gated in tests/test_sketches.py
    doc="Compression-ratio quality profile per source: DEFLATE "
    "(stdlib zlib, level 9) each document in an Arrow-batched "
    "mapInPandas pass and aggregate exact byte totals per source — "
    "compressibility is the classic redundancy/boilerplate signal "
    "(highly compressible sources are template farms; incompressible "
    "ones are often binary junk or high-entropy spam), used alongside "
    "the Gopher/C4 rule filters. Everything after the per-document "
    "compressed size is exact integer arithmetic (byte sums, doc "
    "counts), so the result is deterministic for a fixed zlib — but "
    "zlib output is library-version specific, hence rows-only. Shape: "
    "one Python pass over payload partitions (compressed sizes are "
    "8-byte ints, text never shuffles), one map-side-combined agg.",
)
def q_compression_ratio_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")

    def comp(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [len(t.encode("utf-8")) for t in pdf["text"]]
            comp_n = [len(zlib.compress(t.encode("utf-8"), 9)) for t in pdf["text"]]
            yield pd.DataFrame(
                {"source": pdf["source"], "raw_bytes": raw, "comp_bytes": comp_n}
            )

    sized = d.select("source", "text").mapInPandas(
        comp, "source string, raw_bytes long, comp_bytes long"
    )
    return sized.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("raw_bytes").cast("bigint").alias("total_raw_bytes"),
        F.sum("comp_bytes").cast("bigint").alias("total_comp_bytes"),
        (
            F.sum("comp_bytes").cast("double") / F.sum("raw_bytes").cast("double")
        ).alias("compression_ratio"),
    )


@register(
    "q_multimodal_video_frames",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    frames AS (
      SELECT vec_id, CAST(unnest([0, 2]) AS BIGINT) AS frame_idx, v
      FROM e
    ),
    sliced AS (
      SELECT vec_id, frame_idx, v[frame_idx * 16 + 1 : frame_idx * 16 + 16] AS fv
      FROM frames
    ),
    quant AS (
      SELECT vec_id, frame_idx,
             CASE WHEN list_max(fv) > list_min(fv)
                  THEN list_transform(fv, x -> CAST(floor(
                         (x - list_min(fv)) * (255.0 / (list_max(fv) - list_min(fv)))
                         + 0.5) AS BIGINT))
                  ELSE list_transform(fv, x -> CAST(0 AS BIGINT)) END AS g
      FROM sliced
    ),
    hashed AS (
      SELECT vec_id, frame_idx, g,
             CAST(list_sum(g) AS DOUBLE) / 16.0 AS mu
      FROM quant
    )
    SELECT vec_id, frame_idx, 4 AS width, 4 AS height,
           CAST(list_sum(list_transform(range(1, 17),
                i -> CASE WHEN g[i] > mu THEN CAST(2 AS BIGINT) ** (i - 1)
                          ELSE 0 END)) AS BIGINT) AS frame_ahash
    FROM hashed
    """,
    doc="End-to-end VIDEO frame pipeline as an ORACLE-CHECKED query — "
    "the fourth multimodal tier next to the image/GIF/audio "
    "round-trips: each embedding packs into a length-prefixed "
    "container of four 4x4 grayscale PPM frames (16 dims per frame, "
    "per-frame min-max quantization with the portable half-up "
    "formula), the sampling stage extracts every 2nd frame (the "
    "one-row-to-many mapInPandas shape a real frame extractor uses), "
    "each sampled frame decodes through the P6 parser and hashes to a "
    "16-bit average-hash — and DuckDB reproduces every hash "
    "ARITHMETICALLY from the embeddings (integer bit sums; the g > "
    "mean comparison is exact-int vs an exactly-representable "
    "/16 mean). Any container-framing, sampling-stride, or decode bug "
    "breaks the value hash. Zero shuffles: both Python stages are "
    "Arrow-batched and partition-local at any corpus size.",
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    MM = _ship_mm()
    pack, ahash = _video_codec(MM)
    decode_video = MM.decode_video
    vids = _encode_stage(table(spark, sf_dir, "embeddings"), pack)

    def sample_and_hash(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for vid, b in zip(pdf["vec_id"], pdf["content"]):
                for f, frame in enumerate(decode_video(bytes(b))):
                    if f % 2 != 0:  # sample every 2nd frame
                        continue
                    ids.append(vid)
                    idxs.append(f)
                    hashes.append(ahash(frame))
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "frame_idx": idxs,
                    "width": [4] * len(ids),
                    "height": [4] * len(ids),
                    "frame_ahash": pd.array(hashes, dtype="int64"),
                }
            )

    return vids.mapInPandas(
        sample_and_hash,
        "vec_id long, frame_idx long, width int, height int, frame_ahash long",
    )


#: feature-hashing bucket count (the "hashing trick" vectorizer width);
#: small enough that collisions are observable at test SF, a power of
#: two like production vectorizer widths
_FEAT_HASH_BUCKETS = 512


@register(
    "q_text_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    hashed AS (
      SELECT tok,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 2147483647) % {_FEAT_HASH_BUCKETS} AS bucket
      FROM toks
    ),
    b AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
      FROM hashed GROUP BY bucket
    )
    SELECT bucket, n_tokens, n_distinct_tokens,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_buckets_used
    FROM b
    ORDER BY n_tokens DESC, bucket
    LIMIT 20
    """,
    doc="Feature hashing (the hashing-trick vectorizer): every token "
    "maps to one of 512 feature buckets through the repo's portable "
    "polynomial string hash (h*31+code mod 2^31-1, the "
    "q_text_fingerprint fold — NEVER an engine-native hash, which is "
    "what forces murmur3-based rungs like MinHash-LSH to rows-only "
    "checks), and the report is the collision profile a feature "
    "pipeline audits before trusting hashed features: the top-20 "
    "hottest buckets by token load, distinct tokens sharing each "
    "(the collision count), and how many of the 512 buckets are "
    "occupied. All counts exact integers. Shape: tokenize + fold + "
    "bucket stay inside one codegen'd projection over the scan; the "
    "only fact-scale exchange carries (bucket, token) pairs into a "
    "map-side-combined agg bounded by vocabulary, not corpus; the "
    "bucket report is 512 rows at ANY corpus size.",
)
def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.expr(X.tokens())).alias("tok"))
    b = (
        tok.selectExpr("tok", f"{X.char_fold('tok')} % {_FEAT_HASH_BUCKETS} AS bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.countDistinct("tok").cast("bigint").alias("n_distinct_tokens"),
        )
        .persist()
    )
    total = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"))
    out = (
        b.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_tokens"), "bucket")
        .limit(20)
    )
    from azurestorage_blueprints_spark.queries import finalize_bounded

    return finalize_bounded(out, b)


#: audio analysis frame size (samples per frame) for the frame-energy
#: profile — 16 samples = 2 ms at the fixture's 8 kHz rate
_WAV_FRAME = 16


@register(
    "q_multimodal_wav_frame_energy",
    oracle=f"""{_PCM_CTE},
    f AS (
      SELECT vec_id,
             list_transform(
               range(0, CAST(ceil(len(pcm) / {_WAV_FRAME}.0) AS BIGINT)),
               j -> CAST(list_sum(list_transform(
                      list_slice(pcm, j * {_WAV_FRAME} + 1, j * {_WAV_FRAME} + {_WAV_FRAME}),
                      v -> v * v)) AS BIGINT)) AS fe
      FROM s
    )
    SELECT vec_id,
           CAST(len(fe) AS BIGINT) AS n_frames,
           CAST(list_position(fe, list_max(fe)) - 1 AS BIGINT) AS peak_frame_idx,
           CAST(list_max(fe) AS BIGINT) AS peak_energy,
           CAST(list_sum(fe) AS BIGINT) AS total_energy
    FROM f
    """,
    doc="Frame-level audio energy profile through the REAL WAV codec "
    "path — the frame-sample operation of the multimodal tier applied "
    "to audio: embeddings quantize to 16-bit PCM (identical half-up "
    "clamp as q_multimodal_wav_roundtrip), pack through encode_wav, "
    "decode back through the RIFF chunk walk, then each clip splits "
    "into 16-sample analysis frames whose energies (sum of squared "
    "samples — exact int64, bounded by 16 * 32768^2 per frame) locate "
    "the loudest frame: the voice-activity / silence-trim primitive an "
    "audio curation pipeline runs before feature extraction. Peak "
    "frame takes the FIRST argmax (list_position semantics = "
    "np.argmax), so ties are deterministic. DuckDB reproduces every "
    "number arithmetically from the embeddings — any framing, "
    "byte-order, or chunk-alignment bug in the codec breaks the hash. "
    "Both Python stages are Arrow-batched mapInPandas; no shuffle "
    "anywhere — embarrassingly parallel over payload partitions.",
)
def q_multimodal_wav_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    MM = _ship_mm()
    encode_wav, decode_wav, pcm16 = MM.encode_wav, MM.decode_wav, MM.pcm16
    frame = _WAV_FRAME

    e = table(spark, sf_dir, "embeddings")
    wavs = _encode_stage(e, lambda a: encode_wav(8000, pcm16(a)))

    def energies(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for vid, payload in zip(pdf["vec_id"], pdf["content"]):
                _rate, _nch, samples = decode_wav(bytes(payload))
                ch0 = samples[:, 0].astype(np.int64)
                n_frames = -(-len(ch0) // frame)
                padded = np.zeros(n_frames * frame, dtype=np.int64)
                padded[: len(ch0)] = ch0
                fe = (padded * padded).reshape(n_frames, frame).sum(axis=1)
                out.append(
                    (
                        vid,
                        int(n_frames),
                        int(np.argmax(fe)),
                        int(fe.max()),
                        int(fe.sum()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "vec_id", "n_frames", "peak_frame_idx",
                    "peak_energy", "total_energy",
                ],
            )

    return wavs.mapInPandas(
        energies,
        "vec_id long, n_frames long, peak_frame_idx long,"
        " peak_energy long, total_energy long",
    )


@register(
    "q_multimodal_jpeg_roundtrip",
    oracle=None,  # JPEG is LOSSY: decoded pixels depend on the codec's
    # DCT/quantization arithmetic, which no SQL oracle reproduces —
    # rows-only here; the codec itself is pinned byte-exact against a
    # libjpeg-produced fixture in tests/test_jpeg_codec.py
    doc="End-to-end baseline-JPEG round-trip through the REAL "
    "hand-rolled codec (operators/multimodal.py decode_jpeg/"
    "encode_jpeg — canonical Huffman + exact float64 DCT/IDCT, "
    "4:2:0-capable, cross-validated against libjpeg within ±2/pixel "
    "and byte-pinned in tests/test_jpeg_codec.py): embeddings "
    "quantize to 8x8 grayscale, compress through encode_jpeg "
    "(quality 75, 4:4:4), decode back through the decode_image "
    "dispatch, and report per-image dimensions, compressed size, and "
    "pixel checksum. Rows-only BY NATURE: lossy transform coding "
    "means the decoded pixels are a property of the codec arithmetic, "
    "not of the input data, so no SQL oracle can reproduce them — the "
    "determinism + correctness burden moves to the codec test gates. "
    "Shape: both Python stages are Arrow-batched mapInPandas, zero "
    "shuffles — embarrassingly parallel over payload partitions at "
    "100 TB, the same plan envelope as the GIF/WAV oracle-checked "
    "twins.",
)
def q_multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_roundtrip(spark, sf_dir, "encode_jpeg")


@register(
    "q_multimodal_jpeg_progressive",
    oracle="""
    SELECT vec_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(TRUE AS BOOLEAN) AS prog_equals_baseline
    FROM embeddings ORDER BY vec_id
    """,
    doc="Progressive-JPEG equivalence gate, ORACLE-CHECKED: each "
    "embedding renders to the 8x8 grayscale fixture, compresses through "
    "BOTH encode_jpeg (baseline SOF0) and encode_jpeg_progressive "
    "(SOF2 — spectral-selection + successive-approximation scan "
    "script), and both streams decode through the REAL multi-mode "
    "decode_jpeg. Because the two encoders derive identical quantized "
    "coefficients, the decoded pixels must agree BIT-FOR-BIT — so the "
    "lossy codec becomes hash-checkable after all: DuckDB predicts the "
    "verdict column (every row true, dims 8x8) and any defect in the "
    "Annex G path (EOB runs, refinement correction bits, point "
    "transforms, multi-scan coefficient accumulation) flips a verdict "
    "and breaks the value hash. Shape: ONE Arrow-batched mapInPandas "
    "pass, per-payload work O(pixels + scans), zero shuffles — "
    "embarrassingly parallel over payload partitions at 100 TB.",
)
def q_multimodal_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jpeg_gate(spark, sf_dir, "encode_jpeg_progressive", "prog_equals_baseline")


@register(
    "q_multimodal_jpeg_arith",
    oracle="""
    SELECT vec_id, CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
           CAST(TRUE AS BOOLEAN) AS arith_equals_baseline
    FROM embeddings ORDER BY vec_id
    """,
    doc="Arithmetic-JPEG equivalence gate, ORACLE-CHECKED (r8 — the "
    "tier that retires the last injected-codec fallback): each "
    "embedding renders to the 8x8 grayscale fixture, compresses "
    "through BOTH encode_jpeg (baseline Huffman SOF0) and "
    "encode_jpeg_arith (SOF9 — the T.81 Annex D QM arithmetic coder "
    "with the Annex F sequential DC/AC statistical models and "
    "adaptive probability-state machine), and both streams decode "
    "through the REAL multi-mode decode_jpeg. Entropy coding is "
    "lossless over identical quantized coefficients, so the decoded "
    "pixels must agree BIT-FOR-BIT: DuckDB predicts the verdict "
    "column, and any defect in the QM registers (renormalization, "
    "byte stuffing, conditional exchange), the conditioning contexts, "
    "or the magnitude-category trees flips a verdict and breaks the "
    "value hash. The codec itself is foreign-validated in "
    "tests/test_jpeg_arith.py: byte-pinned libjpeg-produced streams "
    "decode within the IDCT envelope, and libjpeg decodes OUR streams "
    "(pinned at fixture-generation time via scripts/jpeg_arith_tool.c). "
    "Shape: ONE Arrow-batched mapInPandas pass, zero shuffles — "
    "embarrassingly parallel over payload partitions at 100 TB.",
)
def q_multimodal_jpeg_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jpeg_gate(spark, sf_dir, "encode_jpeg_arith", "arith_equals_baseline")


@register(
    "q_multimodal_png_roundtrip",
    oracle=_GRAY_CHECKSUM_SQL,
    doc="End-to-end PNG codec round-trip as an ORACLE-CHECKED query — "
    "the DEFLATE member of the codec trio beside GIF (LZW) and WAV "
    "(PCM): embeddings quantize to 8x8 grayscale with the portable "
    "half-up quantizer, compress through encode_png (stdlib zlib "
    "deflate + scanline filtering), decode back through the "
    "decode_image dispatch (zlib inflate + per-scanline unfilter — "
    "operators/multimodal.py decode_png), and report per-image RGB "
    "checksums DuckDB reproduces ARITHMETICALLY from the embeddings. "
    "PNG is lossless, so unlike the JPEG rung the checksum is exactly "
    "predictable — any IHDR/IDAT framing, filter-byte, or zlib-window "
    "bug breaks the hash. All Python stages Arrow-batched "
    "mapInPandas; zero shuffles — embarrassingly parallel over "
    "payload partitions at 100 TB.",
)
def q_multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_roundtrip(spark, sf_dir, "encode_png")


@register(
    "q_eval_langid_metrics",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS y, {_sql_lang_guess()} AS yhat
      FROM documents
    ),
    cells AS (
      SELECT y, yhat, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY y, yhat
    ),
    per_class AS (
      SELECT cls,
             CAST(sum(CASE WHEN y = cls AND yhat = cls THEN n ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN yhat = cls AND y <> cls THEN n ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN y = cls AND yhat <> cls THEN n ELSE 0 END) AS BIGINT) AS fn
      FROM cells CROSS JOIN (SELECT DISTINCT y AS cls FROM pred) c
      GROUP BY cls
    )
    SELECT cls AS lang, tp, fp, fn,
           CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE) AS precision_,
           CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE) AS recall_,
           CAST(2 * tp AS DOUBLE)
             / CAST(greatest(2 * tp + fp + fn, 1) AS DOUBLE) AS f1
    FROM per_class
    """,
    doc="Per-class classifier evaluation of the n-gram language router "
    "against the labeled lang column — the model-eval primitive every "
    "curation pipeline runs before trusting a router for mixture "
    "routing: exact integer TP/FP/FN per class from the confusion "
    "cells (the q_text_langid_confusion table, reduced per class), "
    "and precision/recall/F1 as single divides of exact integers via "
    "shared expression text (greatest(...,1) guards empty classes "
    "identically on both engines; F1 uses the 2TP/(2TP+FP+FN) "
    "algebraic form so no intermediate float ratio compounds). "
    "Shape: one fact-scale hash-agg to the O(|langs|^2) confusion "
    "cells; the per-class reduction and the tiny class cross join "
    "never touch the corpus again.",
)
def q_eval_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pred = d.select(F.col("lang").alias("y"), F.expr(X.lang_guess()).alias("yhat"))
    cells = pred.groupBy("y", "yhat").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    classes = pred.select(F.col("y").alias("cls")).distinct()
    per_class = (
        cells.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.sum(
                F.when((F.col("y") == F.col("cls")) & (F.col("yhat") == F.col("cls")), F.col("n")).otherwise(0)
            ).cast("bigint").alias("tp"),
            F.sum(
                F.when((F.col("yhat") == F.col("cls")) & (F.col("y") != F.col("cls")), F.col("n")).otherwise(0)
            ).cast("bigint").alias("fp"),
            F.sum(
                F.when((F.col("y") == F.col("cls")) & (F.col("yhat") != F.col("cls")), F.col("n")).otherwise(0)
            ).cast("bigint").alias("fn"),
        )
    )
    # derived doubles via the same expression text as the oracle
    return per_class.select(
        F.col("cls").alias("lang"),
        "tp",
        "fp",
        "fn",
        F.expr("CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE)").alias("precision_"),
        F.expr("CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE)").alias("recall_"),
        F.expr(
            "CAST(2 * tp AS DOUBLE) / CAST(greatest(2 * tp + fp + fn, 1) AS DOUBLE)"
        ).alias("f1"),
    )


# Wald–Wolfowitz runs test: is the daily revenue's up/down sequence
# random, or does it trend/mean-revert? z from exact run/sign counts.
_RUNS_MU = "(2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE) / CAST(np + nm AS DOUBLE) + 1.0)"
_RUNS_VAR = (
    "((2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE)"
    " * (2.0 * CAST(np AS DOUBLE) * CAST(nm AS DOUBLE) - CAST(np + nm AS DOUBLE)))"
    " / (CAST(np + nm AS DOUBLE) * CAST(np + nm AS DOUBLE)"
    "    * (CAST(np + nm AS DOUBLE) - 1.0)))"
)
_RUNS_SQL = f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY o_orderdate
    ),
    moves AS (
      SELECT d, y - lag(y) OVER (ORDER BY d) AS diff
      FROM daily
    ),
    signs AS (
      SELECT d, CASE WHEN diff > 0 THEN 1 ELSE -1 END AS s
      FROM moves WHERE diff IS NOT NULL AND diff <> 0
    ),
    runs AS (
      SELECT s,
             CASE WHEN s = lag(s) OVER (ORDER BY d) THEN 0 ELSE 1 END AS is_new_run
      FROM signs
    ),
    m AS (
      SELECT CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nm,
             CAST(sum(coalesce(is_new_run, 1)) AS BIGINT) AS n_runs
      FROM runs
    )
    SELECT np AS n_up_moves, nm AS n_down_moves, n_runs,
           (CAST(n_runs AS DOUBLE) - {_RUNS_MU}) / sqrt({_RUNS_VAR}) AS z_stat
    FROM m
"""


register_sql(
    "q_stats_runs_test",
    oracle=_RUNS_SQL,
    doc="Wald-Wolfowitz runs test on the daily revenue's up/down move "
    "sequence — the nonparametric randomness check run before "
    "trusting i.i.d.-flavored models: too FEW runs means trending, "
    "too MANY means mean-reversion/oscillation. Up/down signs come "
    "from exact integer day-over-day differences (zero moves drop, "
    "standard practice), the run count is an exact lag-comparison "
    "sum, and the normal z derives from exact counts via shared "
    "expression text. Completes the daily-series test battery next "
    "to q_stats_autocorr (linear dependence), q_stats_kendall_tau "
    "(monotone association), and q_stats_wilcoxon_signed_rank "
    "(paired location). Shape: one date-keyed fact agg; every window "
    "is a single ordered pass over the CALENDAR-bounded daily table "
    "— constant work at any corpus size.",
)


# Cohen's kappa: chance-corrected agreement between the router and the
# labels — one exact-integer row. po = Σ diag / N, pe = Σ row_i*col_i / N².
_KAPPA_SQL_BODY = """
    cells AS (
      SELECT y, yhat, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY y, yhat
    ),
    m AS (
      SELECT CAST(sum(n) AS BIGINT) AS total,
             CAST(sum(CASE WHEN y = yhat THEN n ELSE 0 END) AS BIGINT) AS agree
      FROM cells
    ),
    marg AS (
      SELECT cls,
             CAST(sum(CASE WHEN y = cls THEN n ELSE 0 END) AS BIGINT) AS row_n,
             CAST(sum(CASE WHEN yhat = cls THEN n ELSE 0 END) AS BIGINT) AS col_n
      FROM cells CROSS JOIN (SELECT DISTINCT y AS cls FROM pred) c
      GROUP BY cls
    ),
    k AS (
      SELECT CAST(sum(CAST(row_n AS DECIMAL(18,0)) * CAST(col_n AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS pe_num
      FROM marg
    )
    SELECT m.total AS n_docs, m.agree AS n_agree,
           CAST(m.agree AS DOUBLE) / CAST(m.total AS DOUBLE) AS p_observed,
           CAST(k.pe_num AS DOUBLE)
             / (CAST(m.total AS DOUBLE) * CAST(m.total AS DOUBLE)) AS p_chance,
           (CAST(m.agree AS DOUBLE) / CAST(m.total AS DOUBLE)
            - CAST(k.pe_num AS DOUBLE)
              / (CAST(m.total AS DOUBLE) * CAST(m.total AS DOUBLE)))
             / (1.0 - CAST(k.pe_num AS DOUBLE)
                      / (CAST(m.total AS DOUBLE) * CAST(m.total AS DOUBLE))) AS kappa
    FROM m CROSS JOIN k
"""


@register(
    "q_eval_cohens_kappa",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS y, {_sql_lang_guess()} AS yhat
      FROM documents
    ),
    {_KAPPA_SQL_BODY}
    """,
    doc="Cohen's kappa for the language router against the labels — "
    "the chance-corrected agreement scalar that complements "
    "q_eval_langid_metrics' per-class view (accuracy alone flatters a "
    "router on an imbalanced corpus; kappa discounts the agreement a "
    "marginal-matching random router would achieve). Exact integers "
    "end-to-end: observed agreement is the diagonal cell sum, the "
    "chance term is sum over classes of row-marginal x col-marginal "
    "as DECIMAL(38,0) (marginal products pass int64 once classes hold "
    ">3e9 docs), and po/pe/kappa are derived doubles from identical "
    "exact inputs via shared expression text. Shape: one fact-scale "
    "hash-agg to the confusion cells; marginals and kappa fold from "
    "the O(|langs|^2) cell table.",
)
def q_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pred = d.select(F.col("lang").alias("y"), F.expr(X.lang_guess()).alias("yhat"))
    pred.createOrReplaceTempView("pred")
    return spark.sql("WITH " + _KAPPA_SQL_BODY)


#: fixed rank-ordered BPE merge table (the vocabulary a
#: q_bpe_merge_candidates-style induction run would emit on English
#: text; frozen here so the APPLICATION operator is deterministic and
#: cross-engine checkable). Each merge joins two space-separated
#: symbols; application order is rank order, exactly like BPE encode.
_BPE_MERGES = [
    ("t h", "th"), ("th e", "the"), ("i n", "in"), ("a n", "an"),
    ("e r", "er"), ("o n", "on"), ("r e", "re"), ("a t", "at"),
    ("e n", "en"), ("o r", "or"), ("e s", "es"), ("in g", "ing"),
]


def _bpe_apply_chain(col: str) -> str:
    """Nested replace() chain applying the merge table in rank order —
    replace() has identical all-occurrence semantics in Spark SQL and
    DuckDB, so the expression text is dialect-common.

    Boundary-safe (r6 ADVICE): ``col`` must be the SENTINEL-PADDED
    symbol string ``' s1 s2 ... sn '`` (leading+trailing space), and
    every merge pattern carries its own sentinels — ``' a b ' -> ' ab '``
    — so a merge can never fire across a multi-char symbol boundary
    (the old unpadded chain turned ``h er e`` into ``h ere`` because
    ``r e`` matched INSIDE the ``er``/``e`` boundary). Each merge is
    applied twice because a replace consumes the shared boundary space
    of back-to-back occurrences (``' t h t h '`` -> first pass merges
    only the left pair); the second pass catches the now-re-spaced
    neighbor. Residual approximation vs strict leftmost-greedy BPE:
    runs of >= 3 back-to-back occurrences of the SAME pair can still
    segment differently — both engines run the identical chain, so
    cross-engine determinism is unaffected."""
    expr = col
    for a, b in _BPE_MERGES:
        one = f"replace({expr}, ' {a} ', ' {b} ')"
        expr = f"replace({one}, ' {a} ', ' {b} ')"
    return expr


@register(
    "q_text_bpe_apply",
    oracle=f"""
    WITH words AS (
      SELECT source,
             unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
      FROM documents
    ),
    seg AS (
      SELECT source, w,
             CAST(len(string_split(w, '')) AS BIGINT) AS n_chars,
             CAST(len(string_split(trim(
               {_bpe_apply_chain("(' ' || array_to_string(string_split(w, ''), ' ') || ' ')")}),
               ' ')) AS BIGINT) AS n_subwords
      FROM words
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS n_symbols_before,
           CAST(sum(n_subwords) AS BIGINT) AS n_subwords_after,
           CAST(sum(n_subwords) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             AS avg_subwords_per_word,
           CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_subwords) AS DOUBLE)
             AS symbol_compression
    FROM seg GROUP BY source
    """,
    doc="BPE merge APPLICATION — the encode half that closes the "
    "vocabulary-induction loop started by q_bpe_merge_candidates: "
    "every word decomposes to space-separated characters and a frozen "
    "rank-ordered merge table applies as a SENTINEL-PADDED nested "
    "replace() chain (' a b ' -> ' ab ' on the space-padded symbol "
    "string, each merge applied twice to recover boundary-space-"
    "consumed neighbors — see _bpe_apply_chain: boundary-safe, so "
    "merges never fire across multi-char symbol boundaries; the one "
    "residual deviation from strict leftmost-greedy BPE is >=3 "
    "back-to-back runs of the same pair, and both engines run the "
    "identical chain so the segmentation stays bit-identical). "
    "Merges apply in training-rank order, as BPE encode does. Reported "
    "per source: words, symbols before/after, average subwords per "
    "word, and the symbol compression ratio — the metrics a tokenizer "
    "team tracks when sizing a vocabulary against a corpus mix. "
    "Shape: the decompose + merge chain runs inside the scan "
    "projection (codegen string ops, no UDF); the only exchange is "
    "the O(sources) final agg, map-side combined.",
)
def q_text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    w = d.select(
        "source",
        F.explode(F.expr(X.tokens("lower(text)"))).alias("w"),
    )
    spaced = "(' ' || array_join(split(w, ''), ' ') || ' ')"
    seg = w.select(
        "source",
        F.expr("cast(size(split(w, '')) as bigint)").alias("n_chars"),
        F.expr(
            f"cast(size(split(trim({_bpe_apply_chain(spaced)}), ' ')) as bigint)"
        ).alias("n_subwords"),
    )
    return seg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("n_chars").cast("bigint").alias("n_symbols_before"),
        F.sum("n_subwords").cast("bigint").alias("n_subwords_after"),
        (F.sum("n_subwords").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_subwords_per_word"
        ),
        (F.sum("n_chars").cast("double") / F.sum("n_subwords").cast("double")).alias(
            "symbol_compression"
        ),
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC (r7) — the threshold-free router/classifier evaluation
# metric, computed by the tie-corrected rank-sum identity
# AUC = U / (n1·n0) (Mann-Whitney): no curve sweep, no float ranks.
# Evaluated here on the stop-word-density score as an English detector
# (the langid family's cheapest signal), which also measures how much
# of the router's skill that one feature carries.


@register(
    "q_eval_auc",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             CAST((n_stop * 1000) // n_tokens AS BIGINT) AS score
      FROM (SELECT lang,
                   CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                     AS BIGINT) AS n_tokens,
                   CAST({_sql_word_set_count(X.STOPWORDS)} AS BIGINT) AS n_stop
            FROM documents)
      WHERE n_tokens > 0
    ),
    cells AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS npos
      FROM s GROUP BY score
    ),
    r AS (
      SELECT n, npos,
             coalesce(CAST(sum(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               CAST(0 AS BIGINT)) AS cumb
      FROM cells
    ),
    m AS (
      SELECT CAST(sum(npos) AS BIGINT) AS n1, CAST(sum(n) AS BIGINT) AS nt,
             CAST(sum(npos * (2 * cumb + n + 1)) AS BIGINT) AS r1_2
      FROM r
    )
    SELECT n1 AS n_pos, nt - n1 AS n_neg,
           r1_2 - n1 * (n1 + 1) AS u_times_2,
           CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE)
             / CAST(2 * n1 * (nt - n1) AS DOUBLE) AS auc
    FROM m
    """,
    doc="Exact tie-corrected ROC-AUC of the stop-word-density score as "
    "an English detector — the threshold-free eval metric every router "
    "and quality classifier reports, via the rank-sum identity "
    "AUC = U/(n1*n0): per-document integer score (stopwords per mille "
    "of tokens), score-value cell table, tie-averaged ranks carried "
    "DOUBLED so everything stays exact integers (the q_stats_"
    "mann_whitney discipline), one divide at the end. No sorted sweep "
    "over documents, no float rank arithmetic, no trapezoid curve. "
    "Shape (100 TB): one codegen scan pass → a cell hash-agg bounded "
    "by the SCORE DOMAIN (<= 1001 cells at any corpus size) → a "
    "cell-table window + 1-row reduce; the only fact-scale exchange is "
    "the map-side-combined cell agg.",
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    tc = F.expr(X.token_count()).cast("bigint")
    nstop = F.expr(X.word_set_occurrences("text", X.STOPWORDS)).cast("bigint")
    s = (
        d.select(
            (F.col("lang") == "en").cast("int").alias("pos"),
            tc.alias("n_tokens"),
            nstop.alias("n_stop"),
        )
        .filter(F.col("n_tokens") > 0)
        .select("pos", F.expr("CAST((n_stop * 1000) div n_tokens AS BIGINT)").alias("score"))
    )
    cells = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    w = W.orderBy("score").rowsBetween(W.unboundedPreceding, -1)
    r = cells.select(
        "n",
        "npos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint").alias("cumb"),
    )
    m = r.agg(
        F.sum("npos").cast("bigint").alias("n1"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("npos") * (2 * F.col("cumb") + F.col("n") + 1)).cast("bigint").alias("r1_2"),
    )
    return m.select(
        F.col("n1").alias("n_pos"),
        (F.col("nt") - F.col("n1")).alias("n_neg"),
        (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).alias("u_times_2"),
        (
            (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).cast("double")
            / (2 * F.col("n1") * (F.col("nt") - F.col("n1"))).cast("double")
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Calibration report (r7) — reliability bins + exact Brier components
# for the stop-word-density score read as P(english). Completes the
# router-eval suite (confusion -> P/R/F1 -> kappa -> AUC -> calibration):
# AUC says the score RANKS well; this says whether its magnitude can be
# TRUSTED as a probability (the operating question when the score gates
# a pipeline threshold).


@register(
    "q_eval_calibration",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             CAST((n_stop * 1000) // n_tokens AS BIGINT) AS score
      FROM (SELECT lang,
                   CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                     AS BIGINT) AS n_tokens,
                   CAST({_sql_word_set_count(X.STOPWORDS)} AS BIGINT) AS n_stop
            FROM documents)
      WHERE n_tokens > 0
    ),
    cells AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS npos
      FROM s GROUP BY score
    ),
    bins AS (
      SELECT CAST(least(score // 100, 9) AS BIGINT) AS bin,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(sum(npos) AS BIGINT) AS n_pos,
             CAST(sum(score * n) AS BIGINT) AS sum_score,
             CAST(sum(npos * (score - 1000) * (score - 1000)
                      + (n - npos) * score * score) AS BIGINT) AS sq_err
      FROM cells GROUP BY 1
    ),
    t AS (
      SELECT bin, n_docs, n_pos, sum_score, sq_err,
             CAST(sum(n_docs) OVER () AS BIGINT) AS n_total
      FROM bins
    )
    SELECT bin, n_docs, n_pos, sum_score, sq_err,
           CAST(sum_score AS DOUBLE) / CAST(1000 * n_docs AS DOUBLE) AS conf,
           CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS acc,
           abs(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)
             - CAST(sum_score AS DOUBLE) / CAST(1000 * n_docs AS DOUBLE)) AS abs_gap,
           (CAST(n_docs AS DOUBLE)
             * abs(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 - CAST(sum_score AS DOUBLE) / CAST(1000 * n_docs AS DOUBLE)))
             / CAST(n_total AS DOUBLE) AS ece_part,
           CAST(sq_err AS DOUBLE) / CAST(n_total AS DOUBLE) / 1000000.0 AS brier_part
    FROM t ORDER BY bin
    """,
    doc="Calibration-reliability report of the stop-word-density score "
    "read as P(english): ten equal-width confidence bins, each with "
    "EXACT integer components — doc count, positive count, summed "
    "per-mille score, and summed squared error (npos*(s-1000)^2 + "
    "(n-npos)*s^2, the Brier numerator in per-mille^2 units) — plus "
    "derived mean-confidence / empirical-accuracy / |gap| doubles and "
    "the bin's ECE and Brier contributions, every double produced by "
    "the same expression text in both engines (one divide per metric, "
    "the q_stats_linreg discipline). AUC (q_eval_auc) certifies the "
    "score's RANKING; this certifies its MAGNITUDE, which is what a "
    "pipeline gate thresholds on. Shape (100 TB): one codegen scan -> "
    "score-domain-bounded cell hash-agg (<=1001 cells at any corpus "
    "size, map-side combined) -> 10-row bin agg -> a 10-row window; "
    "the only fact-scale exchange is the cell agg.",
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    tc = F.expr(X.token_count()).cast("bigint")
    nstop = F.expr(X.word_set_occurrences("text", X.STOPWORDS)).cast("bigint")
    s = (
        d.select(
            (F.col("lang") == "en").cast("int").alias("pos"),
            tc.alias("n_tokens"),
            nstop.alias("n_stop"),
        )
        .filter(F.col("n_tokens") > 0)
        .select("pos", F.expr("CAST((n_stop * 1000) div n_tokens AS BIGINT)").alias("score"))
    )
    cells = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    bins = cells.groupBy(
        F.least(F.expr("score div 100"), F.lit(9)).cast("bigint").alias("bin")
    ).agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.sum("npos").cast("bigint").alias("n_pos"),
        F.sum(F.col("score") * F.col("n")).cast("bigint").alias("sum_score"),
        F.sum(
            F.col("npos") * (F.col("score") - 1000) * (F.col("score") - 1000)
            + (F.col("n") - F.col("npos")) * F.col("score") * F.col("score")
        )
        .cast("bigint")
        .alias("sq_err"),
    )
    t = bins.withColumn(
        "n_total", F.sum("n_docs").over(W.partitionBy()).cast("bigint")
    )
    conf = F.col("sum_score").cast("double") / (F.lit(1000) * F.col("n_docs")).cast("double")
    acc = F.col("n_pos").cast("double") / F.col("n_docs").cast("double")
    gap = F.abs(acc - conf)
    return t.select(
        "bin",
        "n_docs",
        "n_pos",
        "sum_score",
        "sq_err",
        conf.alias("conf"),
        acc.alias("acc"),
        gap.alias("abs_gap"),
        ((F.col("n_docs").cast("double") * gap) / F.col("n_total").cast("double")).alias(
            "ece_part"
        ),
        (F.col("sq_err").cast("double") / F.col("n_total").cast("double") / F.lit(1000000.0)).alias(
            "brier_part"
        ),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Exact PR curve + average precision (r7) — the eval curve that matters
# under class imbalance (positives are rare in filtering gates, and
# ROC-AUC saturates there). Same score-domain cell-table discipline as
# q_eval_auc: thresholds are the distinct score values, cumulative
# tp/fp come from one descending window over cells, and the
# tie-corrected AP is the sum of (delta recall) x precision at each
# cell — every term an exact rational emitted through shared
# expression text.


@register(
    "q_eval_pr_curve",
    oracle=f"""
    WITH s AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
             CAST((n_stop * 1000) // n_tokens AS BIGINT) AS score
      FROM (SELECT lang,
                   CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                     AS BIGINT) AS n_tokens,
                   CAST({_sql_word_set_count(X.STOPWORDS)} AS BIGINT) AS n_stop
            FROM documents)
      WHERE n_tokens > 0
    ),
    cells AS (
      SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS npos
      FROM s GROUP BY score
    ),
    c AS (
      SELECT score, n, npos,
             CAST(sum(npos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tp,
             CAST(sum(n - npos) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_fp,
             CAST(sum(npos) OVER () AS BIGINT) AS total_pos
      FROM cells
    )
    SELECT score, n, npos, cum_tp, cum_fp,
           CAST(cum_tp AS DOUBLE) / CAST(cum_tp + cum_fp AS DOUBLE) AS precision,
           CAST(cum_tp AS DOUBLE) / CAST(total_pos AS DOUBLE) AS recall,
           (CAST(npos AS DOUBLE) / CAST(total_pos AS DOUBLE))
             * (CAST(cum_tp AS DOUBLE) / CAST(cum_tp + cum_fp AS DOUBLE)) AS ap_contrib
    FROM c ORDER BY score DESC
    """,
    doc="Exact tie-corrected precision-recall curve of the stop-word-"
    "density score as an English detector, with per-threshold average-"
    "precision contributions (AP = sum of ap_contrib — the delta-recall "
    "x precision sum, the metric that stays informative when positives "
    "are rare and ROC-AUC saturates). Thresholds are the DISTINCT "
    "SCORE VALUES: cumulative tp/fp ride one descending window over "
    "the score-domain-bounded cell table (<= 1001 cells at any corpus "
    "size), so there is no per-document sort and no float rank "
    "arithmetic anywhere; precision/recall/ap_contrib are exact "
    "rationals emitted through shared expression text. Shape (100 TB): "
    "one codegen scan -> map-side-combined cell agg -> an O(cells) "
    "window. Completes the eval suite: confusion -> P/R/F1 -> kappa -> "
    "AUC -> calibration -> PR/AP.",
)
def q_eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    tc = F.expr(X.token_count()).cast("bigint")
    nstop = F.expr(X.word_set_occurrences("text", X.STOPWORDS)).cast("bigint")
    s = (
        d.select(
            (F.col("lang") == "en").cast("int").alias("pos"),
            tc.alias("n_tokens"),
            nstop.alias("n_stop"),
        )
        .filter(F.col("n_tokens") > 0)
        .select("pos", F.expr("CAST((n_stop * 1000) div n_tokens AS BIGINT)").alias("score"))
    )
    cells = s.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("npos"),
    )
    wd = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, W.currentRow)
    c = cells.select(
        "score",
        "n",
        "npos",
        F.sum("npos").over(wd).cast("bigint").alias("cum_tp"),
        F.sum(F.col("n") - F.col("npos")).over(wd).cast("bigint").alias("cum_fp"),
        F.sum("npos").over(W.partitionBy()).cast("bigint").alias("total_pos"),
    )
    precision = F.col("cum_tp").cast("double") / (F.col("cum_tp") + F.col("cum_fp")).cast(
        "double"
    )
    recall = F.col("cum_tp").cast("double") / F.col("total_pos").cast("double")
    return c.select(
        "score",
        "n",
        "npos",
        "cum_tp",
        "cum_fp",
        precision.alias("precision"),
        recall.alias("recall"),
        ((F.col("npos").cast("double") / F.col("total_pos").cast("double")) * precision).alias(
            "ap_contrib"
        ),
    ).orderBy(F.desc("score"))


# ---------------------------------------------------------------------------
# WAV zero-crossing / peak / clip profile (r7) — the second audio
# curation rung through the REAL RIFF codec: zero-crossing rate is the
# classic cheap voiced/unvoiced + noise discriminator, peak amplitude
# and clipped-sample count are the recording-quality gates an audio
# pipeline applies before paying for feature extraction. Every number
# is exact integer arithmetic on the decoded PCM, so DuckDB reproduces
# the whole report from the embeddings — any codec bug breaks the hash.


@register(
    "q_multimodal_wav_zcr",
    oracle=f"""{_PCM_CTE}
    SELECT vec_id,
           CAST(len(pcm) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(range(1, len(pcm)),
                i -> CASE WHEN pcm[i] * pcm[i + 1] < 0 THEN 1 ELSE 0 END))
             AS BIGINT) AS n_crossings,
           CAST(list_max(list_transform(pcm, v -> abs(v))) AS BIGINT) AS peak_abs,
           CAST(list_sum(list_transform(pcm,
                v -> CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END))
             AS BIGINT) AS n_clipped,
           CAST(list_sum(list_transform(range(1, len(pcm)),
                i -> CASE WHEN pcm[i] * pcm[i + 1] < 0 THEN 1 ELSE 0 END)) AS DOUBLE)
             / CAST(len(pcm) - 1 AS DOUBLE) AS zcr
    FROM s
    """,
    doc="Zero-crossing / peak / clipping profile through the REAL WAV "
    "codec path (encode_wav -> RIFF chunk walk -> decode_wav): "
    "zero-crossing rate (strict sign flip, x_i * x_{i+1} < 0 — zeros "
    "never count, so the definition is tie-free), peak |amplitude|, "
    "and clipped-sample count — the cheap voiced/unvoiced and "
    "recording-quality gates an audio curation pipeline runs before "
    "feature extraction. All exact integers on the decoded PCM; "
    "DuckDB reproduces the report arithmetically from the embeddings, "
    "so a byte-order or chunk-alignment bug in the codec breaks the "
    "hash (the q_multimodal_wav_frame_energy discipline). Shape: "
    "Arrow-batched mapInPandas, partition-local, zero shuffles.",
)
def q_multimodal_wav_zcr(spark: SparkSession, sf_dir: str) -> DataFrame:
    MM = _ship_mm()
    encode_wav, decode_wav, pcm16 = MM.encode_wav, MM.decode_wav, MM.pcm16

    e = table(spark, sf_dir, "embeddings")

    def profile(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for vid, vec in zip(pdf["vec_id"], pdf["embedding"]):
                _rate, _nch, samples = decode_wav(bytes(encode_wav(8000, pcm16(vec))))
                ch0 = samples[:, 0].astype(np.int64)
                n = len(ch0)
                crossings = int(np.sum(ch0[:-1] * ch0[1:] < 0))
                rows.append(
                    (
                        int(vid),
                        n,
                        crossings,
                        int(np.max(np.abs(ch0))),
                        int(np.sum((ch0 == 32767) | (ch0 == -32768))),
                        float(crossings) / float(n - 1),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "vec_id",
                    "n_samples",
                    "n_crossings",
                    "peak_abs",
                    "n_clipped",
                    "zcr",
                ],
            )

    return e.select("vec_id", "embedding").mapInPandas(
        profile,
        "vec_id long, n_samples long, n_crossings long, peak_abs long, "
        "n_clipped long, zcr double",
    )


_ENTROPY_SQL = """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents),
    ct AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token),
    n AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
      FROM ct GROUP BY doc_id),
    t AS (
      SELECT ct.doc_id,
             CAST(sum(ct.c * CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(ct.c AS DOUBLE))
                                        * 1000000.0) AS BIGINT)) AS BIGINT) AS hm,
             CAST(max(n.n) AS BIGINT) AS n,
             CAST(max(n.v) AS BIGINT) AS v,
             CAST(round(ln(CAST(max(n.v) AS DOUBLE)) * 1000000.0) AS BIGINT) AS lnvq
      FROM ct JOIN n ON ct.doc_id = n.doc_id
      GROUP BY ct.doc_id)
    SELECT doc_id, n AS n_tokens, v AS n_types,
           CAST(hm AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS entropy_nats,
           CASE WHEN v > 1
                THEN CAST(hm AS DOUBLE) / CAST(n AS DOUBLE) / CAST(lnvq AS DOUBLE)
                ELSE 0.0 END AS entropy_norm
    FROM t
"""


@register(
    "q_text_unigram_entropy",
    oracle=_ENTROPY_SQL,
    doc="Per-document unigram entropy — the information-theoretic "
    "repetition signal that complements q_text_type_token_ratio "
    "(TTR counts types; entropy weighs their BALANCE, so 'a a a a b' "
    "and 'a b a b a' separate where TTR ties them) and "
    "q_text_repetition (which targets specific over-represented "
    "n-grams): H = sum c/n x ln(n/c) in nats, plus the Pielou-style "
    "normalization H / ln(types) in [0,1] that makes thresholds "
    "length-independent. Low entropy = degenerate/spammy token "
    "distributions — a standard pre-training quality cut. "
    "Determinism: each type's ln(n/c) quantizes to micro-units and "
    "multiplies the exact count BEFORE the per-document sum (exact "
    "bigint reduction); the normalizer ln(types) is quantized the "
    "same way so the final ratio derives from identical integers on "
    "both engines. Shape (100 TB): tokenize + ONE (doc_id, token) "
    "map-side-combined hash-agg, per-doc totals re-aggregate from "
    "that table (never a second corpus pass), rejoin keyed on doc_id "
    "stays co-partitioned. O(docs) rows out.",
)
def q_text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(X.tokens())).alias("token"))
    ct = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = ct.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    term = F.col("c") * F.round(
        F.log(F.col("n").cast("double") / F.col("c").cast("double")) * F.lit(1000000.0)
    ).cast("bigint")
    t = (
        ct.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(term).cast("bigint").alias("hm"),
            F.max("n").cast("bigint").alias("n"),
            F.max("v").cast("bigint").alias("v"),
        )
        .select(
            "*",
            F.round(F.log(F.col("v").cast("double")) * F.lit(1000000.0))
            .cast("bigint")
            .alias("lnvq"),
        )
    )
    return t.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        (F.col("hm").cast("double") / F.lit(1000000.0) / F.col("n").cast("double")).alias(
            "entropy_nats"
        ),
        F.when(
            F.col("v") > 1,
            F.col("hm").cast("double") / F.col("n").cast("double") / F.col("lnvq").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("entropy_norm"),
    )


#: scene-cut threshold: consecutive-frame aHash Hamming distance
#: strictly above this flags a cut (16-bit hashes; 8 = half the bits)
_SCENE_CUT_BITS = 8

def _frame_hash_ctes(where: str = "") -> str:
    """DuckDB CTEs ``e`` ... ``hashed``: the 16-bit average hash ``h`` of
    each (vec_id, frame_idx) of the four-frame video every embedding
    packs into — the SQL twin of ``_video_codec``. ``where`` filters
    the embeddings table."""
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings {where}
    ),
    frames AS (
      SELECT vec_id, CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS frame_idx, v
      FROM e
    ),
    sliced AS (
      SELECT vec_id, frame_idx, v[frame_idx * 16 + 1 : frame_idx * 16 + 16] AS fv
      FROM frames
    ),
    quant AS (
      SELECT vec_id, frame_idx,
             CASE WHEN list_max(fv) > list_min(fv)
                  THEN list_transform(fv, x -> CAST(floor(
                         (x - list_min(fv)) * (255.0 / (list_max(fv) - list_min(fv)))
                         + 0.5) AS BIGINT))
                  ELSE list_transform(fv, x -> CAST(0 AS BIGINT)) END AS g
      FROM sliced
    ),
    hashed AS (
      SELECT vec_id, frame_idx,
             CAST(list_sum(list_transform(range(1, 17),
                  i -> CASE WHEN g[i] > CAST(list_sum(g) AS DOUBLE) / 16.0
                            THEN CAST(2 AS BIGINT) ** (i - 1)
                            ELSE 0 END)) AS BIGINT) AS h
      FROM quant
    )"""


_SCENE_CUT_SQL = f"""{_frame_hash_ctes()},
    deltas AS (
      SELECT vec_id, frame_idx,
             bit_count(xor(h, lead(h) OVER (PARTITION BY vec_id
                                            ORDER BY frame_idx))) AS d
      FROM hashed
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(sum(CASE WHEN d > {_SCENE_CUT_BITS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cuts,
           CAST(max(d) AS BIGINT) AS max_hamming,
           CAST(coalesce(min(CASE WHEN d > {_SCENE_CUT_BITS} THEN frame_idx END),
                         -1) AS BIGINT) AS first_cut_frame
    FROM deltas WHERE d IS NOT NULL
    GROUP BY vec_id
"""


@register(
    "q_multimodal_video_scene_cuts",
    oracle=_SCENE_CUT_SQL,
    doc="Video scene-cut detection — the shot-segmentation primitive a "
    "video curation pipeline runs BEFORE frame sampling (sampling "
    "within shots, not across them, is what makes sampled frames "
    "representative): every frame of the length-prefixed PPM container "
    "decodes through the SAME pack/walk as q_multimodal_video_frames "
    "(all 4 frames here — cut detection cannot skip frames), each "
    "frame aHashes to 16 bits, and consecutive-frame Hamming deltas "
    f"above {_SCENE_CUT_BITS} bits flag cuts; per video: transition "
    "count, cut count, the worst delta, and the first cut position "
    "(-1 when none — the single-shot verdict). DuckDB reproduces "
    "every hash arithmetically from the embeddings and re-derives the "
    "deltas with a window, so a framing, quantization, or bit-order "
    "bug anywhere in the codec path breaks the hash. Shape: "
    "Arrow-batched mapInPandas decode (zero shuffles, embarrassingly "
    "parallel over payload partitions), then ONE lead() window over "
    "per-video partitions of bounded size (frames per clip), one "
    "map-side-combined agg. O(videos) rows out.",
)
def q_multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    MM = _ship_mm()
    pack, ahash = _video_codec(MM)
    decode_video = MM.decode_video
    vids = _encode_stage(table(spark, sf_dir, "embeddings"), pack)

    def hash_all_frames(batches):
        import pandas as pd

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for vid, b in zip(pdf["vec_id"], pdf["content"]):
                for f, frame in enumerate(decode_video(bytes(b))):
                    ids.append(vid)
                    idxs.append(f)
                    hashes.append(ahash(frame))
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "frame_idx": idxs,
                    "h": pd.array(hashes, dtype="int64"),
                }
            )

    hashed = vids.mapInPandas(hash_all_frames, "vec_id long, frame_idx long, h long")
    w = W.partitionBy("vec_id").orderBy("frame_idx")
    deltas = hashed.select(
        "vec_id",
        "frame_idx",
        F.bit_count(F.col("h").bitwiseXOR(F.lead("h").over(w))).alias("d"),
    ).filter(F.col("d").isNotNull())
    return deltas.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.sum(F.when(F.col("d") > _SCENE_CUT_BITS, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cuts"),
        F.max("d").cast("bigint").alias("max_hamming"),
        F.coalesce(
            F.min(F.when(F.col("d") > _SCENE_CUT_BITS, F.col("frame_idx"))),
            F.lit(-1),
        )
        .cast("bigint")
        .alias("first_cut_frame"),
    )


#: router-confidence floor: a top-1/top-2 marker-score margin below
#: this routes the document to 'und' (undetermined) instead of
#: trusting the argmax
_LANGID_MARGIN_MIN = 2

_LANG_MARGIN_SQL = f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {_sql_lang_guess()} AS guessed_lang,
             list_reverse_sort([
               {", ".join(f"({_sql_lang_score(lang)})" for lang in sorted(X.LANG_MARKERS))}
             ]) AS s
      FROM documents)
    SELECT doc_id, labeled_lang, guessed_lang,
           CAST(s[1] AS BIGINT) AS top1_score,
           CAST(s[2] AS BIGINT) AS top2_score,
           CAST(s[1] - s[2] AS BIGINT) AS margin,
           CASE WHEN s[1] - s[2] >= {_LANGID_MARGIN_MIN}
                THEN guessed_lang ELSE 'und' END AS routed_lang
    FROM scored
"""


@register(
    "q_text_langid_margin",
    oracle=_LANG_MARGIN_SQL,
    doc="Language-ID confidence-margin routing — the production gating "
    "layer over the raw argmax router (q_text_langid): per document, "
    "the top-1 and top-2 marker scores across all five language "
    "models, their margin, and the routed label — the argmax when the "
    f"margin clears {_LANGID_MARGIN_MIN}, 'und' (undetermined) "
    "otherwise. CLD3-style pipelines route low-margin documents to a "
    "heavier classifier or quarantine rather than mislabeling them; "
    "downstream per-language operators (CCNet buckets, curriculum "
    "mixes) consume the routed label, so the margin IS the precision/ "
    "coverage knob. The top-2 extraction sorts the 5-score array "
    "in-row (both engines sort integer arrays identically; ties "
    "collapse to margin 0 = routed 'und' when at the top). One "
    "codegen projection over the scan — scores, sort, margin, and "
    "route all stay row-local; no shuffle at ANY corpus size.",
)
def q_text_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    scores = X.lang_scores()
    s = F.expr(f"sort_array(array({', '.join(scores[lang] for lang in sorted(scores))}), false)")
    top1 = F.element_at(s, 1).cast("bigint")
    top2 = F.element_at(s, 2).cast("bigint")
    guessed = F.expr(X.lang_guess())
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        guessed.alias("guessed_lang"),
        top1.alias("top1_score"),
        top2.alias("top2_score"),
        (top1 - top2).alias("margin"),
        F.when(top1 - top2 >= _LANGID_MARGIN_MIN, guessed)
        .otherwise(F.lit("und"))
        .alias("routed_lang"),
    )


@register(
    "q_eval_rouge_n",
    oracle="""
    WITH toked AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents),
    eligible AS (SELECT * FROM toked WHERE len(tk) >= 2),
    pairs AS (
      SELECT c.doc_id AS pair_id, c.lang AS lang,
             c.tk AS ctk, r.tk AS rtk,
             CAST(len(c.tk) - 1 AS BIGINT) AS tc,
             CAST(len(r.tk) - 1 AS BIGINT) AS tr
      FROM eligible c JOIN eligible r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0),
    cg AS (
      SELECT pair_id, g, count(*) AS cc FROM (
        SELECT pair_id,
               unnest(list_transform(range(1, len(ctk)),
                 i -> ctk[i] || ' ' || ctk[i + 1])) AS g
        FROM pairs) GROUP BY pair_id, g),
    rg AS (
      SELECT pair_id, g, count(*) AS rc FROM (
        SELECT pair_id,
               unnest(list_transform(range(1, len(rtk)),
                 i -> rtk[i] || ' ' || rtk[i + 1])) AS g
        FROM pairs) GROUP BY pair_id, g),
    m AS (
      SELECT cg.pair_id, CAST(sum(least(cc, rc)) AS BIGINT) AS match_n
      FROM cg JOIN rg ON rg.pair_id = cg.pair_id AND rg.g = cg.g
      GROUP BY cg.pair_id),
    milli AS (
      SELECT p.lang,
             (COALESCE(m.match_n, 0) * 1000) // p.tc AS p_milli,
             (COALESCE(m.match_n, 0) * 1000) // p.tr AS r_milli,
             (COALESCE(m.match_n, 0) * 2000) // (p.tc + p.tr) AS f1_milli
      FROM pairs p LEFT JOIN m ON m.pair_id = p.pair_id)
    SELECT lang,
           count(*) AS n_pairs,
           CAST(sum(p_milli) AS DOUBLE) / count(*) AS mean_p_milli,
           CAST(sum(r_milli) AS DOUBLE) / count(*) AS mean_r_milli,
           CAST(sum(f1_milli) AS DOUBLE) / count(*) AS mean_f1_milli,
           max(f1_milli) AS max_f1_milli
    FROM milli GROUP BY lang
    """,
    doc="Clipped n-gram overlap scoring (the ROUGE-2 / BLEU "
    "modified-precision kernel) — the eval-harness metric the eval "
    "family lacked: given (candidate, reference) text pairs, the "
    "clipped match count sum_g min(count_cand(g), count_ref(g)) "
    "yields precision = match/|cand bigrams|, recall = "
    "match/|ref bigrams|, and F1 via the shared-numerator identity "
    "F1 = 2*match/(tc + tr) — so all three are EXACT integer "
    "milli-ratios (floor-division of int64 counts), and the only IEEE "
    "divides are the final per-lang means of bounded ints. Pairing "
    "here is adjacent doc_id (candidate = even id, reference = id+1, "
    "both >= 2 tokens) — the fixture's stand-in for a "
    "(model_output, reference) eval table; the operator itself is "
    "pairing-agnostic. Pairs whose bigram sets are disjoint still "
    "score (LEFT join + COALESCE 0): dropping zero-match pairs would "
    "bias every mean upward. Shape (100 TB): tokenize + shingle "
    "row-local (the materialized-token-array convention of "
    "functions/text.py), per-side counts are map-side-combined "
    "hash-aggs on (pair_id, gram), the clip is ONE equi-join on "
    "(pair_id, gram) — co-partitioned, no window, no cross join — and "
    "the report is an O(langs) hash-agg.",
)
def q_eval_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.expr(X.tokens()).alias("tk")
    ).filter(F.size("tk") >= 2)

    c = tok.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("pair_id"),
        "lang",
        F.col("tk").alias("ctk"),
        (F.size("tk") - 1).cast("bigint").alias("tc"),
    )
    r = tok.select(
        (F.col("doc_id") - 1).alias("pair_id"),
        F.col("tk").alias("rtk"),
        (F.size("tk") - 1).cast("bigint").alias("tr"),
    )
    # NOT persisted (r12): measured — the 3-consumer fan-out re-reads
    # are cheaper than writing the token-array cache here (2.28 ->
    # 2.50 s paired A/B; contrast q_eval_bleu, where the same persist
    # pays because the gram fusion leaves it as the only corpus pass)
    pairs = c.join(r, "pair_id")

    cg = (
        pairs.select(
            "pair_id", F.explode(F.expr(X.word_shingles("ctk", 2))).alias("g")
        )
        .groupBy("pair_id", "g")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    rg = (
        pairs.select(
            "pair_id", F.explode(F.expr(X.word_shingles("rtk", 2))).alias("g")
        )
        .groupBy("pair_id", "g")
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    m = (
        cg.join(rg, ["pair_id", "g"])
        .groupBy("pair_id")
        .agg(F.sum(F.least("cc", "rc")).cast("bigint").alias("match_n"))
    )
    scored = (
        pairs.select("pair_id", "lang", "tc", "tr")
        .join(m, "pair_id", "left")
        .withColumn(
            "mn", F.coalesce(F.col("match_n"), F.lit(0).cast("bigint"))
        )
    )
    milli = scored.select(
        "lang",
        F.expr("(mn * 1000) div tc").alias("p_milli"),
        F.expr("(mn * 1000) div tr").alias("r_milli"),
        F.expr("(mn * 2000) div (tc + tr)").alias("f1_milli"),
    )
    return milli.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum("p_milli").cast("double") / F.count(F.lit(1))).alias(
            "mean_p_milli"
        ),
        (F.sum("r_milli").cast("double") / F.count(F.lit(1))).alias(
            "mean_r_milli"
        ),
        (F.sum("f1_milli").cast("double") / F.count(F.lit(1))).alias(
            "mean_f1_milli"
        ),
        F.max("f1_milli").alias("max_f1_milli"),
    )


#: the shared corpus-BLEU final expression — identical text on both
#: engines so the one IEEE combination of exact integers is bit-equal:
#: BP = exp(min(0, 1 - r/c)) (exp is monotone, so min(1, e^x) = e^min(0,x)),
#: bleu2 = BP * sqrt(p1 * p2) with p_n from exact int64 corpus counts
_BLEU_EXPR = (
    "cast(round(exp(least(0.0, 1.0 - cast(ref_len as double)"
    " / cast(cand_len as double)))"
    " * sqrt((cast(match_1 as double) / cast(total_1 as double))"
    " * (cast(match_2 as double) / cast(total_2 as double)))"
    " * 1000000.0) as bigint)"
)

_BP_EXPR = (
    "cast(round(exp(least(0.0, 1.0 - cast(ref_len as double)"
    " / cast(cand_len as double))) * 1000000.0) as bigint)"
)


@register(
    "q_eval_bleu",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), t -> t <> '') AS tk
      FROM documents),
    eligible AS (SELECT * FROM toked WHERE len(tk) >= 2),
    pairs AS (
      SELECT c.doc_id AS pair_id, c.lang AS lang,
             c.tk AS ctk, r.tk AS rtk,
             CAST(len(c.tk) AS BIGINT) AS clen,
             CAST(len(r.tk) AS BIGINT) AS rlen
      FROM eligible c JOIN eligible r ON r.doc_id = c.doc_id + 1
      WHERE c.doc_id % 2 = 0),
    cu AS (
      SELECT pair_id, g, count(*) AS cc FROM (
        SELECT pair_id, unnest(ctk) AS g FROM pairs) GROUP BY pair_id, g),
    ru AS (
      SELECT pair_id, g, count(*) AS rc FROM (
        SELECT pair_id, unnest(rtk) AS g FROM pairs) GROUP BY pair_id, g),
    m1 AS (
      SELECT cu.pair_id, CAST(sum(least(cc, rc)) AS BIGINT) AS mn
      FROM cu JOIN ru ON ru.pair_id = cu.pair_id AND ru.g = cu.g
      GROUP BY cu.pair_id),
    cb AS (
      SELECT pair_id, g, count(*) AS cc FROM (
        SELECT pair_id,
               unnest(list_transform(range(1, len(ctk)),
                 i -> ctk[i] || ' ' || ctk[i + 1])) AS g
        FROM pairs) GROUP BY pair_id, g),
    rb AS (
      SELECT pair_id, g, count(*) AS rc FROM (
        SELECT pair_id,
               unnest(list_transform(range(1, len(rtk)),
                 i -> rtk[i] || ' ' || rtk[i + 1])) AS g
        FROM pairs) GROUP BY pair_id, g),
    m2 AS (
      SELECT cb.pair_id, CAST(sum(least(cc, rc)) AS BIGINT) AS mn
      FROM cb JOIN rb ON rb.pair_id = cb.pair_id AND rb.g = cb.g
      GROUP BY cb.pair_id),
    corpus AS (
      SELECT p.lang,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(COALESCE(m1.mn, 0)) AS BIGINT) AS match_1,
             CAST(sum(p.clen) AS BIGINT) AS total_1,
             CAST(sum(COALESCE(m2.mn, 0)) AS BIGINT) AS match_2,
             CAST(sum(p.clen - 1) AS BIGINT) AS total_2,
             CAST(sum(p.clen) AS BIGINT) AS cand_len,
             CAST(sum(p.rlen) AS BIGINT) AS ref_len
      FROM pairs p
      LEFT JOIN m1 ON m1.pair_id = p.pair_id
      LEFT JOIN m2 ON m2.pair_id = p.pair_id
      GROUP BY p.lang)
    SELECT lang, n_pairs, match_1, total_1, match_2, total_2,
           cand_len, ref_len,
           (match_1 * 1000) // total_1 AS p1_milli,
           (match_2 * 1000) // total_2 AS p2_milli,
           {_BP_EXPR} AS bp_micro,
           {_BLEU_EXPR} AS bleu2_micro
    FROM corpus
    """,
    doc="Corpus-level BLEU-2 with brevity penalty — the CORPUS "
    "aggregation of the clipped-overlap kernel (q_eval_rouge_n scores "
    "per-pair means; BLEU pools matches and totals over the whole "
    "corpus first, the aggregation that makes BLEU robust to "
    "zero-match sentences without smoothing): p_n = sum match_n / sum "
    "total_n over the same adjacent-id (candidate, reference) pairs, "
    "BP = exp(min(0, 1 - r/c)) spelled as the monotone-exp identity "
    "so no CASE is needed, bleu2 = BP * sqrt(p1*p2). Exactness: "
    "matches and totals are exact int64 corpus sums (clipped per-pair "
    "counts ride the same (pair_id, gram) equi-joins as the ROUGE "
    "rung, unigrams AND bigrams); p1/p2 are reported as exact "
    "milli-ints, and the two derived doubles (bp_micro, bleu2_micro) "
    "are ONE shared-expression IEEE combination of those exact ints "
    "quantized to micro (the q_text_unigram_entropy ln/exp "
    "convention: identical expression text on identical doubles). "
    "Shape (100 TB): tokenize/shingle row-local, per-side counts "
    "map-side-combined on (pair_id, gram), two equi-joins (one per "
    "n), one O(langs) corpus agg — no window, no cross join; the "
    "int64 envelope holds to ~9e18 corpus tokens per lang.",
)
def q_eval_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.expr(X.tokens()).alias("tk")
    ).filter(F.size("tk") >= 2)
    c = tok.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("pair_id"),
        "lang",
        F.col("tk").alias("ctk"),
        F.size("tk").cast("bigint").alias("clen"),
    )
    r = tok.select(
        (F.col("doc_id") - 1).alias("pair_id"),
        F.col("tk").alias("rtk"),
        F.size("tk").cast("bigint").alias("rlen"),
    )
    # r12 (guide §2.3/§2.4): the tokenize+self-join is persisted (5
    # consumers re-derived it — 10 corpus scans), and the unigram and
    # bigram clip pipelines fuse into ONE order-tagged explode per side
    # + ONE (pair_id, n, gram) equi-join — same exact integer counts
    # (the n tag keeps the gram spaces disjoint), half the gram-join
    # stages. Released by finalize_bounded (output is O(langs)).
    pairs = c.join(r, "pair_id").persist()

    def tagged(tk: str) -> str:
        return (
            f"explode(concat(transform({tk}, g -> struct(1 AS n, g AS g)),"
            f" transform({X.word_shingles(tk, 2)}, g -> struct(2 AS n, g AS g)))) AS t"
        )

    cg = (
        pairs.selectExpr("pair_id", tagged("ctk"))
        .select("pair_id", "t.n", "t.g")
        .groupBy("pair_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    rg = (
        pairs.selectExpr("pair_id", tagged("rtk"))
        .select("pair_id", "t.n", "t.g")
        .groupBy("pair_id", "n", "g")
        .agg(F.count(F.lit(1)).alias("rc"))
    )
    m = (
        cg.join(rg, ["pair_id", "n", "g"])
        .groupBy("pair_id")
        .agg(
            F.sum(F.when(F.col("n") == 1, F.least("cc", "rc")))
            .cast("bigint")
            .alias("mn1"),
            F.sum(F.when(F.col("n") == 2, F.least("cc", "rc")))
            .cast("bigint")
            .alias("mn2"),
        )
    )
    corpus = (
        pairs.select("pair_id", "lang", "clen", "rlen")
        .join(m, "pair_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce(F.col("mn1"), F.lit(0)))
            .cast("bigint")
            .alias("match_1"),
            F.sum("clen").cast("bigint").alias("total_1"),
            F.sum(F.coalesce(F.col("mn2"), F.lit(0)))
            .cast("bigint")
            .alias("match_2"),
            F.sum(F.col("clen") - 1).cast("bigint").alias("total_2"),
            F.sum("clen").cast("bigint").alias("cand_len"),
            F.sum("rlen").cast("bigint").alias("ref_len"),
        )
    )
    from azurestorage_blueprints_spark.queries import finalize_bounded

    report = corpus.select(
        "lang",
        "n_pairs",
        "match_1",
        "total_1",
        "match_2",
        "total_2",
        "cand_len",
        "ref_len",
        F.expr("(match_1 * 1000) div total_1").alias("p1_milli"),
        F.expr("(match_2 * 1000) div total_2").alias("p2_milli"),
        F.expr(_BP_EXPR).alias("bp_micro"),
        F.expr(_BLEU_EXPR).alias("bleu2_micro"),
    )
    return finalize_bounded(report, pairs)


#: character-marker sets for the SECOND language-ID classifier the
#: McNemar rung compares against the word-marker router: diacritics /
#: script ranges are a classic cheap signal with a very different
#: error profile (great on zh/de/fr/es, blind on en — which is the
#: point: discordant cells in BOTH directions)
_CHAR_MARKERS: dict[str, str] = {
    "de": "äöüß",
    "es": "ñ¿¡áíóú",
    "fr": "éèêàçùâîôû",
}
#: CJK unified ideographs, counted by code point (ascii() returns the
#: code point on BOTH engines; regex ranges and global-replace flags
#: do NOT parse identically across the two SQL dialects, so the char
#: fold reuses the proven split+ascii idiom of q_text_fingerprint)
_ZH_LO, _ZH_HI = 0x4E00, 0x9FFF
#: continuity-corrected chi-square critical value at alpha = 0.05,
#: 1 df, in milli
_MCNEMAR_CRIT_MILLI = 3841


def _char_score(lang: str, dialect: str) -> str:
    if lang == "en":
        return "(0)"
    if lang == "zh":
        if dialect == "duck":
            return (
                f"(len(list_filter(string_split(text, ''), "
                f"c -> ascii(c) >= {_ZH_LO} AND ascii(c) <= {_ZH_HI})))"
            )
        return (
            f"(size(filter(split(text, ''), "
            f"c -> ascii(c) >= {_ZH_LO} and ascii(c) <= {_ZH_HI})))"
        )
    chars = _CHAR_MARKERS[lang]
    return f"(length(text) - length(translate(text, '{chars}', '')))"


def _char_guess(dialect: str) -> str:
    """The char-marker argmax, with the tie-break of _sql_lang_guess."""
    return X.argmax_label({lang: _char_score(lang, dialect) for lang in X.LANG_MARKERS})


@register(
    "q_eval_mcnemar",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN ({_sql_lang_guess()}) = lang THEN 1 ELSE 0 END AS a_ok,
             CASE WHEN ({_char_guess('duck')}) = lang THEN 1 ELSE 0 END AS b_ok
      FROM documents),
    cells AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(a_ok * b_ok) AS BIGINT) AS n_both,
             CAST(sum(a_ok * (1 - b_ok)) AS BIGINT) AS n_a_only,
             CAST(sum((1 - a_ok) * b_ok) AS BIGINT) AS n_b_only,
             CAST(sum((1 - a_ok) * (1 - b_ok)) AS BIGINT) AS n_neither
      FROM scored GROUP BY lang)
    SELECT lang, n_docs, n_both, n_a_only, n_b_only, n_neither,
           CASE WHEN n_a_only + n_b_only > 0 THEN
             (greatest(abs(n_a_only - n_b_only) - 1, 0)
              * greatest(abs(n_a_only - n_b_only) - 1, 0) * 1000)
             // (n_a_only + n_b_only)
           ELSE CAST(0 AS BIGINT) END AS stat_milli,
           CASE WHEN n_a_only + n_b_only > 0 THEN
             (greatest(abs(n_a_only - n_b_only) - 1, 0)
              * greatest(abs(n_a_only - n_b_only) - 1, 0) * 1000)
             // (n_a_only + n_b_only)
           ELSE CAST(0 AS BIGINT) END >= {_MCNEMAR_CRIT_MILLI}
             AS significant
    FROM cells
    """,
    doc="McNemar's test — the PAIRED classifier comparison an eval "
    "harness runs when two models score the same examples (unpaired "
    "accuracy deltas waste the pairing and overstate variance): "
    "classifier A is the word-marker argmax router (q_text_langid's "
    "lang_guess), classifier B the character-marker argmax (diacritic "
    "counts via translate(), CJK ideographs via a portable regex "
    "range — a genuinely different error profile: sharp on zh/de/"
    "fr/es, blind on en), both judged against the labeled lang. Per "
    "class: the 2x2 concordance cells and the continuity-corrected "
    "statistic (|b-c|-1)^2/(b+c) over the DISCORDANT cells only — "
    "exact integer milli via floor-div (greatest(|b-c|-1, 0) handles "
    "the b=c edge), significance at the 3.841 chi-square critical "
    "value. Shape (100 TB): both classifiers are row-local codegen "
    "projections over one scan (translate + regexp_replace, no UDF), "
    "then ONE O(langs) hash-agg — no window, no join, no shuffle "
    "beyond the bounded report key.",
)
def q_eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    a_ok = F.when(F.expr(X.lang_guess()) == F.col("lang"), 1).otherwise(0)
    b_ok = F.when(
        F.expr(_char_guess("spark")) == F.col("lang"), 1
    ).otherwise(0)
    cells = (
        d.select("lang", a_ok.alias("a_ok"), b_ok.alias("b_ok"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("a_ok") * F.col("b_ok")).cast("bigint").alias("n_both"),
            F.sum(F.col("a_ok") * (1 - F.col("b_ok")))
            .cast("bigint")
            .alias("n_a_only"),
            F.sum((1 - F.col("a_ok")) * F.col("b_ok"))
            .cast("bigint")
            .alias("n_b_only"),
            F.sum((1 - F.col("a_ok")) * (1 - F.col("b_ok")))
            .cast("bigint")
            .alias("n_neither"),
        )
    )
    stat = F.expr(
        "CASE WHEN n_a_only + n_b_only > 0 THEN"
        " (greatest(abs(n_a_only - n_b_only) - 1, 0)"
        " * greatest(abs(n_a_only - n_b_only) - 1, 0) * 1000)"
        " div (n_a_only + n_b_only)"
        " ELSE CAST(0 AS BIGINT) END"
    )
    return cells.select(
        "lang",
        "n_docs",
        "n_both",
        "n_a_only",
        "n_b_only",
        "n_neither",
        stat.alias("stat_milli"),
        (stat >= _MCNEMAR_CRIT_MILLI).alias("significant"),
    )


@register(
    "q_multimodal_bmp_roundtrip",
    oracle=_GRAY_CHECKSUM_SQL,
    doc="End-to-end BMP codec round-trip, ORACLE-CHECKED — the "
    "NO-compression member of the codec family beside PNG (DEFLATE), "
    "GIF (LZW), WAV (PCM) and JPEG (DCT): embeddings quantize to 8x8 "
    "grayscale with the portable half-up quantizer, serialize through "
    "encode_bmp (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up BGR "
    "rows padded to 4-byte strides — the byte-layout details where "
    "naive DIB readers corrupt images), decode back through the "
    "decode_image dispatch (magic 'BM' -> decode_bmp: stride strip, "
    "BGR->RGB, row-order flip, top-down negative-height variant "
    "handled), and report per-image RGB checksums DuckDB reproduces "
    "ARITHMETICALLY from the embeddings. BMP is lossless, so the "
    "checksum is exactly predictable — any stride, row-order, or "
    "channel-order bug breaks the hash (channel swaps specifically "
    "are invisible to a grayscale sum, which is why the unit test "
    "round-trips random COLOR images too). All Python stages "
    "Arrow-batched mapInPandas; zero shuffles.",
)
def q_multimodal_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _image_roundtrip(spark, sf_dir, "encode_bmp")
