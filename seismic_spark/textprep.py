"""Text front-end: HTML→text extraction, tokenization, BM25 weighting.

The reference consumes precomputed sparse vectors (json_utils.rs:17-22); this
module is the web-scale front-end our engine adds per BASELINE.json: pages
``(url, warc_ts, html, text, lang)`` → per-(doc, term) BM25 weights.

Everything is JVM-side ``pyspark.sql.functions`` except HTML extraction,
which is an Arrow-vectorized pandas UDF (regex, deterministic — byte-identical
output per url is asserted in tests, per the input_hint invariant).

BM25 (Robertson/Okapi, k1=1.2 b=0.75, double math):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

The same formula is mirrored in ANSI SQL by :func:`bm25_oracle_sql` fragments
used for the DuckDB correctness gate.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

K1 = 1.2
B = 0.75

_TAG_RE = re.compile(r"<[^>]*>")
_SCRIPT_RE = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1>")


def _extract_text_py(html: bytes | None) -> str:
    """Deterministic, pure HTML→text: drop script/style, strip tags.

    Must be byte-identical per url across runs/partitions (pure function of
    the input bytes only) — the per-row invariant vs the reference.
    """
    if html is None:
        return ""
    s = html.decode("utf-8", errors="replace")
    s = _SCRIPT_RE.sub("", s)
    s = _TAG_RE.sub("", s)
    return s


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return html.map(_extract_text_py)


def with_extracted_text(
    pages: DataFrame,
    html_col: str = "html",
    extractor=None,
) -> DataFrame:
    """Add/replace ``text`` with the deterministic extraction of ``html``.

    ``extractor``: optional batch-level callable ``pd.Series[bytes|None] ->
    pd.Series[str]`` swapped in at the same Arrow seam — the production
    deployment hook for a compiled HTML extractor (lxml/selectolax/trafilatura
    are not in this container).  Same pattern as the multimodal decoder seam
    (operators/multimodal.decode_binary_column(decoder=...)): the Spark-side
    plumbing (Arrow batching, schema, column contract) is identical for the
    default regex extractor and any injected one, so swapping the extractor
    cannot change the plan.  The default remains the pure-regex extraction
    whose byte-identical-per-url invariant the tests pin; an injected
    extractor takes over that invariant (it must itself be a pure function
    of the input bytes).
    """
    if extractor is None:
        udf = extract_text_udf
    else:
        udf = pandas_udf(extractor, StringType())
    return pages.withColumn("text", udf(F.col(html_col)))


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization of lowercased text, empty tokens dropped.

    Deliberately simple so the DuckDB oracle (string_split on ' ') matches
    byte-for-byte; richer tokenizers can be layered on later without touching
    the index code.
    """
    return F.filter(F.split(F.lower(text), " "), lambda t: t != F.lit(""))


def tokenize(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add ``tokens ARRAY<STRING>`` and ``dl INT`` (doc length)."""
    toks = tokens_col(F.col(text_col))
    return docs.withColumn("tokens", toks).withColumn("dl", F.size("tokens"))


def term_frequencies(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode tokenized docs to ``(doc_id, dl, term, tf)``.

    One shuffle on (doc_id, term); map-side combine applies (hash aggregate).
    """
    return (
        docs.select(id_col, "dl", F.explode("tokens").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def bm25_weights(
    tf_df: DataFrame,
    vocab: DataFrame,
    n_docs: int,
    avgdl: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Join term stats onto (doc,term,tf) rows and compute BM25 weights.

    ``vocab`` carries (term, term_id, df).  The join is on ``term``; Catalyst
    broadcasts when vocab is small, otherwise AQE picks sort-merge — at
    10^12-doc scale vocab is large and the join shuffles on term, which is
    also the downstream postings partitioning key (co-located).
    Returns ``(doc_id, term_id, weight DOUBLE)``.
    """
    # greatest(·, 0) is a no-op whenever df <= n_docs (always true when the
    # vocab comes from this corpus, so the DuckDB oracle needs no clamp);
    # it only engages on the shared-vocab path (index.build(vocab=...)),
    # where the supplied vocab's df can exceed THIS corpus's n_docs and the
    # raw idf would go negative — negative stored weights would violate the
    # non-negativity the block-max/summary pruning bounds assume.
    idf = F.greatest(
        F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        F.lit(0.0),
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(float(avgdl)))
    w = idf * tf * F.lit(K1 + 1.0) / norm
    return tf_df.join(vocab, "term").select(
        F.col(id_col), F.col("term_id"), w.alias("weight")
    )


def value_round_trip_col(
    weights_df: DataFrame,
    value_type: str,
    scale_max: float | None = None,
    col: str = "weight",
) -> DataFrame:
    """Apply the configured value-storage round-trip to a weight column —
    the P5 value-type matrix (build_inverted_index.rs:246-291,
    TomlInstructions.md:79-103): f64 (none), f32, f16 (default in the
    reference), bf16, fixedu8, fixedu16.  Fixed-point types scale their
    Q-grid by the corpus-wide max weight, ``scale_max``; when it is not
    given, one aggregate over ``col`` computes it here."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    from seismic_spark import codec

    if value_type in ("f64", "none", None):
        return weights_df
    if value_type in ("fixedu8", "fixedu16") and scale_max is None:
        scale_max = float(weights_df.agg(F.max(col)).collect()[0][0] or 0.0)

    @pandas_udf(DoubleType())
    def rt(w: pd.Series) -> pd.Series:
        v = w.to_numpy(dtype=np.float64)
        if value_type == "f16":
            out = v.astype(np.float16).astype(np.float64)
        elif value_type == "f32":
            out = v.astype(np.float32).astype(np.float64)
        elif value_type == "bf16":
            out = codec.bf16_round_trip(v)
        elif value_type == "fixedu8":
            out = codec.fixed_round_trip(v, 8, scale_max)
        elif value_type == "fixedu16":
            out = codec.fixed_round_trip(v, 16, scale_max)
        else:
            raise ValueError(f"unknown value_type {value_type!r}")
        return pd.Series(out)

    return weights_df.withColumn(col, rt(F.col(col)))


def corpus_stats(docs: DataFrame) -> tuple[int, float]:
    """(N, avgdl) in one aggregation job."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)
