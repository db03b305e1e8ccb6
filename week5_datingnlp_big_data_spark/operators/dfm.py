"""Document-feature matrix (DFM) in canonical long form, plus trim/sparsity.

Reference A1–A3 (Week5_datingNLP.R:92–105): quanteda ``dfm()`` builds a
59,946 × 153,385 sparse count matrix; ``dfm_trim(min_docfreq=25,
min_termfreq=35)`` drops 91.6 % of features. The reference then densifies
to 6.17 GB (its W2 anti-pattern); this engine NEVER densifies — the long
``(doc_id, term, count)`` DataFrame is the canonical representation
(SURVEY.md section 1), and a ``CountVectorizer`` SparseVector view exists
only at the MLlib boundary (ml.py).

Scale: one hash shuffle on (doc_id, term) for A1 with map-side partial
counts; the A3 trim is a term-level aggregate + semi-join, so the
doc×term table is filtered without a second full shuffle of the big side.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def doc_term_counts(tokenized: DataFrame, doc_col: str = "doc_id", tokens_col: str = "tokens") -> DataFrame:
    """A1 — bag-of-words long form: ``(doc_id, term, count)``.

    Explodes via ``corpus.explode_tokens`` (explode_outer + null filter)
    so the tokenize expression is evaluated once, not re-run inside
    Catalyst's implicit ``size(tokens) > 0`` pre-Generate filter."""
    from week5_datingnlp_big_data_spark.operators.corpus import explode_tokens

    return (
        explode_tokens(tokenized, tokens_col, "term", doc_col)
        .groupBy(doc_col, "term")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def stem_counts(counts: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """Stem the long-form DFM by stemming DISTINCT terms only, then
    re-aggregating — for bag-of-words semantics this is exactly equivalent
    to stemming every token occurrence, but the Python stemmer touches
    |vocab| rows (~10⁵) instead of every token (~10⁷): the Zipf-aware
    formulation of reference operator N3.

    One tiny pandas-UDF pass over the distinct vocabulary, a hash-keyed
    join, and a re-aggregation on (doc, stem) — all the heavy lifting
    stays JVM-side. Use ``functions.stemmer.stem_tokens`` instead when
    ordered token streams are needed (N5 inspection).

    The stemmer is marked nondeterministic for the optimizer only: a
    caller's filter on the stemmed term (the post-stem length filter)
    would otherwise be pushed through the join and the ``distinct`` into
    the UDF's input, and inferred onto the probe side through the join
    key, so the UDF ran on every token row twice instead of once per
    distinct term."""
    from week5_datingnlp_big_data_spark.functions.stemmer import stem_one_udf

    stem = stem_one_udf().asNondeterministic()
    vocab_stems = counts.select("term").distinct().withColumn("stem", stem("term"))
    return (
        counts.join(vocab_stems, "term")
        .groupBy(doc_col, F.col("stem").alias("term"))
        .agg(F.sum("count").alias("count"))
    )


def term_stats(counts: DataFrame) -> DataFrame:
    """Per-term doc-frequency + total term-frequency — the A3/A8 building
    block: ``(term, df, tf)``."""
    return counts.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),          # rows are distinct (doc,term)
        F.sum("count").alias("tf"),
    )


def trim_vocabulary(
    counts: DataFrame,
    min_docfreq: int = 25,
    min_termfreq: int = 35,
) -> DataFrame:
    """A3 — keep terms with doc-freq ≥ min_docfreq AND total term-freq ≥
    min_termfreq (quanteda ``dfm_trim`` drops a term failing either bound;
    reference R:105 removed 140,528 of 153,385 features).

    The kept-vocab side is small post-trim (12.8k terms for the reference
    corpus) → semi-join with no forced broadcast: the surviving vocabulary
    still grows with the corpus, so AQE picks broadcast only when the
    measured size permits."""
    kept = term_stats(counts).filter(
        (F.col("df") >= min_docfreq) & (F.col("tf") >= min_termfreq)
    )
    return counts.join(kept.select("term"), "term", "left_semi")


def sparsity(counts: DataFrame, n_docs: int | None = None, n_terms: int | None = None) -> float:
    """A2 — 1 − nnz / (n_docs × n_terms). Reference golden: 0.9990 raw,
    0.9886 trimmed (out.txt:1). One aggregate pass; dims computed from the
    long form when not supplied."""
    agg = counts.agg(
        F.count(F.lit(1)).alias("nnz"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("term").alias("n_terms"),
    ).first()
    nd = n_docs if n_docs is not None else agg["n_docs"]
    nt = n_terms if n_terms is not None else agg["n_terms"]
    if nd == 0 or nt == 0:
        return 0.0
    return 1.0 - agg["nnz"] / (nd * nt)
