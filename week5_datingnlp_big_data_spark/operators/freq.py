"""Word-frequency analytics: counts, rankings, top-k, distinctive-word sets.

Reference EP-3 (Week5_datingNLP.R:258–286): per-sex word frequency tables
(A5), sort-desc (T1), top-k slice (T2), setdiff of top-500 lists (T3), and
the *intended* semantics of the banned-word column drop (W4 — the
reference's version is a silent no-op bug; see SURVEY.md section 2.2 P6).

Scale notes: ``explode → groupBy(word)`` is the canonical distributed word
count — partial (map-side) aggregation absorbs the Zipf head before the
shuffle, and the final ``orderBy+limit`` plans as TakeOrderedAndProject
(no global sort materialization). At 100 TB the only heavy exchange is the
single hash shuffle on ``word``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from week5_datingnlp_big_data_spark.functions.text import split_raw, tokenize


def explode_words(docs: DataFrame, text_col: str = "text", *, raw: bool = True) -> DataFrame:
    """A5 step 1 — one row per word occurrence.

    ``raw=True`` reproduces the reference's ``str_split(" ")`` (keeps ""
    tokens, R:259); ``raw=False`` uses the engine tokenizer."""
    from week5_datingnlp_big_data_spark.operators.corpus import explode_tokens

    words = split_raw(text_col) if raw else tokenize(text_col)
    return explode_tokens(docs, words, "word")


def word_counts(docs: DataFrame, text_col: str = "text", *, raw: bool = True) -> DataFrame:
    """A5+T1 — ``(word, cnt)`` ranked descending, word ascending as the
    deterministic tiebreak (the reference's ``sort`` is stable; an explicit
    tiebreak keeps top-k reproducible under parallel execution)."""
    return (
        explode_words(docs, text_col, raw=raw)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
    )


def top_k_words(docs: DataFrame, k: int, text_col: str = "text", *, raw: bool = True) -> DataFrame:
    """T2 — top-k slice; Catalyst plans TakeOrderedAndProject."""
    return word_counts(docs, text_col, raw=raw).limit(k)


def group_top_words(docs: DataFrame, group_col: str, k: int, text_col: str = "text") -> DataFrame:
    """T1+T2 for every group at once, raw-split words (R:259) —
    ``(group, word, cnt, rank)``: each group's top-k words ranked by (cnt
    desc, word asc), from ONE ``groupBy(group, word)`` count. Slice it with
    ``group_top_k`` and ``distinctive_words`` for any n ≤ k; persist it
    when several slices read it. The rank filter plans as a
    WindowGroupLimit ahead of the window's shuffle (k within Spark's
    ``windowGroupLimitThreshold``), so each task ships at most k rows per
    group."""
    from week5_datingnlp_big_data_spark.operators.corpus import explode_tokens

    w = Window.partitionBy(group_col).orderBy(F.desc("cnt"), F.asc("word"))
    return (
        explode_tokens(docs, split_raw(text_col), "word", group_col)
        .groupBy(group_col, "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _in_top(group_col: str, group: str, k: int) -> Column:
    return (F.col(group_col) == group) & (F.col("rank") <= k)


def group_top_k(ranks: DataFrame, group_col: str, group: str, k: int) -> DataFrame:
    """T2 — one group's ``top_k_words(k)`` as ``(word, cnt)``, ranked, from
    a ``group_top_words`` frame ranked to at least k; plans as
    TakeOrderedAndProject."""
    return ranks.filter(_in_top(group_col, group, k)).orderBy("rank").limit(k).select("word", "cnt")


def distinctive_words(
    ranks: DataFrame, group_col: str, group_a: str, group_b: str, k: int = 500
) -> DataFrame:
    """T3 — words in group A's top-k absent from group B's top-k
    (reference ``setdiff(male.words[1:500], female.words[1:500])``,
    R:278–280), as ``(word, cnt)`` in A's rank order, from a
    ``group_top_words`` frame ranked to at least k. Both sides are ≤ k
    rows, so the anti-join broadcasts."""
    b_words = F.broadcast(ranks.filter(_in_top(group_col, group_b, k)).select("word"))
    return group_top_k(ranks.join(b_words, "word", "left_anti"), group_col, group_a, k)


def remove_banned_terms(counts: DataFrame, banned: DataFrame, term_col: str = "term") -> DataFrame:
    """W4 intended semantics — drop rows whose term is in the banned set
    via broadcast anti-join (the reference's data.frame ``%in%`` matched
    nothing, R:284–286; we implement what was meant)."""
    return counts.join(F.broadcast(banned.select(term_col)), term_col, "left_anti")
